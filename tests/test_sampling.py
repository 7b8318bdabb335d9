"""Deterministic sampling (operators/sampling.py): partitioning
independence (the property sample()/sampleBy() lack), salt
independence, per-stratum rate isolation, and validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from org_dharts_dia_tesseract_spark.operators.sampling import (
    hash_sample, hash_uniform, stratified_sample)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"src{i % 5}") for i in range(2000)]
    return spark.createDataFrame(rows, "doc_id bigint, source string")


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


class TestHashSample:
    def test_partitioning_invariant(self, spark, corpus):
        """The kept set is a pure function of (salt, id) — identical
        under any repartitioning, unlike DataFrame.sample."""
        a = _ids(hash_sample(corpus.repartition(17), 0.3))
        b = _ids(hash_sample(corpus.coalesce(1), 0.3))
        assert a == b and 0 < len(a) < 2000

    def test_rate_monotone_nested(self, spark, corpus):
        """A lower rate keeps a SUBSET of a higher rate's rows (same
        salt) — lets a pipeline tighten its sample without churn."""
        small, big = _ids(hash_sample(corpus, 0.1)), \
            _ids(hash_sample(corpus, 0.4))
        assert small < big

    def test_salts_draw_independent_samples(self, spark, corpus):
        a, b = _ids(hash_sample(corpus, 0.3, salt="train")), \
            _ids(hash_sample(corpus, 0.3, salt="val"))
        assert a != b
        # independent draws overlap near rate^2, not near rate
        assert len(a & b) < len(a) * 0.6

    def test_rate_bounds(self, spark, corpus):
        assert len(_ids(hash_sample(corpus, 0.0))) == 0
        assert len(_ids(hash_sample(corpus, 1.0))) == 2000
        with pytest.raises(ValueError):
            hash_sample(corpus, 1.5)

    def test_salt_with_colon_rejected(self, spark, corpus):
        """'<salt>:<id>' is the hashed string, so a ':' in the salt would
        let (salt='a:b', id='c') and (salt='a', id='b:c') collide."""
        with pytest.raises(ValueError):
            hash_uniform(F.col("doc_id"), "a:b")
        with pytest.raises(ValueError):
            hash_sample(corpus, 0.5, salt="train:1")
        with pytest.raises(ValueError):
            stratified_sample(corpus, {"src0": 0.5}, salt=":")


class TestStratified:
    def test_rates_apply_per_stratum(self, spark, corpus):
        out = stratified_sample(
            corpus, {"src0": 1.0, "src1": 0.0}, default_rate=0.5)
        got = {r["source"]: r["n"] for r in
               out.groupBy("source").agg(F.count("*").alias("n"))
               .collect()}
        assert got["src0"] == 400 and "src1" not in got
        for s in ("src2", "src3", "src4"):
            assert 100 < got[s] < 300       # ~200 of 400 at 0.5

    def test_stratum_rate_isolation(self, spark, corpus):
        """Changing one stratum's rate never changes another stratum's
        kept set (the uniform depends only on the id)."""
        a = stratified_sample(corpus, {"src0": 0.9}, default_rate=0.3)
        b = stratified_sample(corpus, {"src0": 0.1}, default_rate=0.3)
        a_rest = _ids(a.where(F.col("source") != "src0"))
        b_rest = _ids(b.where(F.col("source") != "src0"))
        assert a_rest == b_rest

    def test_validates_rates(self, spark, corpus):
        with pytest.raises(ValueError):
            stratified_sample(corpus, {"src0": -0.1})
        with pytest.raises(ValueError):
            stratified_sample(corpus, {}, default_rate=2.0)

    def test_plan_is_narrow(self, spark, corpus):
        plan = (stratified_sample(corpus, {"src0": 0.5},
                                  default_rate=0.1)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan and "Join" not in plan
