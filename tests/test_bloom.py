"""Bloom-filter incremental dedup (operators/dedup.py:bloom_build /
bloom_filter_novel): membership invariants, false-positive semantics
against a position-set twin, null handling, OR-tree fan-in, and the
no-join/no-shuffle plan shape of the filter side."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from org_dharts_dia_tesseract_spark.operators.dedup import (
    bloom_build, bloom_filter_novel, bloom_hash_positions)

M = 2048
K = 4


def _positions(text: str, m: int = M, k: int = K) -> list[int]:
    """Python twin of bloom_hash_positions (md5 hex -> k 32-bit chunks)."""
    h = hashlib.md5(text.encode()).hexdigest()
    return [int(h[8 * j:8 * j + 8], 16) % m for j in range(k)]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"ingested document number {i}") for i in range(200)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestBloomBuild:
    def test_every_built_value_is_screened(self, spark, corpus):
        bloom = bloom_build(corpus, m_bits=M)
        out = bloom_filter_novel(corpus, bloom, m_bits=M)
        assert out.count() == 0          # no false negatives, ever

    def test_matches_position_set_twin(self, spark, corpus):
        """Spark bitmap == python position set: a probe value is screened
        iff ALL its twin positions were set by some ingested text."""
        bloom = bloom_build(corpus, m_bits=M)
        set_pos = set()
        for i in range(200):
            set_pos.update(_positions(f"ingested document number {i}"))
        probes = [(i, f"probe value {i}") for i in range(300)]
        expect_novel = {i for i, t in probes
                        if not all(p in set_pos for p in _positions(t))}
        new = spark.createDataFrame(probes, "doc_id bigint, text string")
        got = {r["doc_id"] for r in
               bloom_filter_novel(new, bloom, m_bits=M).collect()}
        assert got == expect_novel
        assert expect_novel != set(i for i, _ in probes), \
            "tiny m must force at least one false positive"

    def test_fanin_or_tree_equivalent(self, spark, corpus):
        """Partial-bitmap OR groups (fanin) never change the result."""
        assert (bloom_build(corpus.repartition(16), m_bits=M, fanin=3)
                == bloom_build(corpus.coalesce(1), m_bits=M, fanin=64))

    def test_null_values_skipped_and_pass_through(self, spark):
        df = spark.createDataFrame(
            [(0, "x"), (1, None)], "doc_id bigint, text string")
        bloom = bloom_build(df, m_bits=M)
        out = bloom_filter_novel(df, bloom, m_bits=M)
        assert [r["doc_id"] for r in out.collect()] == [1]

    def test_rejects_bad_params(self, spark, corpus):
        with pytest.raises(ValueError):
            bloom_hash_positions(F.col("text"), M, k=5)
        with pytest.raises(ValueError):
            bloom_hash_positions(F.col("text"), 12, k=4)   # not mult of 8
        with pytest.raises(ValueError):
            bloom_filter_novel(corpus, b"\x00" * 10, m_bits=M)

    def test_m_bits_capped_at_int32_range(self, spark, corpus):
        """Positions are cast to int32: m_bits past 2^31 would wrap them
        negative, so it is rejected; 2^31 itself stays non-negative."""
        with pytest.raises(ValueError):
            bloom_hash_positions(F.col("text"), (1 << 31) + 8)
        m = 1 << 31
        rows = corpus.select("text", *bloom_hash_positions(
            F.col("text"), m)).limit(20).collect()
        for r in rows:
            assert [r[f"_bp{j}"] for j in range(K)] == _positions(r["text"], m)


class TestBloomPlan:
    def test_filter_side_no_join_no_exchange(self, spark, corpus):
        """The whole point at 10^12 ingested docs: screening the new
        batch is ONE narrow stage — no join against the archive, no
        shuffle; the archive rides along as m_bits/8 closure bytes."""
        bloom = bloom_build(corpus, m_bits=M)
        plan = (bloom_filter_novel(corpus, bloom, m_bits=M)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Join" not in plan
        assert "Exchange" not in plan
