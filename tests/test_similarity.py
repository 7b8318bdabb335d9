"""The shared nearest-neighbour ranking contract: every top-k operator
returns (q_id, vec_id, <score>, rk:int), ranks exact score ties by
vec_id ascending wherever a tied vector sits in its Arrow batch, and
skips zero-norm vectors instead of dividing by zero."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from org_dharts_dia_tesseract_spark.operators import similarity as S

_TWINS = (3, 70, 140, 193)          # four bit-identical vectors


def _tie_corpus(spark):
    """195 vectors in one partition, so with the session's 64-row Arrow
    batches the last batch holds only the final three rows: twins 70
    and 193 sit there, twins 3 and 140 sit in full batches. The twins
    are scaled up so that they also lead under the inner-product (ADC)
    scores."""
    rng = np.random.default_rng(4)
    X = rng.normal(size=(195, 16)).astype(np.float32)
    X[list(_TWINS)] = 3 * X[_TWINS[0]]
    order = [i for i in range(195) if i not in (70, 193, 194)]
    rows = [(i, [float(x) for x in X[i]]) for i in order + [70, 194, 193]]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>").coalesce(1)


def _ivf_indexed(spark, emb, qs, k, path):
    S.ivf_write_index(emb, path, n_lists=8)
    return S.ivf_topk_indexed(spark, path, qs, k=k, nprobe=8)


def _ivfpq_indexed(spark, emb, qs, k, path):
    S.ivfpq_write_index(emb, path, n_lists=8, m=8, ks=16)
    return S.ivfpq_topk_indexed(spark, path, qs, k=k, nprobe=8)


_OPERATORS = {
    "brute_force_topk": ("cosine", lambda spark, emb, qs, k, path:
                         S.brute_force_topk(emb, qs, k=k)),
    "lsh_topk": ("cosine", lambda spark, emb, qs, k, path:
                 S.lsh_topk(emb, qs, k=k, n_planes=4)),
    "ivf_topk": ("cosine", lambda spark, emb, qs, k, path:
                 S.ivf_topk(emb, qs, k=k, n_lists=8, nprobe=8)),
    "ivf_topk_indexed": ("cosine", _ivf_indexed),
    "pq_topk_adc": ("adc_ip", lambda spark, emb, qs, k, path:
                    S.pq_topk_adc(emb, qs, k=k, m=8, ks=16)),
    "ivfpq_topk": ("adc_ip", lambda spark, emb, qs, k, path:
                   S.ivfpq_topk(emb, qs, k=k, n_lists=8, nprobe=8)),
    "ivfpq_topk_indexed": ("adc_ip", _ivfpq_indexed),
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_topk_ties_rank_by_id(spark, tmp_path, name):
    """Query 3 has three exact twins: each operator must score them
    identically, so rk 1..3 are 70, 140, 193 in id order. An IVF-PQ
    score computed as a per-row matrix product rounds differently for
    the rows of a short batch, which splits the tie."""
    score, run = _OPERATORS[name]
    emb = _tie_corpus(spark)
    qs = emb.where(F.col("vec_id") == _TWINS[0]).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    df = run(spark, emb, qs, 3, str(tmp_path / "index"))
    assert df.dtypes == [
        ("q_id", "bigint"), ("vec_id", "bigint"), (score, "double"),
        ("rk", "int")]
    got = sorted((r["rk"], r["vec_id"], r[score]) for r in df.collect())
    assert [(rk, v) for rk, v, _ in got] == [(1, 70), (2, 140), (3, 193)]
    assert len({s for _, _, s in got}) == 1


def test_similarity_topk_cosine_zero_vector(spark, tmp_path):
    """A zero-norm embedding has no direction: the query skips it like
    `brute_force_topk` does, instead of raising DIVIDE_BY_ZERO under
    ANSI."""
    from org_dharts_dia_tesseract_spark.queries import spark_queries
    rng = np.random.default_rng(9)
    rows = [(i, [0.0] * 8 if i == 7 else
             [float(x) for x in rng.normal(size=8).astype(np.float32)], 0)
            for i in range(20)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int") \
        .write.parquet(str(tmp_path / "embeddings.parquet"))
    got = spark_queries()["similarity_topk_cosine"](
        spark, str(tmp_path)).collect()
    assert len(got) == 25
    assert 7 not in {r["vec_id"] for r in got}
    assert {r["q_id"] for r in got} == {0, 1, 2, 3, 4}
