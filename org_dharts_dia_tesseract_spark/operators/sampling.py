"""Deterministic corpus sampling for training-data curation.

`DataFrame.sample`/`sampleBy` draw from a seeded RNG whose stream
depends on partitioning and Spark version — rerunning a 10^12-doc
curation job after a resume or an upgrade silently changes the sample.
These operators instead derive a uniform in [0, 1) from a salted md5
of the row's OWN id (the portable-hash trick of queries.py:13), so the
keep/drop decision is a pure function of (salt, id): reproducible
across runs, partitionings, engines, and cluster sizes, exactly
expressible in ANSI SQL, and executed as a narrow whole-stage-codegen
filter — zero shuffles, zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one md5 hex chunk = 32 uniform bits; /2^32 is exact in a double
_U32 = float(1 << 32)


def hash_uniform(col: Column, salt: str = "") -> Column:
    """Deterministic uniform in [0, 1) from a salted md5 of `col`.
    SQL twin: CAST('0x' || substr(md5('<salt>:' || CAST(x AS VARCHAR)),
    1, 8) AS BIGINT) / 4294967296.0 — bit-identical doubles (integer
    numerator < 2^32, power-of-two denominator). `salt` may not contain
    ':', or (salt='a:b', id='c') and (salt='a', id='b:c') would collide."""
    if ":" in salt:
        raise ValueError(f"salt must not contain ':', got {salt!r}")
    h = F.md5(F.concat(F.lit(f"{salt}:"), col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
            / F.lit(_U32))


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id",
                salt: str = "") -> DataFrame:
    """Keep a deterministic `rate` fraction of rows by id. Different
    `salt` values draw independent samples (md5 chunks of distinct
    salted inputs are independent), so repeated draws for train/val
    splits don't correlate."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.where(hash_uniform(F.col(id_col), salt) < F.lit(rate))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_col: str = "source",
                      id_col: str = "doc_id", default_rate: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing
    primitive (e.g. keep 50% of a high-quality source, 5% of a noisy
    crawl). `rates` maps stratum value -> keep fraction; strata not
    listed keep `default_rate`. The whole decision is one codegen CASE
    over the salted id hash: no shuffle, no join, and the kept set for
    any stratum is independent of every other stratum's rate."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for stratum {k!r} must be in "
                             f"[0, 1], got {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], "
                         f"got {default_rate}")
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))) \
                .otherwise(rate)
    return df.where(hash_uniform(F.col(id_col), salt) < rate)
