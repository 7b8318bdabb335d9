"""Checkpointed, resumable extraction runs: per-bucket manifests with
lineage + metrics (BASELINE.json north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Layout (Iceberg-style data/manifests split; plain parquet + JSON because
the sandbox ships no Iceberg runtime — the table API below is the seam
where an Iceberg catalog would slot in):

    <root>/data/bucket=<k>/*.parquet      span rows of doc-bucket k
    <root>/manifests/bucket-<k>.json      {bucket, n_buckets, status,
                                           n_docs, n_spans, n_error_spans,
                                           wall_ms, attempt, lineage_id,
                                           written_at}

Buckets are `pmod(xxhash64(doc_id), n_buckets)` — stable under any
cluster size, so a resume after failure processes exactly the missing
buckets (anti-join of bucket ids against DONE manifests). A run writes
all of its pending buckets with ONE `partitionBy("bucket")` write under
dynamic partition overwrite, so a resume replaces only its own
partitions; the per-bucket span counts are observed on that same write.
Content is a pure function of doc_id (deterministic kernels, SURVEY
4.3), so resumed output is bit-identical to a single run.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def _manifest_path(root: str, bucket: int) -> str:
    return os.path.join(root, "manifests", f"bucket-{bucket}.json")


def _write_json(path: str, obj: dict) -> None:
    """Atomic commit: a reader sees the old file or the new one."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def run_checkpointed(spark: SparkSession, documents: DataFrame,
                     media: DataFrame, root: str, n_buckets: int = 16,
                     fail_buckets: set[int] | None = None,
                     audit: bool = True,
                     on_error: str = "dead-letter",
                     page_timeout_ms: int | None = None) -> dict:
    """Run span extraction with per-bucket manifests; skips buckets
    already DONE (resume).

    The pending buckets are extracted and written by ONE Spark write;
    each bucket's manifest is committed (atomic rename) only after that
    write commits, with its n_spans / n_error_spans observed on the
    write itself and `wall_ms` = the run's write time. The failure unit
    is the run: an exception from the write records every pending
    bucket FAILED, and the next call retries them. `fail_buckets`
    injects failures for tests: those buckets are recorded FAILED
    without running. A root is bucketed once: a call whose `n_buckets`
    differs from the one in the root's manifests raises ValueError
    (resuming under another bucketing would silently drop documents).
    `audit` records dangling media_refs (image spans whose media row is
    missing — silently unprocessable) in manifests/_audit.json.
    `on_error` defaults to 'dead-letter': a corrupt page becomes an
    in-band kind='error' span (counted per bucket in the manifest)
    instead of failing the run on every resume.
    `page_timeout_ms` bounds each page's decode+analyze (soft SIGALRM
    deadline, the TessAPI.java:464-481 timeout_millisec analog); an
    over-budget page dead-letters as a kind='error' span counted in the
    bucket manifest instead of stalling the task.

    Returns a summary dict {processed, skipped, failed}.
    """
    from ..operators.extract import audit_dangling_media, extract_spans

    prior = {m["bucket"]: m for m in metrics(root)}
    other = {m.get("n_buckets", n_buckets)
             for m in prior.values()} - {n_buckets}
    if other:
        raise ValueError(f"{root} holds manifests for n_buckets="
                         f"{sorted(other)}; resume it with that, not "
                         f"{n_buckets}")
    os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
    if audit:
        dangling = audit_dangling_media(documents, media)
        sample = [r.asDict() for r in dangling.limit(20).collect()]
        _write_json(os.path.join(root, "manifests", "_audit.json"),
                    {"n_dangling_media_refs": dangling.count(),
                     "sample": sample, "written_at": int(time.time())})
    already = {b for b, m in prior.items() if m["status"] == "DONE"}
    todo = [b for b in range(n_buckets) if b not in already]
    errors = {b: f"injected failure in bucket {b}"
              for b in todo if b in (fail_buckets or ())}
    pending = [b for b in todo if b not in errors]
    counts, n_docs, wall_ms = {}, {}, 0
    if pending:
        bucket = bucket_of(F.col("doc_id"), n_buckets)
        # ONE job for every bucket's doc count
        n_docs = {r["bucket"]: r["count"] for r in
                  documents.groupBy(bucket.alias("bucket")).count().collect()}
        t0 = time.time()
        try:
            is_err, per_bucket = F.col("kind") == "error", []
            for b in pending:
                in_b = F.col("bucket") == b
                per_bucket += [F.count_if(in_b).alias(f"spans_{b}"),
                               F.count_if(in_b & is_err).alias(f"errors_{b}")]
            obs = Observation()
            spans = (extract_spans(documents.where(bucket.isin(pending)),
                                   media, on_error=on_error,
                                   page_timeout_ms=page_timeout_ms)
                     .withColumn("bucket", bucket)
                     .observe(obs, *per_bucket))
            (spans.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(os.path.join(root, "data")))
            counts = obs.get
        except Exception as e:   # noqa: BLE001 — the manifests record it
            errors.update({b: str(e)[:500] for b in pending})
        wall_ms = int((time.time() - t0) * 1000)
    lineage_id = uuid.uuid4().hex
    for b in todo:
        if b in errors:
            result = {"status": "FAILED", "error": errors[b],
                      "wall_ms": wall_ms if b in pending else 0}
        else:
            result = {"status": "DONE", "n_docs": n_docs.get(b, 0),
                      "n_spans": counts[f"spans_{b}"],
                      "n_error_spans": counts[f"errors_{b}"],
                      "wall_ms": wall_ms}
        _write_json(_manifest_path(root, b), {
            "bucket": b, **result,
            "attempt": prior.get(b, {}).get("attempt", 0) + 1,
            "lineage_id": lineage_id, "written_at": int(time.time()),
            "n_buckets": n_buckets})
    return {"processed": [b for b in todo if b not in errors],
            "skipped": sorted(already), "failed": sorted(errors)}


def read_output(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "data"))


def metrics(root: str) -> list[dict]:
    """All per-bucket manifests (the per-partition metrics surface)."""
    mdir = os.path.join(root, "manifests")
    out = []
    for name in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
        if name.startswith("bucket-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out


def audit(root: str) -> dict | None:
    """The run-level data-quality audit (dangling media_refs), if any."""
    apath = os.path.join(root, "manifests", "_audit.json")
    if not os.path.exists(apath):
        return None
    with open(apath) as f:
        return json.load(f)
