"""spark-submit entry point for the flagship extraction pipeline.

The north-rule deploy mode (BASELINE.json: "run via spark-submit
--py-files on a multi-executor cluster"): this script carries NO master
or executor settings — spark-submit owns cluster topology; the script
only declares the job. The package arrives on driver + executors via
--py-files.

    /opt/spark/bin/spark-submit --master local[4] \
        --conf spark.ui.enabled=false \
        --py-files /path/dia_pkg.zip \
        scripts/submit_extract.py \
        --gen-docs 200 --output /tmp/run1 --buckets 8

Re-running with the same --output resumes: buckets with a DONE manifest
are skipped (per-partition lineage + metrics live in
<output>/manifests/bucket-*.json).

Input is either a deterministic generated corpus (--gen-docs N) or
existing parquet tables (--docs/--media). Prints ONE JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def build_session() -> SparkSession:
    """Engine confs only — no master, no memory: those belong to
    spark-submit. A `--conf` given on the spark-submit command line wins
    over these defaults (SparkConf() sees the submitted properties)."""
    from pyspark import SparkConf
    submitted = SparkConf()
    b = SparkSession.builder.appName("dia-extract")
    defaults = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
        "spark.sql.parquet.columnarReaderBatchSize": "256",
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "8m",
    }
    for k, v in defaults.items():
        if not submitted.contains(k):
            b = b.config(k, v)
    return b.getOrCreate()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--gen-docs", type=int,
                     help="generate a deterministic N-doc corpus")
    src.add_argument("--docs", help="documents parquet path")
    ap.add_argument("--media", help="media parquet path (with --docs)")
    ap.add_argument("--output", required=True,
                    help="checkpointed output root (data/ + manifests/)")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--page-timeout-ms", type=int, default=None,
                    help="soft per-page decode+analyze budget; over-budget "
                         "pages dead-letter as kind='error' spans "
                         "(TessAPI timeout_millisec analog)")
    args = ap.parse_args(argv)

    spark = build_session()
    from org_dharts_dia_tesseract_spark.sources import corpus_tables
    from org_dharts_dia_tesseract_spark.sources.checkpoint import (
        metrics, run_checkpointed)

    if args.gen_docs is not None:
        documents, media = corpus_tables(spark, args.gen_docs)
    else:
        if not args.media:
            ap.error("--media is required with --docs")
        documents = spark.read.parquet(args.docs)
        media = spark.read.parquet(args.media)

    t0 = time.time()
    summary = run_checkpointed(spark, documents, media, args.output,
                               n_buckets=args.buckets,
                               page_timeout_ms=args.page_timeout_ms)
    wall_ms = int((time.time() - t0) * 1000)
    ms = metrics(args.output)
    out = {
        "processed": summary["processed"],
        "skipped": summary["skipped"],
        "failed": summary["failed"],
        "n_spans": sum(m.get("n_spans", 0) for m in ms
                       if m.get("status") == "DONE"),
        "wall_ms": wall_ms,
    }
    print(json.dumps(out))
    spark.stop()
    return 1 if summary["failed"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
