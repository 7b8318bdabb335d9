"""SparkSession factory with the engine's scale-oriented defaults.

Settings follow SURVEY section 4.3 / BASELINE.json north_star: AQE on
(shuffle coalescing + skew-join splitting), Arrow enabled with small
record batches (pages are fat rows — a batch of rasters must fit executor
memory), and a shuffle-partition count sized for the local test rig but
overridable for cluster runs via normal spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 64   # raster rows are ~5-50 KB; keep batches modest


def get_spark(master: str | None = None, app_name: str = "dia-engine",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") \
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # local[N] -> N; cluster masters fall back to 2x default parallelism
        n = master.split("[")[-1].rstrip("]") if "[" in master else "64"
        shuffle_partitions = 64 if n == "*" else max(int(n), 8)
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        # raster payload rows are fat (KBs-MBs): the default 4096-row
        # vectorized reader batch needs one contiguous multi-MB buffer per
        # column and fails under fragmentation; small batches keep scans of
        # media tables memory-safe at any page size
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # fat-binary scans: smaller split target + high file-open cost
        # keep task counts high (small-file packing would otherwise
        # coalesce the media scan down to a handful of partitions and cap
        # the OCR stage's parallelism)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "8m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # one BLAS thread per Python worker: task-level parallelism is Spark's
    # job; nested BLAS threading oversubscribes cores once N workers run
    # numpy kernels concurrently (quadratic thread count at local[32])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", "1")
        # local mode: Python workers fork from this process, so the
        # driver env (not executorEnv) is what they inherit
        os.environ.setdefault(var, "1")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of the
    driver's cwd — the programmatic equivalent of
    `spark-submit --py-files pkg.zip` (BASELINE.json north_star deploy
    mode). Zips once per process, cached; adds the zip once per context
    (a repeated `addPyFile` would append it to every task's includes
    and to the driver's `sys.path` again)."""
    global _PKG_ZIP
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if _PKG_ZIP is None:
        import tempfile
        import zipfile
        fd, path = tempfile.mkstemp(prefix="dia_pkg_", suffix=".zip")
        os.close(fd)
        base = os.path.basename(pkg_dir)
        with zipfile.ZipFile(path, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(base, os.path.relpath(full, pkg_dir))
                        z.write(full, rel)
        _PKG_ZIP = path
    sc = spark.sparkContext
    name = os.path.basename(_PKG_ZIP)
    if not any(f.rsplit("/", 1)[-1] == name for f in sc.listFiles):
        sc.addPyFile(_PKG_ZIP)


_PKG_ZIP: str | None = None
