"""Sources: driver parquet tables + distributed interleaved-corpus build.

The corpus build is the Spark-native analog of the reference's image I/O
layer (S1-S5, tess4j/ImageIOHelper.java): instead of decoding files on one
thread, page *rendering* (the stand-in for decode at 10^12-doc scale)
distributes over media_refs — documents (cheap span structs) and media
(heavy rasters) are generated by two independent `mapInPandas` stages, so
the fat work partitions by page, never by document (skew-tail docs with
128 images do not serialize onto one task).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ])), False),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("bands", T.IntegerType(), False),
    T.StructField("dpi", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), False),
])

TESTDATA_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver-generated parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _numbered_refs(spark: SparkSession, n: int, fmt: str,
                   name: str) -> DataFrame:
    """refs 0..n-1 formatted by `fmt` into one column `name`."""
    return spark.range(n).select(
        F.format_string(fmt, F.col("id")).alias(name))


def _rows_for(refs: DataFrame, parts: int, row_for: str,
              schema: T.StructType) -> DataFrame:
    """Repartition the one-column `refs` on it into `parts`, then map each
    ref to one `schema` row with `datagen.<row_for>` (looked up inside
    the task)."""
    ref = refs.columns[0]
    names = [f.name for f in schema]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import datagen
        row = getattr(datagen, row_for)
        for pdf in batches:
            yield pd.DataFrame([row(r) for r in pdf[ref]], columns=names)

    return refs.repartition(parts, ref).mapInPandas(gen, schema)


def corpus_tables(spark: SparkSession, n_docs: int,
                  partitions: int | None = None) -> tuple[DataFrame, DataFrame]:
    """Build the interleaved (documents, media) pair distributed.

    Deterministic: content is a pure function of doc_id / media_ref
    (datagen seeds), so any partition can be regenerated independently —
    the property that makes checkpoint-resume exact.
    """
    # File-count must NOT inherit the generating session's parallelism: a
    # corpus written by a small session would cap scan parallelism for
    # every later consumer (single-row-group fat-binary files don't
    # split). Target many small media files instead.
    parts = partitions or max(64, 2 * spark.sparkContext.defaultParallelism)
    ids = _numbered_refs(spark, n_docs, "doc-%08d", "doc_id")
    ids = ids.repartition(max(parts // 4, 8), "doc_id")

    def gen_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..datagen import doc_spans_for
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "spans": [doc_spans_for(d) for d in pdf["doc_id"]],
            })

    documents = ids.mapInPandas(gen_docs, DOCUMENTS_SCHEMA)

    refs = (documents
            .select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "image")
            .select(F.col("s.media_ref").alias("media_ref")))
    return documents, _rows_for(refs, parts, "media_row_for", MEDIA_SCHEMA)


def materialize_corpus(spark: SparkSession, out_dir: str, n_docs: int,
                       partitions: int | None = None,
                       overwrite: bool = False) -> tuple[str, str]:
    """Write the corpus to parquet once; reuse across runs (cache key =
    doc count in the path)."""
    docs_path = os.path.join(out_dir, f"documents_n{n_docs}.parquet")
    media_path = os.path.join(out_dir, f"media_n{n_docs}.parquet")
    if overwrite or not (os.path.exists(docs_path) and os.path.exists(media_path)):
        documents, media = corpus_tables(spark, n_docs, partitions)
        documents.write.mode("overwrite").parquet(docs_path)
        media.write.mode("overwrite").parquet(media_path)
    return docs_path, media_path


_MEDIA_FILE_RE = r"([^/]+)_w(\d+)_h(\d+)_b(\d+)\.bin$"


def load_media_files(spark: SparkSession, directory: str) -> DataFrame:
    """Loose-file media source via the `binaryFile` data source — the
    Spark-native analog of the reference reading image files from disk
    (S1, ImageIOHelper.java:270-327). Raster metadata travels in the
    filename (`<ref>_w<W>_h<H>_b<B>.bin`, raw row-major uint8 payload);
    with real codecs the payload would carry it and decode in the UDF.
    Returns the MEDIA_SCHEMA shape (dpi NULL -> downstream
    oracle.page.DEFAULT_PPI fallback, S5)."""
    raw = spark.read.format("binaryFile").load(
        os.path.join(directory, "*.bin"))
    path = F.col("path")
    return (raw.select(
        F.regexp_extract(path, _MEDIA_FILE_RE, 1).alias("media_ref"),
        F.regexp_extract(path, _MEDIA_FILE_RE, 2).cast("int").alias("width"),
        F.regexp_extract(path, _MEDIA_FILE_RE, 3).cast("int").alias("height"),
        F.regexp_extract(path, _MEDIA_FILE_RE, 4).cast("int").alias("bands"),
        F.lit(None).cast("int").alias("dpi"),
        F.col("content").alias("payload"))
        .where(F.col("media_ref") != ""))


def dump_media_files(media: DataFrame, directory: str) -> int:
    """Write a media table out as loose .bin files (test/export helper for
    the binaryFile source). Driver-side iteration is fine here: this is a
    fixture writer, not a pipeline stage."""
    os.makedirs(directory, exist_ok=True)
    n = 0
    for r in media.select("media_ref", "width", "height", "bands",
                          "payload").toLocalIterator():
        name = f"{r['media_ref']}_w{r['width']}_h{r['height']}_b{r['bands']}.bin"
        with open(os.path.join(directory, name), "wb") as f:
            f.write(bytes(r["payload"]))
        n += 1
    return n


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_media(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


AUDIO_SCHEMA = T.StructType([
    T.StructField("audio_ref", T.StringType(), False),
    T.StructField("sample_rate", T.IntegerType(), False),
    T.StructField("channels", T.IntegerType(), False),
    T.StructField("bits", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), False),
])


def audio_table(spark: SparkSession, n_clips: int,
                partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic audio-clip table (the task brief's audio
    tier: opaque WAV payloads + typed metadata), built distributed the
    same way as corpus_tables — content is a pure function of
    audio_ref, so any partition regenerates independently."""
    parts = partitions or max(32, spark.sparkContext.defaultParallelism)
    refs = _numbered_refs(spark, n_clips, "aud-%08d", "audio_ref")
    return _rows_for(refs, parts, "audio_row_for", AUDIO_SCHEMA)


VIDEO_SCHEMA = T.StructType([
    T.StructField("video_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("fps", T.IntegerType(), False),
    T.StructField("n_frames", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), False),
])


def video_table(spark: SparkSession, n_clips: int,
                partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic video-clip table (the task brief's video
    tier: opaque MJPEG-in-AVI payloads + typed metadata), built
    distributed the same way as corpus_tables/audio_table — content is
    a pure function of video_ref, so any partition regenerates
    independently."""
    parts = partitions or max(32, spark.sparkContext.defaultParallelism)
    refs = _numbered_refs(spark, n_clips, "vid-%08d", "video_ref")
    return _rows_for(refs, parts, "video_row_for", VIDEO_SCHEMA)
