"""Structured Streaming tests (file sources + availableNow triggers)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark, tmp_path_factory):
    # file stream sources require a directory; stage the single parquet
    import shutil
    d = tmp_path_factory.mktemp("events_src")
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    static = spark.read.parquet(f"{SF}/events.parquet")
    return (spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d)))


def _run_to_memory(df, name, tmp_path, output_mode):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .option("checkpointLocation", str(tmp_path / name))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, events_stream, tmp_path):
    from org_dharts_dia_tesseract_spark.streaming import \
        streaming_event_counts
    # complete mode: append would hold back the final window still open
    # under the watermark at stream end
    _run_to_memory(streaming_event_counts(events_stream), "win_counts",
                   tmp_path, "complete")
    got = (spark.table("win_counts")
           .groupBy("event_type").agg(F.sum("n_events").alias("n"))
           .toPandas().set_index("event_type")["n"].to_dict())
    exp = (spark.read.parquet(f"{SF}/events.parquet")
           .groupBy("event_type").count()
           .toPandas().set_index("event_type")["count"].to_dict())
    assert got == exp


def test_stateful_sessionize_stream(spark, events_stream, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions must agree with
    the batch sessionizer (open trailing sessions stay in state)."""
    from org_dharts_dia_tesseract_spark.queries import events_sessionize
    from org_dharts_dia_tesseract_spark.streaming import sessionize_stream
    _run_to_memory(sessionize_stream(events_stream), "sessions",
                   tmp_path, "append")
    got = (spark.table("sessions")
           .select("user_id", "session_id", "n_events", "session_start",
                   "session_end").toPandas()
           .sort_values(["user_id", "session_id"]).reset_index(drop=True))
    batch = events_sessionize(spark, SF).toPandas()
    # drop each user's final (still-open) session from the batch result
    batch = (batch.sort_values(["user_id", "session_id"])
             .groupby("user_id", group_keys=False)
             .apply(lambda g: g.iloc[:-1], include_groups=True)
             .reset_index(drop=True))
    # batch numbers sessions from 1 (sum over is_new); stream from 0
    batch["session_id"] = batch["session_id"] - 1
    got = got.astype({"session_id": "int64"})
    pd.testing.assert_frame_equal(
        got, batch[["user_id", "session_id", "n_events", "session_start",
                    "session_end"]].astype(got.dtypes.to_dict()))


def test_watermark_drops_late_data(spark, tmp_path):
    """An event arriving in a later micro-batch, older than the watermark
    behind the stream's max ts, must NOT revise an already-final window
    (the late-data tolerance boundary of streaming_event_counts)."""
    import os
    from org_dharts_dia_tesseract_spark.streaming import \
        streaming_event_counts
    src = tmp_path / "late_src"
    os.makedirs(src)
    schema = "user_id long, event_id long, event_type string, ts timestamp, value double, props string"
    from datetime import datetime
    t = lambda h, m: datetime(2026, 1, 1, h, m)   # noqa: E731
    data_dir = src / "data"
    os.makedirs(data_dir)

    out_dir = str(tmp_path / "late_out")

    def run_batch():
        stream = (spark.readStream.schema(schema).parquet(str(data_dir)))
        q = (streaming_event_counts(stream)
             .writeStream.format("parquet").option("path", out_dir)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    rows1 = [(1, 1, "click", t(10, 0), 1.0, "{}"),
             (1, 2, "click", t(12, 0), 1.0, "{}")]
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(str(data_dir))
    run_batch()   # watermark advances to 11:30 at this run's end
    # 10:05 event arrives AFTER the stream committed max ts 12:00 -> it
    # is > 30 min (the watermark) behind, so its 10:00 window is final
    rows2 = [(1, 3, "click", t(10, 5), 1.0, "{}")]
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(str(data_dir))
    run_batch()
    run_batch()   # one more pass: any (incorrect) revision would flush
    got = {(str(r["window_start"]), r["n_events"])
           for r in spark.read.parquet(out_dir).collect()}
    # the 10:00 window closed with 1 event; the late 10:05 event was
    # dropped, never appended as a revision
    assert ("2026-01-01 10:00:00", 1) in got
    assert ("2026-01-01 10:00:00", 2) not in got


def test_streaming_span_extraction(spark, tmp_path):
    from org_dharts_dia_tesseract_spark.sources import materialize_corpus
    from org_dharts_dia_tesseract_spark.streaming import \
        streaming_span_extraction
    docs_path, media_path = materialize_corpus(spark, str(tmp_path / "gen"), 12)
    media = spark.read.parquet(media_path)
    out = streaming_span_extraction(spark, docs_path, media)
    _run_to_memory(out, "stream_spans", tmp_path, "append")
    got = spark.table("stream_spans")
    from org_dharts_dia_tesseract_spark.operators.extract import (
        _ocr_stage, image_pages)
    docs = spark.read.parquet(docs_path)
    exp = _ocr_stage(image_pages(docs, media), "AUTO")
    a = got.toPandas().sort_values(["doc_id", "offset", "sub"]).reset_index(drop=True)
    b = exp.toPandas().sort_values(["doc_id", "offset", "sub"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
