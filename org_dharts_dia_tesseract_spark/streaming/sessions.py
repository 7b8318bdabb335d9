"""Structured Streaming operators.

The reference is pure batch (SURVEY 2.C: streaming ABSENT) — these exist
because a 10^12-doc corpus arrives continuously in production: the same
extraction and analytics must run incrementally. Patterns:

- `streaming_event_counts`: watermark + tumbling-window aggregation with
  late-data tolerance (the canonical readStream->agg->writeStream shape).
- `sessionize_stream`: custom stateful operator via
  applyInPandasWithState (gap-based sessions; state = open session per
  user), the streaming twin of queries.events_sessionize.
- `streaming_span_extraction`: the flagship pipeline as an incremental
  job — new document files micro-batch through the same per-row OCR
  stage (stateless per page, so streaming needs no plan changes).

Tested with file sources + `availableNow` triggers (no long-running
cluster in the sandbox; semantics identical).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_S = 1800


def streaming_event_counts(events_stream: DataFrame,
                           window: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window event counts with a watermark bounding state."""
    return (events_stream
            # watermarks need TIMESTAMP (with zone); parquet NTZ won't do
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


_SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("session_id", T.LongType(), False),
    T.StructField("n_events", T.LongType(), False),
    T.StructField("session_start", T.LongType(), False),
    T.StructField("session_end", T.LongType(), False),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("session_id", T.LongType(), False),
    T.StructField("last_epoch", T.LongType(), False),
    T.StructField("n_events", T.LongType(), False),
    T.StructField("start_epoch", T.LongType(), False),
])


def _sessionize_fn(key: Tuple, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer. Emits every closed session; keeps the
    open one in state. Deterministic: events sorted by (epoch, event_id)."""
    (user_id,) = key
    if state.exists:
        session_id, last_epoch, n_events, start_epoch = state.get
    else:
        session_id, last_epoch, n_events, start_epoch = 0, None, 0, None
    out = []
    events = pd.concat(list(pdfs)).sort_values(["epoch", "event_id"])
    for ep in events["epoch"]:
        ep = int(ep)
        if last_epoch is None:
            start_epoch, n_events = ep, 1
        elif ep - last_epoch > SESSION_GAP_S:
            out.append((user_id, session_id, n_events, start_epoch, last_epoch))
            session_id += 1
            start_epoch, n_events = ep, 1
        else:
            n_events += 1
        last_epoch = ep
    state.update((session_id, last_epoch, n_events, start_epoch))
    if out:
        yield pd.DataFrame(out, columns=[f.name for f in _SESSION_SCHEMA])


def sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState)."""
    prepared = events_stream.select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("epoch"))
    return (prepared.groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_fn, _SESSION_SCHEMA, _STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def streaming_span_extraction(spark: SparkSession, docs_path: str,
                              media: DataFrame) -> DataFrame:
    """Incremental flagship pipeline: a file-source stream of document
    batches through the same OCR stage. The per-page kernel is stateless,
    so batch and streaming share the physical operators; only the seq
    window is per-micro-batch (global order needs a batch compaction —
    documented limitation, matching checkpointed-batch resume at scale)."""
    from ..operators.extract import _ocr_stage, image_pages
    static = spark.read.parquet(docs_path)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 4).parquet(docs_path))
    return _ocr_stage(image_pages(stream, media), "AUTO")
