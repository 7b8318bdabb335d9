"""Cursor traversal semantics as window functions over the hierarchy
DataFrame — the distributed form of LayoutIterator's next /
isAtBeginningOf / isAtFinalElement (SURVEY 2.A I2-I4).

The hierarchy rows carry the id-vector (block_id, para_id, line_id,
word_id, sym_id) and the dense pre-order `seq`; every cursor predicate
becomes a lag/max window over that encoding, per (doc_id, media_ref)
page. Parity with the single-process cursor is tested directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ordered_join
from ..oracle.segment import LEVELS

# each level's id-vector prefix: BLOCK -> [block_id] ... SYMBOL -> all five
_ID_COLS = {level: ["block_id", "para_id", "line_id", "word_id",
                    "sym_id"][:i + 1] for i, level in enumerate(LEVELS)}

_PAGE = ["doc_id", "media_ref"]


def level_rows(hierarchy: DataFrame, level: str) -> DataFrame:
    """All nodes of one level, reading-ordered by seq — the materialized
    sweep next(level) performs (non-text blocks included once per level
    except SYMBOL, which skips them: LayoutIterator.java:176-183; the
    extract stage enforces that shape, so a plain filter suffices)."""
    return hierarchy.where(F.col("level") == level)


def with_level_seq(hierarchy: DataFrame, level: str) -> DataFrame:
    """Dense per-page rank among nodes of `level` (cursor step counter)."""
    w = Window.partitionBy(*_PAGE).orderBy("seq")
    return (level_rows(hierarchy, level)
            .withColumn("level_seq",
                        (F.row_number().over(w) - 1).cast("int")))


def is_at_beginning_of(hierarchy: DataFrame, level: str,
                       element: str = "SYMBOL") -> DataFrame:
    """For each `element` node: is it the first leaf of its enclosing
    `level` element? (LayoutIterator.isAtBeginningOf worked example,
    :194-215). Implemented as lag over the enclosing id-prefix."""
    rows = level_rows(hierarchy, element)
    w = Window.partitionBy(*_PAGE).orderBy("seq")
    prefix = F.struct(*[F.col(c) for c in _ID_COLS[level]])
    prev = F.lag(prefix).over(w)
    return rows.withColumn(
        "is_at_beginning",
        prev.isNull() | (prev != prefix))


def is_at_final_element(hierarchy: DataFrame, level: str,
                        element: str) -> DataFrame:
    """For each `element` node: is it the last of its kind within its
    enclosing `level` element? ("bizarre." example, LayoutIterator.java:
    220-251). max(element-rank) over the enclosing partition."""
    rows = level_rows(hierarchy, element)
    encl = Window.partitionBy(
        *_PAGE, *[F.col(c) for c in _ID_COLS[level]])
    elem_key = _ID_COLS[element][-1]
    return rows.withColumn(
        "is_final",
        F.col(elem_key) == F.max(elem_key).over(encl))


def level_text(hierarchy: DataFrame, level: str) -> DataFrame:
    """getText at any level without re-running recognition: roll WORD text
    up by the id-prefix (R1 level-rollup mapping)."""
    words = (hierarchy
             .where((F.col("level") == "WORD") & F.col("text").isNotNull()))
    keys = _PAGE + _ID_COLS[level]
    line_key = _PAGE + _ID_COLS["TEXTLINE"]
    lines = (words.groupBy(*line_key)
             .agg(F.min("seq").alias("seq"),
                  ordered_join("seq", "text", " ").alias("line_text")))
    if level == "TEXTLINE":
        return lines.withColumnRenamed("line_text", "text")
    return (lines.groupBy(*keys)
            .agg(ordered_join("seq", "line_text", "\n").alias("text")))


FONT_ATTR_COLS = ("font_bold", "font_italic", "font_underlined",
                  "font_monospace", "font_serif", "font_smallcaps",
                  "font_pointsize", "font_id", "font_name")


def level_font_attributes(hierarchy: DataFrame, level: str) -> DataFrame:
    """getWordFontAttributes at any level (R3): word rows carry all 9
    FontAttributes.java:28-59 fields; a higher level reports its FIRST
    word's attributes (RecognitionResultsIterator.getWordFontAttributes:
    100-125 delegates to the word the cursor is on — the level's first
    word in a level sweep). min_by on seq = one map-side-combinable agg."""
    words = hierarchy.where((F.col("level") == "WORD")
                            & F.col("font_name").isNotNull())
    if level == "WORD":
        return words.select(*_PAGE, *_ID_COLS["WORD"], *FONT_ATTR_COLS)
    keys = _PAGE + _ID_COLS[level]
    g = (words.groupBy(*keys)
         .agg(F.min_by(F.struct(*FONT_ATTR_COLS), F.col("seq")).alias("f")))
    return g.select(*keys, *[F.col(f"f.{c}").alias(c)
                             for c in FONT_ATTR_COLS])


def level_confidence(hierarchy: DataFrame, level: str) -> DataFrame:
    """getConfidence at any level: mean of WORD confidences under the
    id-prefix (R2; word level carries the classifier scores)."""
    words = hierarchy.where((F.col("level") == "WORD")
                            & F.col("confidence").isNotNull())
    keys = _PAGE + _ID_COLS[level]
    return (words.groupBy(*keys)
            .agg(F.avg("confidence").cast("float").alias("confidence"),
                 F.count("*").cast("int").alias("n_words")))


# ==========================================================================
# Scalable total-order rank (the cluster-safe form of a global window)
# ==========================================================================

def global_rank(df: DataFrame, order_cols: list[str],
                num_partitions: int | None = None) -> tuple[DataFrame, int]:
    """Total-order 1-based rank WITHOUT a single-partition window.

    ``Window.orderBy(...)`` with no partitionBy collapses the whole table
    onto ONE task ("WindowExec: No Partition Defined") — correct at test
    scale, a scale-killer at 100 TB. This is the classic two-pass
    distributed sort-rank instead:

      1. ``repartitionByRange`` on the order columns (one range shuffle —
         the same exchange a global sort would need anyway) +
         ``sortWithinPartitions``;
      2. a streaming ``mapInPandas`` stage numbers rows WITHIN each
         partition (zero shuffle — the Arrow batch iterator is
         per-partition, so a running counter is exact);
      3. per-partition row counts (k rows, map-side combined) are
         collected once, prefix-summed on the driver in range order
         (RangePartitioner assigns ordered key ranges to ascending
         partition ids), and broadcast-joined back as offsets.

    ``order_cols`` must define a TOTAL order (include a unique
    tiebreaker): rank is then identical to the global window's
    row_number, percent_rank = (rank-1)/(N-1) and cume_dist = rank/N.

    Returns (df + ``rank`` bigint column, total row count N). The count
    pass and the output pass each replay the range exchange (classic
    two-pass): caching the intermediate would pin one projected table
    copy per query for the whole session (DataFrame caches have no
    GC-based cleanup), so the bounded re-shuffle wins.
    """
    import numpy as np

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(parts, *order_cols)
              .sortWithinPartitions(*order_cols)
              .withColumn("_pid", F.spark_partition_id()))

    def _number(batches):
        n = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_lrn"] = np.arange(n + 1, n + 1 + len(pdf), dtype="int64")
            n += len(pdf)
            yield pdf

    from pyspark.sql.types import LongType, StructField, StructType
    schema = StructType(list(ranged.schema.fields)
                        + [StructField("_lrn", LongType())])
    # ONE materialization is load-bearing, not a perf nicety: the
    # offsets are keyed by _pid of THIS physical partitioning, and an
    # independent re-execution of the range exchange (AQE re-planning,
    # boundary re-sampling) could partition differently and misalign
    # them. localCheckpoint(eager) pins that single materialization but
    # — unlike persist(), whose CacheManager entry lives until an
    # explicit unpersist — its blocks are freed by the ContextCleaner
    # once the returned DataFrame is garbage collected, so a session
    # running many ranked queries (the driver gate runs ~100) does not
    # accumulate pinned copies.
    numbered = ranged.mapInPandas(_number, schema=schema) \
        .localCheckpoint(eager=True)
    counts = {r["_pid"]: r["n"] for r in
              numbered.groupBy("_pid").agg(F.max("_lrn").alias("n"))
              .collect()}
    total = int(sum(counts.values()))
    offsets, acc = [], 0
    for pid in sorted(counts):            # ascending pid == key-range order
        offsets.append((pid, acc))
        acc += int(counts[pid])
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, "_pid int, _offset long")
    return (numbered.join(F.broadcast(off), "_pid")
            .withColumn("rank", (F.col("_offset") + F.col("_lrn")))
            .drop("_pid", "_lrn", "_offset")), total


def ntile_from_rank(rank: Column, n: int, total: int) -> Column:
    """SQL ntile(n) from a total-order rank: the first ``total % n``
    buckets get ``total // n + 1`` rows, the rest ``total // n``
    (WindowFunction.scala NTile semantics) — pure arithmetic once N is
    known, no window."""
    q, r = divmod(total, n)
    big = r * (q + 1)
    first = F.floor((rank - 1) / (q + 1)) + 1
    if q == 0:
        return first.cast("int")
    rest = F.floor((rank - big - 1) / q) + r + 1
    return F.when(rank <= big, first).otherwise(rest).cast("int")
