"""Whole-page output operators over the materialized hierarchy (the
rebuild of the 2.B JNA output surface: GetUTF8Text / GetHOCRText /
GetBoxText / MeanTextConf / AllWordConfidences / TIFF merge).

All are declarative aggregations over the hierarchy DataFrame produced by
operators.extract.analyze_documents — ordered string assembly uses
`functions.ordered_join` so results are deterministic under
any partitioning (Spark guarantees no implicit order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import InvalidParameterError
from ..functions import ordered_join
from ..oracle.page import decode_payload
from ..oracle.segment import LEVELS, TEXT_KINDS
from .extract import image_pages
from .stage import row_stage
from .windows import _ID_COLS

_LINE_KEY = ["doc_id", "media_ref", "block_id", "para_id", "line_id"]


def _ordered_join(df: DataFrame, keys: list[str], order_col: str,
                  frag_col: str, sep: str, out_name: str) -> DataFrame:
    return df.groupBy(*keys).agg(
        ordered_join(order_col, frag_col, sep).alias(out_name))


def _join_lines(lines: DataFrame, frag_col: str, out_name: str) -> DataFrame:
    """Per page, line fragments joined by newlines in (block_id, para_id,
    line_id) order: a struct key, so ids of any size sort by block, then
    paragraph, then line, and nothing can overflow."""
    return _ordered_join(
        lines.withColumn("line_order",
                         F.struct("block_id", "para_id", "line_id")),
        ["doc_id", "media_ref"], "line_order", frag_col, "\n", out_name)


def page_text(hierarchy: DataFrame) -> DataFrame:
    """GetUTF8Text (TessAPI.java:483-487): per page, text blocks joined by
    blank lines in reading order."""
    # sorted: TEXT_KINDS is a set, whose order changes with the
    # process's string-hash seed, and the plan should not
    blocks = hierarchy.where((F.col("level") == "BLOCK")
                             & F.col("block_type").isin(*sorted(TEXT_KINDS))
                             & F.col("text").isNotNull())
    return _ordered_join(blocks, ["doc_id", "media_ref"], "seq", "text",
                         "\n\n", "page_text")


def hocr(hierarchy: DataFrame) -> DataFrame:
    """GetHOCRText (TessAPI.java:489-494; tessdata/configs/hocr): hOCR
    markup with real boxes; page numbers render 1-based (the binding's
    0-based-in/1-based-out contract)."""
    words = hierarchy.where((F.col("level") == "WORD")
                            & F.col("text").isNotNull()).withColumn(
        "frag",
        F.format_string(
            "<span class='ocrx_word' id='word_%d_%d_%d_%d' "
            "title='bbox %d %d %d %d; x_wconf %d'>%s</span>",
            "block_id", "para_id", "line_id", "word_id",
            "left", "top", "right", "bottom",
            F.round("confidence").cast("int"), "text"))
    lines = _ordered_join(words, _LINE_KEY, "seq", "frag", " ", "line_html")
    lines = lines.withColumn(
        "line_frag", F.format_string("<span class='ocr_line'>%s</span>",
                                     "line_html"))
    pages = _join_lines(lines, "line_frag", "body")
    return pages.select(
        "doc_id", "media_ref",
        F.format_string("<div class='ocr_page' title='image %s; ppageno 1'>\n%s\n</div>",
                        "media_ref", "body").alias("hocr"))


def box_text(hierarchy: DataFrame) -> DataFrame:
    """GetBoxText trainer format (TessAPI.java:496-503): one line per
    SYMBOL, full-image coordinates."""
    syms = hierarchy.where((F.col("level") == "SYMBOL")
                           & F.col("text").isNotNull()).withColumn(
        "frag", F.format_string("%s %d %d %d %d 0", "text", "left", "top",
                                "right", "bottom"))
    return _ordered_join(syms, ["doc_id", "media_ref"], "seq", "frag",
                         "\n", "box_text")


def unlv_text(hierarchy: DataFrame, reject_below: float = 50.0,
              suspect_below: float = 80.0) -> DataFrame:
    """GetUNLVText (TessAPI.java:505-512, deprecated in the reference):
    UNLV-format page text 'with specific reject and suspect codes' —
    symbols below the reject confidence render as '~' (the UNLV reject
    code), words containing any symbol below the suspect confidence are
    prefixed '^' (the suspect marker); lines join with '\\n', Latin-1
    unrepresentable chars (codepoint > U+00FF) degrade to '~'. Built
    entirely from SYMBOL rows so the codes apply at the reference's
    granularity. (The engine's own atlas charset is ASCII, so the Latin-1
    degradation only bites on externally-supplied hierarchies.)"""
    syms = hierarchy.where((F.col("level") == "SYMBOL")
                           & F.col("text").isNotNull())
    ch = F.when(F.col("confidence") < reject_below, F.lit("~")) \
        .otherwise(F.regexp_replace(F.col("text"), r"[^\x00-\xff]", "~"))
    words = (syms.withColumn("c", ch)
             .groupBy(*_LINE_KEY, "word_id")
             .agg(F.min("seq").alias("seq"),
                  ordered_join("seq", "c", "").alias("w"),
                  F.min("confidence").alias("min_conf")))
    words = words.withColumn(
        "w", F.when(F.col("min_conf") < suspect_below,
                    F.concat(F.lit("^"), F.col("w"))).otherwise(F.col("w")))
    lines = _ordered_join(words, _LINE_KEY, "seq", "w", " ", "line_text")
    return _join_lines(lines, "line_text", "unlv_text")


def mean_text_conf(hierarchy: DataFrame) -> DataFrame:
    """MeanTextConf (TessAPI.java:514-517): int mean word confidence."""
    words = hierarchy.where((F.col("level") == "WORD")
                            & F.col("confidence").isNotNull())
    return (words.groupBy("doc_id", "media_ref")
            .agg(F.floor(F.avg("confidence")).cast("int").alias("mean_conf")))


def all_word_confidences(hierarchy: DataFrame) -> DataFrame:
    """AllWordConfidences (TessAPI.java:519-525): ordered per-word
    confidence array per page."""
    words = hierarchy.where((F.col("level") == "WORD")
                            & F.col("confidence").isNotNull())
    return (words.groupBy("doc_id", "media_ref")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "confidence"))),
                lambda s: F.round(s["confidence"]).cast("int"))
                .alias("word_confs")))


#: merge_pages / merge_tiff refuse documents beyond this many pages: the
#: merge collects a document's FULL page payloads into ONE row, so a
#: pathological thousand-page doc would build a multi-hundred-MB record
#: and OOM an executor mid-shuffle. The cap makes that failure mode an
#: explicit, typed, per-document error instead.
DEFAULT_MAX_PAGES = 512


def merge_pages(documents: DataFrame, media: DataFrame,
                max_pages: int | None = DEFAULT_MAX_PAGES) -> DataFrame:
    """TIFF-merge analog (ImageIOHelper.mergeTiff:336-371): reassemble a
    document's page payloads, in span order, into one multi-page record.
    The inverse of the multi-page split (createTiffFiles:74-123).

    Raises (executor-side, surfacing as SparkRuntimeException naming the
    doc) when a document exceeds `max_pages` — see DEFAULT_MAX_PAGES.
    max_pages=None disables the plan-level guard (merge_tiff does this
    and enforces its own typed guard in the encode kernel instead)."""
    out = (image_pages(documents, media).groupBy("doc_id")
           .agg(F.transform(
               F.array_sort(F.collect_list(
                   F.struct("offset", "media_ref", "width", "height",
                            "bands", "payload"))),
               lambda s: F.struct(s["media_ref"].alias("media_ref"),
                                  s["width"].alias("width"),
                                  s["height"].alias("height"),
                                  s["bands"].alias("bands"),
                                  s["payload"].alias("payload")))
               .alias("pages"))
           .withColumn("n_pages", F.size("pages")))
    if max_pages is not None:
        # assert_true returns NULL on pass and raises on violation;
        # keeping it inside a filter prevents column-pruning from
        # optimizing the guard away
        out = out.where(F.assert_true(
            F.col("n_pages") <= F.lit(max_pages),
            F.concat(F.lit("merge_pages: document "), F.col("doc_id"),
                     F.lit(" has "), F.col("n_pages").cast("string"),
                     F.lit(f" pages > max_pages={max_pages}"))).isNull())
    return out


def merge_tiff(documents: DataFrame, media: DataFrame,
               max_pages: int = DEFAULT_MAX_PAGES) -> DataFrame:
    """Byte-level TIFF merge (ImageIOHelper.mergeTiff:336-371): each
    document's page images, in span order, become ONE multi-page TIFF
    blob (linked IFD chain) — the true sink format of S3, on top of the
    record-form merge_pages, one stage row per document.
    Documents beyond `max_pages` raise a typed InvalidParameterError
    (executor-side) instead of OOMing — see DEFAULT_MAX_PAGES."""
    from ..codecs_img import encode_tiff_multipage
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("tiff", T.BinaryType(), False),
    ])

    def emit(r):
        if len(r.pages) > max_pages:   # typed executor-side guard
            raise InvalidParameterError(
                f"merge_tiff: document {r.doc_id} has "
                f"{len(r.pages)} pages > max_pages={max_pages}",
                {"doc_id": r.doc_id, "n_pages": len(r.pages)})
        imgs = [decode_payload(p["payload"], p["width"], p["height"],
                               p["bands"])
                for p in r.pages]
        yield r.doc_id, len(imgs), encode_tiff_multipage(imgs)

    # guard enforced in the kernel above (typed), not the plan
    return row_stage(merge_pages(documents, media, max_pages=None), schema,
                     emit)


def page_items(hierarchy: DataFrame) -> DataFrame:
    """Materialized PageItem / PageBlock records (the examples layer's
    record form: examples/.../PageItem.java:26-55 = (uuid, level, box);
    PageBlock.java:26-48 adds (polyBlockType, blockOrientation)).

    Two deliberate upgrades over the reference:
    - item_id is a *deterministic* UUID (md5 of the page + id-vector laid
      out as UUIDv8-style hex) instead of UUID.randomUUID() — random ids
      break re-run/resume equality at scale;
    - parent_id implements PageItem.java:27's '// TODO add notion of
      parent item': the enclosing node's id, NULL for blocks.

    BLOCK rows carry block_type + orientation columns (PageBlock); other
    levels leave them NULL (PageItem)."""
    lvl = F.col("level")

    def key_of(level: str) -> F.Column:
        # offset is part of the key: a document may reference the same
        # media_ref at two span offsets, and their items must not collide
        h = F.md5(F.concat_ws("|", F.col("doc_id"), F.col("media_ref"),
                              F.col("offset"), F.lit(level),
                              *[F.col(c) for c in _ID_COLS[level]]))
        return F.concat_ws(
            "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
            F.substring(h, 13, 4), F.substring(h, 17, 4),
            F.substring(h, 21, 12))

    item_id = F.lit(None).cast("string")
    parent_id = F.lit(None).cast("string")
    for parent, level in zip((None,) + LEVELS, LEVELS):
        item_id = F.when(lvl == level, key_of(level)).otherwise(item_id)
        if parent:      # a node's parent is the enclosing level's item
            parent_id = F.when(lvl == level,
                               key_of(parent)).otherwise(parent_id)
    is_block = lvl == "BLOCK"
    return hierarchy.select(
        "doc_id", "media_ref", "offset",
        item_id.alias("item_id"),
        parent_id.alias("parent_id"),
        "level", "seq", "left", "top", "right", "bottom",
        F.when(is_block, F.col("block_type")).alias("block_type"),
        F.when(is_block, F.col("orientation")).alias("orientation"),
        F.when(is_block, F.col("writing_direction")).alias("writing_direction"),
        F.when(is_block, F.col("textline_order")).alias("textline_order"),
        F.when(is_block, F.col("deskew_angle")).alias("deskew_angle"))
