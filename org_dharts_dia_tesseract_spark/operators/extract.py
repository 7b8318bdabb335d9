"""The flagship distributed pipeline: interleaved docs -> ordered OCR spans.

Spark-first rebuild of the reference's analyze/recognize flows
(ImageAnalyzerFactory.analyzeLayout:472-488 / recognize:491-507, both
delegating to the native engine): the per-page kernel is the same numpy
code the oracle runs (oracle.analyze_page), executed per page by the
shared Arrow stage (stage.row_stage); everything around it — explode,
join, skew defusal, ordering, assembly — is declarative DataFrame API so
Catalyst plans it (predicate pushdown, AQE shuffle sizing, broadcast
selection).

Scale design (SURVEY sections 3.4 / 4.3):
- spans explode first; only image spans join media (1:1 on media_ref).
  Locally the lean span side is broadcast (verified BuildLeft in the
  plan), so raster payloads NEVER shuffle; at cluster scale, where the
  span side exceeds the broadcast threshold, Catalyst falls back to a
  shuffled join on media_ref — a per-page key, so partitioning is
  uniform regardless of how image-heavy any document is. That per-page
  fan-out IS the skew defusal of the north rule: a 128-image skew-tail
  doc lands on ~128 different tasks by construction.
- raster payload columns are dropped inside the OCR stage; nothing heavy
  crosses the final shuffle.
- the final ordering is an explicit window over (offset, sub) — Spark has
  no implicit order; `seq` is a dense per-doc rank, never
  monotonically_increasing_id (determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.config import resolve_languages
from ..oracle.page import (analyze_page, decode_payload, detect_page_osd,
                           resolve_ppi)
from ..oracle.segment import TEXT_KINDS
from .stage import row_stage

SPAN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
    T.StructField("sub", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
])

HIERARCHY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
    T.StructField("level", T.StringType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("para_id", T.IntegerType(), False),
    T.StructField("line_id", T.IntegerType(), False),
    T.StructField("word_id", T.IntegerType(), False),
    T.StructField("sym_id", T.IntegerType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("block_type", T.StringType(), False),
    T.StructField("left", T.IntegerType(), False),
    T.StructField("top", T.IntegerType(), False),
    T.StructField("right", T.IntegerType(), False),
    T.StructField("bottom", T.IntegerType(), False),
    T.StructField("baseline_x1", T.IntegerType(), True),
    T.StructField("baseline_y1", T.IntegerType(), True),
    T.StructField("baseline_x2", T.IntegerType(), True),
    T.StructField("baseline_y2", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("confidence", T.FloatType(), True),
    T.StructField("is_virtual", T.BooleanType(), False),
    # PARA rows: justification (PublicTypes.java:281-313)
    T.StructField("justification", T.StringType(), True),
    # BLOCK rows: orientation (I8)
    T.StructField("orientation", T.StringType(), True),
    T.StructField("writing_direction", T.StringType(), True),
    T.StructField("textline_order", T.StringType(), True),
    T.StructField("deskew_angle", T.FloatType(), True),
    # WORD rows: font attributes + word predicates (R3-R5); all 9
    # FontAttributes.java:28-59 fields surface as columns
    T.StructField("font_bold", T.BooleanType(), True),
    T.StructField("font_italic", T.BooleanType(), True),
    T.StructField("font_underlined", T.BooleanType(), True),
    T.StructField("font_monospace", T.BooleanType(), True),
    T.StructField("font_serif", T.BooleanType(), True),
    T.StructField("font_smallcaps", T.BooleanType(), True),
    T.StructField("font_pointsize", T.IntegerType(), True),
    T.StructField("font_id", T.IntegerType(), True),
    T.StructField("font_name", T.StringType(), True),
    T.StructField("is_dictionary_word", T.BooleanType(), True),
    T.StructField("is_numeric_word", T.BooleanType(), True),
    # SYMBOL rows: typography flags (R6)
    T.StructField("is_subscript", T.BooleanType(), True),
    T.StructField("is_superscript", T.BooleanType(), True),
    T.StructField("is_dropcap", T.BooleanType(), True),
])


def _spans(documents: DataFrame, kind: str) -> DataFrame:
    """documents -> one row per span of `kind` (S2 posexplode mapping)."""
    return (documents.select("doc_id", F.explode("spans").alias("s"))
            .where(F.col("s.kind") == kind)
            .select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref"))


def image_spans(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, offset, media_ref), one row per image span."""
    return _spans(documents, "image").select("doc_id", "offset", "media_ref")


def image_pages(documents: DataFrame, media: DataFrame) -> DataFrame:
    """Image spans joined 1:1 to their media rows on media_ref: the
    per-page input of every page operator."""
    return image_spans(documents).join(media, "media_ref")


def _ocr_stage(rows: DataFrame, psm: str, on_error: str = "fail",
               langs: tuple[str, ...] = ("eng",),
               page_timeout_ms: int | None = None) -> DataFrame:
    """Image-span rows (with payload) -> block-level sub-spans.

    on_error: 'fail' raises (strict, the reference's TesseractException
    behavior); 'dead-letter' emits one in-band span (kind='error',
    text=<reason>) for an undecodable/unanalyzable page so one corrupt
    blob cannot kill a 10^12-doc job and the failure stays visible,
    countable, and deterministic — no side channel. page_timeout_ms is
    the per-page budget (see stage._deadline)."""
    if on_error not in ("fail", "dead-letter"):
        raise ValueError(f"on_error must be 'fail' or 'dead-letter', "
                         f"got {on_error!r}")

    def emit(r):
        img = decode_payload(r.payload, r.width, r.height, r.bands)
        res = analyze_page(img, psm=psm, langs=langs)
        for i, blk in enumerate(res.blocks):
            if blk.block_type in TEXT_KINDS:
                yield r.doc_id, r.offset, i, "text", blk.text, r.media_ref
            else:
                yield (r.doc_id, r.offset, i, "image", None,
                       f"{r.media_ref}#b{i}")

    def dead_letter(r, e):
        return (r.doc_id, r.offset, 0, "error",
                f"{type(e).__name__}: {e}"[:200], r.media_ref)

    return row_stage(rows, SPAN_SCHEMA, emit,
                     error_row=None if on_error == "fail" else dead_letter,
                     timeout_ms=page_timeout_ms)


def audit_dangling_media(documents: DataFrame,
                         media: DataFrame) -> DataFrame:
    """Image spans whose media_ref has no media row.

    The OCR stage's inner join would drop these silently — at corpus
    scale dangling refs are a data-quality fact to surface, not hide, so
    the checkpointed runner records this audit in its manifests
    (mirrors the reference failing a document whose image cannot be
    read, ImageIOHelper.readImageData). Lean plan: only media_ref is
    scanned on the media side (payload column pruned), anti join."""
    return image_spans(documents).join(media.select("media_ref"),
                                       "media_ref", "left_anti")


def extract_spans(documents: DataFrame, media: DataFrame, *,
                  psm: str = "AUTO",
                  on_error: str = "fail",
                  languages: str = "eng",
                  page_timeout_ms: int | None = None) -> DataFrame:
    """Flagship query: (documents, media) -> ordered span table
    (doc_id, seq, kind, text, media_ref) — the invariant's exact shape
    (FIXTURES.md section 4 / BASELINE.json input_hint). on_error:
    'fail' | 'dead-letter' (see _ocr_stage). `languages` is the init
    spec '[~]lang[+[~]lang]*' (TesseractHandle.init:399-459): the
    resolved pack load order feeds recognition templates, so the spec
    changes recognized text, not just config state. page_timeout_ms is
    the per-page soft budget (TessAPI.java:464-481 timeout_millisec
    analog) — pair with on_error='dead-letter'."""
    langs = resolve_languages(languages)
    text_spans = _spans(documents, "text").select(
        "doc_id", "offset", F.lit(0).alias("sub"), "kind", "text",
        "media_ref")
    ocr_spans = _ocr_stage(image_pages(documents, media), psm, on_error,
                           langs, page_timeout_ms)
    all_spans = text_spans.unionByName(ocr_spans)
    w = Window.partitionBy("doc_id").orderBy("offset", "sub")
    return (all_spans
            .withColumn("seq", (F.row_number().over(w) - 1).cast("long"))
            .select("doc_id", "seq", "kind", "text", "media_ref"))


OSD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("orientation", T.StringType(), False),
    T.StructField("rotation_degrees", T.IntegerType(), False),
    T.StructField("osd_confidence", T.FloatType(), False),
    T.StructField("script", T.StringType(), False),
])


def page_osd(documents: DataFrame, media: DataFrame) -> DataFrame:
    """Page-level orientation & script detection (PSM OSD_ONLY /
    AUTO_OSD): one row per page with the rotation-confidence argmax OSD
    verdict. Same partitioning as the OCR stage (per-page rows; payloads
    never shuffle)."""
    def emit(r):
        osd = detect_page_osd(
            decode_payload(r.payload, r.width, r.height, r.bands))
        yield (r.doc_id, r.media_ref, osd["orientation"],
               osd["rotation_degrees"], osd["osd_confidence"], osd["script"])

    return row_stage(image_pages(documents, media), OSD_SCHEMA, emit)


def analyze_documents(documents: DataFrame, media: DataFrame, *,
                      psm: str = "AUTO", recognize: bool = True,
                      whitelist: str | None = None,
                      roi: tuple[int, int, int, int] | None = None,
                      languages: str = "eng") -> DataFrame:
    """Full hierarchy materialization: one row per node per page
    (the DataFrame form of the native PAGE_RES tree — SURVEY section 1.6).

    recognize=False is analyzeLayout (no classification cost); whitelist
    mirrors tessedit_char_whitelist; roi mirrors setRectangle (full-image
    coordinates preserved); languages is the init language spec (resolved
    pack order feeds the recognition templates).
    """
    langs = resolve_languages(languages)
    node_cols = HIERARCHY_SCHEMA.fieldNames()[3:]

    def emit(r):
        img = decode_payload(r.payload, r.width, r.height, r.bands)
        # S5 resolution chain: embedded metadata > dpi column > screen
        # default (ImageIOHelper.readImageData:379-407); feeds
        # font_pointsize (points = px * 72 / ppi)
        ppi = resolve_ppi(r.payload, getattr(r, "dpi", None))
        res = analyze_page(img, psm=psm, recognize=recognize,
                           whitelist=whitelist, roi=roi, langs=langs, ppi=ppi)
        for row in res.rows():
            yield (r.doc_id, r.media_ref, r.offset,
                   *(row[c] for c in node_cols))

    return row_stage(image_pages(documents, media), HIERARCHY_SCHEMA, emit)
