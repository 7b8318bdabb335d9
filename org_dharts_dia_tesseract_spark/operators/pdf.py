"""PDF operators: document→PDF sink and PDF→text extraction source.

The north rule names "PDF/layout parse" as a main-content-extraction
tier; the reference itself rejects PDF media
(``ImageIOHelper.java:278-282``), so this surface goes beyond it with
the from-scratch stdlib codec (``codecs_pdf``). Scanned-page PDFs
(image XObjects) route through the ordinary media decode path instead —
``oracle.page.decode_payload`` sniffs the ``%PDF-`` magic like any other
codec.

Both operators run on the shared per-row Arrow stage
(``stage.row_stage``): zero shuffles, one narrow map per stage — at
100 TB each task touches only its own input split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..codecs_pdf import encode_pdf_text, extract_pdf_text
from .stage import row_stage

PDF_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("n_lines", T.IntegerType(), False),
    T.StructField("pdf", T.BinaryType(), False),
])

PDF_TEXT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("n_lines", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
])


def _text_lines(spans) -> list[str]:
    """Text spans of one document in offset order (image spans have no
    text layer and are skipped — they travel as media payloads)."""
    rows = sorted((s for s in spans if s["kind"] == "text"),
                  key=lambda s: s["offset"])
    return [s["text"] for s in rows]


def docs_to_pdf(docs: DataFrame) -> DataFrame:
    """Sink: render each interleaved document's text layer as a
    single-page Tj-stream PDF blob (one row per doc)."""
    def emit(r):
        lines = _text_lines(r.spans)
        yield r.doc_id, len(lines), encode_pdf_text(lines)

    return row_stage(docs.select("doc_id", "spans"), PDF_DOC_SCHEMA, emit)


def pdf_extract_text(pdfs: DataFrame, pdf_col: str = "pdf") -> DataFrame:
    """Source: parse the text layer (Tj/TJ show strings) back out of PDF
    payloads — one row per document, lines joined with newlines."""
    def emit(r):
        lines = extract_pdf_text(bytes(getattr(r, pdf_col)))
        yield r.doc_id, len(lines), "\n".join(lines)

    return row_stage(pdfs.select("doc_id", pdf_col), PDF_TEXT_SCHEMA, emit)
