"""Materialize the single-process numpy-oracle expectations for every
raster/HTML gate as parquet, so the driver's DuckDB oracle can verify
them rows+schema+hash instead of rows-only.

Why this is a REAL oracle and not the Spark output round-tripped: every
kernel here is the single-process oracle path (oracle.page.analyze_page,
oracle.page.document_spans, codecs_img, boilerplate._main_content_of)
assembled with plain Python loops/dicts — no Spark session is ever
created. The Spark pipeline must reproduce these rows through its own
explode/join/window/mapInPandas assembly; partitioning, ordering or
assembly bugs show up as driver hash mismatches.

Determinism & scale-independence: the interleaved corpus is a pure
function of the document COUNT (doc ids `doc-%08d`; content keyed by id
— datagen.py), and every gate caps its doc budget at 400/200/100, while
each driver sf dir holds >= 500 documents. The expectations are
therefore valid for ANY sf dir (sf0.001/sf0.01/sf0.1 alike), except
`html_main_content`, which reads the real documents table and is
generated per sf (default sf0.01 — the driver's gate scale).

Run (regenerates tests/expected/):  python scripts/gen_expected.py
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import (_MEDIA_DOC_CAP, _PIPELINE_DOC_CAP,
                             _SPAN_GATES)
from org_dharts_dia_tesseract_spark.codecs_img import encode_tiff_multipage
from org_dharts_dia_tesseract_spark.datagen import (doc_spans_for,
                                                    media_row_for)
from org_dharts_dia_tesseract_spark.operators.boilerplate import \
    _main_content_of
from org_dharts_dia_tesseract_spark.oracle.page import (analyze_page, resolve_ppi,
                                                        decode_payload,
                                                        detect_page_osd,
                                                        document_spans)

EXPECTED_DIR = os.path.join(REPO, "tests", "expected")

# doc budgets: the registry's, so the twins cover the docs the gates read
CAP_PIPELINE = _PIPELINE_DOC_CAP
CAP_MEDIA = _MEDIA_DOC_CAP
CAP_ANNOTATED = 100

_ANNOT_LEVELS = ("BLOCK", "TEXTLINE", "WORD")


# -- corpus (single-process twin of sources.corpus_tables) ------------------

class Corpus:
    def __init__(self, n_docs: int):
        self.docs = [{"doc_id": f"doc-{i:08d}",
                      "spans": doc_spans_for(f"doc-{i:08d}")}
                     for i in range(n_docs)]
        self._media: dict[str, dict] = {}
        self._pages: dict[tuple, "object"] = {}

    def media(self, ref: str) -> dict:
        if ref not in self._media:
            self._media[ref] = media_row_for(ref)
        return self._media[ref]

    def image(self, ref: str) -> np.ndarray:
        m = self.media(ref)
        return decode_payload(m["payload"], m["width"], m["height"],
                              m["bands"])

    def page(self, ref: str, recognize: bool = True,
             langs: tuple[str, ...] = ("eng",), ppi: int | None = None):
        """Memoized analyze_page (AUTO psm) — reused across gates.
        ppi=None applies the S5 resolution chain (embedded metadata >
        media-table dpi > 96 default — oracle.page.resolve_ppi), same as
        the distributed hierarchy stage; an explicit ppi overrides (the
        embedded-DPI gate's expectation)."""
        key = (ref, recognize, langs, ppi)
        if key not in self._pages:
            m = self.media(ref)
            use = ppi or resolve_ppi(m["payload"], m.get("dpi"))
            self._pages[key] = analyze_page(self.image(ref), psm="AUTO",
                                            recognize=recognize, langs=langs,
                                            ppi=use)
        return self._pages[key]

    def image_spans(self, n_docs: int):
        """(doc, span) pairs for image spans of the first n docs."""
        for doc in self.docs[:n_docs]:
            for s in doc["spans"]:
                if s["kind"] == "image":
                    yield doc, s


# -- gate builders ----------------------------------------------------------

def _span_rows(corpus: Corpus, n_docs: int,
               langs: tuple[str, ...] = ("eng",)) -> list[dict]:
    rows = []
    for doc in corpus.docs[:n_docs]:
        rows.extend(document_spans(
            doc, lambda ref: corpus.media(ref), langs=langs))
    return rows


def _spans_table(rows: list[dict]) -> pa.Table:
    """extract_spans expectation (also the bmp/deflate re-encode gates:
    the codecs round-trip losslessly, so spans are identical)."""
    return pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
        "seq": pa.array([r["seq"] for r in rows], pa.int64()),
        "kind": pa.array([r["kind"] for r in rows], pa.string()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "media_ref": pa.array([r["media_ref"] for r in rows], pa.string()),
    })


def _color_jpeg_span_rows(corpus: Corpus, n_docs: int,
                          progressive: bool = False) -> list[dict]:
    """Spans over colorized + 4:2:0 color-JPEG media: the single-process
    twin of extract_spans(docs, reencode_media(colorize_media(media),
    'jpeg', jpeg_subsampling='420')) — same colorize/encode/decode
    kernels assembled with plain Python. `progressive` runs the SOF2
    scan-script twin (pixel-identical by construction; the separate
    expectation file keeps the gate self-contained)."""
    from org_dharts_dia_tesseract_spark.codecs_img import encode_jpeg
    from org_dharts_dia_tesseract_spark.datagen import colorize_page
    cache: dict[str, dict] = {}

    def lookup(ref: str) -> dict:
        if ref not in cache:
            m = corpus.media(ref)
            img = decode_payload(m["payload"], m["width"], m["height"],
                                 m["bands"])
            blob = encode_jpeg(colorize_page(img), subsampling="420",
                               progressive=progressive)
            cache[ref] = {**m, "bands": 3, "payload": blob}
        return cache[ref]

    rows = []
    for doc in corpus.docs[:n_docs]:
        rows.extend(document_spans(doc, lookup))
    return rows


def _bilevel_span_rows(corpus: Corpus, n_docs: int) -> list[dict]:
    """Spans over 1-bit PackBits TIFF media: the single-process twin of
    extract_spans(docs, reencode_media(media, 'tiff',
    compression='packbits', tiff_bits=1)). Threshold-128 binarization
    changes pixels, so this expectation is computed through the same
    encode/decode chain rather than aliased to the raw run."""
    from org_dharts_dia_tesseract_spark.codecs_img import encode_tiff
    cache: dict[str, dict] = {}

    def lookup(ref: str) -> dict:
        if ref not in cache:
            m = corpus.media(ref)
            img = decode_payload(m["payload"], m["width"], m["height"],
                                 m["bands"])
            blob = encode_tiff(img, compression="packbits", bits=1)
            cache[ref] = {**m, "payload": blob}
        return cache[ref]

    rows = []
    for doc in corpus.docs[:n_docs]:
        rows.extend(document_spans(doc, lookup))
    return rows


def _hierarchy_rows(corpus: Corpus, n_docs: int, recognize: bool = True,
                    ppi: int | None = None):
    """One dict per hierarchy node with (doc_id, media_ref, offset)."""
    for doc, s in corpus.image_spans(n_docs):
        res = corpus.page(s["media_ref"], recognize=recognize, ppi=ppi)
        for r in res.rows():
            yield {"doc_id": doc["doc_id"], "media_ref": s["media_ref"],
                   "offset": s["offset"], **r}


_HIER_I32 = ("block_id", "para_id", "line_id", "word_id", "sym_id", "seq",
             "left", "top", "right", "bottom")
_HIER_I32_NULL = ("baseline_x1", "baseline_y1", "baseline_x2", "baseline_y2",
                  "font_pointsize", "font_id")
_HIER_BOOL = ("font_bold", "font_italic", "font_underlined",
              "font_monospace", "font_serif", "font_smallcaps",
              "is_dictionary_word", "is_numeric_word",
              "is_subscript", "is_superscript", "is_dropcap")


def _hierarchy_table(rows: list[dict]) -> pa.Table:
    cols: dict[str, pa.Array] = {}
    names = ["doc_id", "media_ref", "offset", "level"] + list(_HIER_I32) + \
        list(_HIER_I32_NULL) + ["block_type", "text", "confidence",
                                "is_virtual", "justification", "orientation",
                                "writing_direction", "textline_order",
                                "deskew_angle", "font_name"] + \
        list(_HIER_BOOL)
    for name in names:
        vals = [r.get(name) for r in rows]
        if name in ("offset",) or name in _HIER_I32 or name in _HIER_I32_NULL:
            cols[name] = pa.array(vals, pa.int32())
        elif name in ("confidence", "deskew_angle"):
            cols[name] = pa.array(
                [None if v is None else float(np.float32(v)) for v in vals],
                pa.float32())
        elif name == "is_virtual" or name in _HIER_BOOL:
            cols[name] = pa.array(vals, pa.bool_())
        else:
            cols[name] = pa.array(vals, pa.string())
    return pa.table(cols)


def _layout_table(corpus: Corpus, n_docs: int) -> pa.Table:
    counts: dict[tuple, int] = {}
    for r in _hierarchy_rows(corpus, n_docs, recognize=False):
        k = (r["media_ref"], r["level"])
        counts[k] = counts.get(k, 0) + 1
    keys = list(counts)
    return pa.table({
        "media_ref": pa.array([k[0] for k in keys], pa.string()),
        "level": pa.array([k[1] for k in keys], pa.string()),
        "n_nodes": pa.array([counts[k] for k in keys], pa.int64()),
    })


def _font_attrs_table(rows: list[dict]) -> pa.Table:
    """level_font_attributes(h, 'TEXTLINE'): the line's FIRST word."""
    best: dict[tuple, dict] = {}
    for r in rows:
        if r["level"] != "WORD" or r.get("font_name") is None:
            continue
        k = (r["doc_id"], r["media_ref"], r["block_id"], r["para_id"],
             r["line_id"])
        if k not in best or r["seq"] < best[k]["seq"]:
            best[k] = r
    out = sorted(best.items())
    key_names = ("doc_id", "media_ref", "block_id", "para_id", "line_id")
    cols = {}
    for i, name in enumerate(key_names):
        vals = [k[i] for k, _ in out]
        cols[name] = pa.array(
            vals, pa.string() if i < 2 else pa.int32())
    for name in ("font_bold", "font_italic", "font_underlined",
                 "font_monospace", "font_serif", "font_smallcaps"):
        cols[name] = pa.array([r[name] for _, r in out], pa.bool_())
    cols["font_pointsize"] = pa.array([r["font_pointsize"] for _, r in out],
                                      pa.int32())
    cols["font_id"] = pa.array([r["font_id"] for _, r in out], pa.int32())
    cols["font_name"] = pa.array([r["font_name"] for _, r in out],
                                 pa.string())
    return pa.table(cols)


def _unlv_table(rows: list[dict], reject_below: float = 50.0,
                suspect_below: float = 80.0) -> pa.Table:
    """operators.sinks.unlv_text twin over the oracle hierarchy rows."""
    words: dict[tuple, list[dict]] = {}
    for r in rows:
        if r["level"] != "SYMBOL" or r.get("text") is None:
            continue
        k = (r["doc_id"], r["media_ref"], r["block_id"], r["para_id"],
             r["line_id"], r["word_id"])
        words.setdefault(k, []).append(r)
    lines: dict[tuple, list[tuple[int, str]]] = {}
    for k, syms in words.items():
        syms.sort(key=lambda s: s["seq"])
        w = "".join("~" if s["confidence"] < reject_below
                    else re.sub(r"[^\x00-\xff]", "~", s["text"])
                    for s in syms)
        if min(s["confidence"] for s in syms) < suspect_below:
            w = "^" + w
        lines.setdefault(k[:5], []).append((syms[0]["seq"], w))
    pages: dict[tuple, list[tuple[int, str]]] = {}
    for (doc_id, ref, b, p, ln), ws in lines.items():
        ws.sort()
        pages.setdefault((doc_id, ref), []).append(
            ((b, p, ln), " ".join(w for _, w in ws)))
    out = sorted(pages.items())
    return pa.table({
        "doc_id": pa.array([k[0] for k, _ in out], pa.string()),
        "media_ref": pa.array([k[1] for k, _ in out], pa.string()),
        "unlv_text": pa.array(
            ["\n".join(t for _, t in sorted(ls)) for _, ls in out],
            pa.string()),
    })


def _osd_table(corpus: Corpus, n_docs: int) -> pa.Table:
    recs = []
    for doc, s in corpus.image_spans(n_docs):
        osd = detect_page_osd(corpus.image(s["media_ref"]))
        recs.append((doc["doc_id"], s["media_ref"], osd["orientation"],
                     osd["rotation_degrees"],
                     float(np.float32(osd["osd_confidence"])), osd["script"]))
    return pa.table({
        "doc_id": pa.array([r[0] for r in recs], pa.string()),
        "media_ref": pa.array([r[1] for r in recs], pa.string()),
        "orientation": pa.array([r[2] for r in recs], pa.string()),
        "rotation_degrees": pa.array([r[3] for r in recs], pa.int32()),
        "osd_confidence": pa.array([r[4] for r in recs], pa.float32()),
        "script": pa.array([r[5] for r in recs], pa.string()),
    })


def _tiff_merge_table(corpus: Corpus, n_docs: int) -> pa.Table:
    recs = []
    for doc in corpus.docs[:n_docs]:
        refs = [s["media_ref"] for s in sorted(doc["spans"],
                                               key=lambda s: s["offset"])
                if s["kind"] == "image"]
        if not refs:
            continue
        blob = encode_tiff_multipage([corpus.image(r) for r in refs])
        recs.append((doc["doc_id"], len(refs), len(blob)))
    return pa.table({
        "doc_id": pa.array([r[0] for r in recs], pa.string()),
        "n_pages": pa.array([r[1] for r in recs], pa.int32()),
        "tiff_bytes": pa.array([r[2] for r in recs], pa.int32()),
    })


def _annotated_table(corpus: Corpus, n_docs: int) -> pa.Table:
    recs = []
    for doc, s in corpus.image_spans(n_docs):
        m = corpus.media(s["media_ref"])
        res = corpus.page(s["media_ref"])
        n_boxes = sum(1 for r in res.rows() if r["level"] in _ANNOT_LEVELS)
        if n_boxes:
            recs.append((s["media_ref"], m["width"], m["height"], n_boxes))
    return pa.table({
        "media_ref": pa.array([r[0] for r in recs], pa.string()),
        "width": pa.array([r[1] for r in recs], pa.int32()),
        "height": pa.array([r[2] for r in recs], pa.int32()),
        "n_boxes": pa.array([r[3] for r in recs], pa.int32()),
    })


# -- training corpus (operators.pipeline twin, hashlib-portable) ------------

def _spark_round(x: float, scale: int) -> float:
    """Spark ROUND = BigDecimal.valueOf(double).setScale(HALF_UP)."""
    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _minhash_losers(texts: dict[str, str], n_hashes: int = 8,
                    bands: int = 4) -> set[str]:
    """minhash_lsh_candidates twin: ids that are some pair's id_b."""
    rows_per_band = n_hashes // bands
    band_members: dict[str, list[str]] = {}
    for doc_id in sorted(texts):
        ws = [w for w in re.split(r"\s+", texts[doc_id]) if w != ""]
        if len(ws) < 3:
            continue
        shingles = {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
        mh = [min((int(_md5(sh)[:8], 16) + i * int(_md5(sh)[8:16], 16))
                  % (1 << 32) for sh in shingles) for i in range(n_hashes)]
        for b in range(bands):
            key = _md5("_".join(
                [str(b)] + [str(mh[b * rows_per_band + r])
                            for r in range(rows_per_band)]))
            band_members.setdefault(key, []).append(doc_id)
    losers: set[str] = set()
    for members in band_members.values():
        first = min(members)
        losers.update(m for m in members if m != first)
    return losers


def _training_table(span_rows: list[dict], min_tokens: int = 3) -> pa.Table:
    by_doc: dict[str, list[dict]] = {}
    for s in span_rows:
        by_doc.setdefault(s["doc_id"], []).append(s)
    per_doc: dict[str, dict] = {}
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda s: s["seq"])
        texts = [s["text"] for s in spans
                 if s["kind"] == "text" and s["text"] is not None]
        if not texts:
            continue
        text = "\n".join(texts)
        n_tokens = len(re.split(r"\s+", text.strip()))
        n_punct = sum(text.count(c) for c in ".,:;!?")
        per_doc[doc_id] = {
            "text": text, "n_text_spans": len(texts), "n_chars": len(text),
            "n_tokens": n_tokens,
            "punct_ratio": _spark_round(n_punct / max(len(text), 1), 4),
            "fingerprint": _md5(re.sub(r"\s+", " ", text).lower()),
        }
    groups: dict[str, list[str]] = {}
    for doc_id, r in per_doc.items():
        groups.setdefault(_md5(r["text"]), []).append(doc_id)
    deduped: dict[str, dict] = {}
    for ids in groups.values():
        winner = min(ids)
        deduped[winner] = {**per_doc[winner], "n_copies": len(ids)}
    losers = _minhash_losers({k: v["text"] for k, v in deduped.items()})
    out = sorted(deduped.items())
    return pa.table({
        "doc_id": pa.array([k for k, _ in out], pa.string()),
        "n_text_spans": pa.array([r["n_text_spans"] for _, r in out],
                                 pa.int64()),
        "n_chars": pa.array([r["n_chars"] for _, r in out], pa.int64()),
        "n_tokens": pa.array([r["n_tokens"] for _, r in out], pa.int64()),
        "punct_ratio": pa.array([r["punct_ratio"] for _, r in out],
                                pa.float64()),
        "fingerprint": pa.array([r["fingerprint"] for _, r in out],
                                pa.string()),
        "n_copies": pa.array([r["n_copies"] for _, r in out], pa.int64()),
        "near_dup": pa.array([k in losers for k, _ in out], pa.bool_()),
        "keep": pa.array([k not in losers and r["n_tokens"] >= min_tokens
                          for k, r in out], pa.bool_()),
    })


def _html_main_table(sf_dir: str) -> pa.Table:
    import duckdb
    docs = duckdb.sql(
        f"SELECT doc_id, text, source FROM '{sf_dir}/documents.parquet'"
    ).df()
    contents = []
    for r in docs.itertuples(index=False):
        html = (f"<html><head><title>d{r.doc_id}</title>"
                "<script>var x = 1 < 2;</script></head>"
                '<body><nav><a href="/">home</a> | <a href="/a">about</a>'
                f"</nav><header><h1>{r.source}</h1></header>"
                f"<!-- ad slot --><p>{r.text}</p>"
                "<footer>&copy; 2026</footer></body></html>")
        contents.append(_main_content_of(html, 20, 0.4))
    return pa.table({
        "doc_id": pa.array(list(docs["doc_id"]), pa.int64()),
        "content": pa.array(contents, pa.string()),
    })


def _pdf_text_table(corpus: Corpus, n_docs: int) -> pa.Table:
    """pdf_text_extract expectation, computed PDF-FREE: the text lines a
    correct writer+parser round-trip must reproduce are exactly the raw
    text spans in offset order (operators/pdf.py:_text_lines twin)."""
    ids, n_lines, texts = [], [], []
    for doc in corpus.docs[:n_docs]:
        lines = [s["text"] for s in sorted(doc["spans"],
                                           key=lambda s: s["offset"])
                 if s["kind"] == "text"]
        ids.append(doc["doc_id"])
        n_lines.append(len(lines))
        texts.append("\n".join(lines))
    return pa.table({"doc_id": pa.array(ids, pa.string()),
                     "n_lines": pa.array(n_lines, pa.int32()),
                     "text": pa.array(texts, pa.string())})


# -- main -------------------------------------------------------------------

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    corpus = Corpus(CAP_PIPELINE)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(EXPECTED_DIR, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows", flush=True)

    spans = _span_rows(corpus, CAP_PIPELINE)
    write("ocr_extract_spans", _spans_table(spans))
    # span gates: each row of the registry's table names its twin
    twins = {
        "raw": lambda: [r for r in spans
                        if r["doc_id"] < f"doc-{CAP_MEDIA:08d}"],
        "color": lambda: _color_jpeg_span_rows(corpus, CAP_MEDIA),
        "color_prog": lambda: _color_jpeg_span_rows(corpus, CAP_MEDIA,
                                                    progressive=True),
        "bilevel": lambda: _bilevel_span_rows(corpus, CAP_MEDIA),
        "hin": lambda: _span_rows(corpus, CAP_MEDIA, langs=("hin",)),
    }
    tables: dict[str, pa.Table] = {}
    for name, gate in _SPAN_GATES.items():
        if gate.expect not in tables:
            tables[gate.expect] = _spans_table(twins[gate.expect]())
        write(name, tables[gate.expect])
    write("pdf_text_extract", _pdf_text_table(corpus, CAP_MEDIA))
    hier = list(_hierarchy_rows(corpus, CAP_PIPELINE))
    write("ocr_hierarchy", _hierarchy_table(hier))
    write("ocr_layout_only", _layout_table(corpus, CAP_PIPELINE))
    write("ocr_word_font_attrs", _font_attrs_table(hier))
    # embedded-DPI gate: TIFF re-encode with XResolution=192; pointsize
    # must follow the embedded value (metadata > table column > default)
    write("ocr_dpi_font_attrs", _font_attrs_table(
        list(_hierarchy_rows(corpus, CAP_MEDIA, ppi=192))))
    # audio tier: single-process twin of operators.multimodal.
    # audio_features over the same deterministic clips (shared
    # codecs_wav.wav_features kernel -> bit-identical doubles)
    from org_dharts_dia_tesseract_spark.codecs_wav import wav_features
    from org_dharts_dia_tesseract_spark.datagen import audio_row_for
    arows = []
    for i in range(CAP_MEDIA):
        ref = f"aud-{i:08d}"
        arows.append({"audio_ref": ref,
                      **wav_features(audio_row_for(ref)["payload"])})
    audio_tbl = pa.table({
        "audio_ref": pa.array([r["audio_ref"] for r in arows], pa.string()),
        "n_samples": pa.array([r["n_samples"] for r in arows], pa.int32()),
        "channels": pa.array([r["channels"] for r in arows], pa.int32()),
        "sample_rate": pa.array([r["sample_rate"] for r in arows],
                                pa.int32()),
        "duration_s": pa.array([r["duration_s"] for r in arows],
                               pa.float64()),
        "rms": pa.array([r["rms"] for r in arows], pa.float64()),
        "peak": pa.array([r["peak"] for r in arows], pa.float64()),
        "zero_crossing_rate": pa.array(
            [r["zero_crossing_rate"] for r in arows], pa.float64()),
    })
    write("audio_features", audio_tbl)
    # the drop-policy gate shares the clean expectation: the gate's
    # input is the same 200 clips PLUS injected undecodable payloads,
    # run with on_error='drop' — the corrupt rows must vanish without
    # perturbing any surviving value, so "clean expectation" IS the
    # oracle for "drop exactly the corrupt rows"
    write("audio_features_drop_policy", audio_tbl)
    # video tier: single-process twin of operators.multimodal.
    # video_frame_features over the same deterministic MJPEG-in-AVI
    # clips (shared codecs_avi.avi_frame_features kernel, every 2nd
    # frame -> bit-identical doubles)
    from org_dharts_dia_tesseract_spark.codecs_avi import \
        avi_frame_features
    from org_dharts_dia_tesseract_spark.datagen import video_row_for
    vrows = []
    for i in range(CAP_MEDIA):
        ref = f"vid-{i:08d}"
        for feats in avi_frame_features(video_row_for(ref)["payload"],
                                        every_k=2):
            vrows.append({"video_ref": ref, **feats})
    video_tbl = pa.table({
        "video_ref": pa.array([r["video_ref"] for r in vrows],
                              pa.string()),
        "frame_idx": pa.array([r["frame_idx"] for r in vrows],
                              pa.int32()),
        "n_frames": pa.array([r["n_frames"] for r in vrows], pa.int32()),
        "width": pa.array([r["width"] for r in vrows], pa.int32()),
        "height": pa.array([r["height"] for r in vrows], pa.int32()),
        "fps": pa.array([r["fps"] for r in vrows], pa.int32()),
        "mean_luma": pa.array([r["mean_luma"] for r in vrows],
                              pa.float64()),
        "ink_ratio": pa.array([r["ink_ratio"] for r in vrows],
                              pa.float64()),
    })
    write("video_frame_features", video_tbl)
    # video drop-policy gate shares the clean expectation (same
    # rationale as the audio one above)
    write("video_frame_features_drop_policy", video_tbl)
    # PQ ANN twin: same numpy kernels (similarity._pq_*_np) over the
    # same embeddings parquet; like html_main_content this expectation
    # is per-sf (trained on the sf dir's vectors; default sf0.01 = the
    # driver's gate scale)
    import numpy as np
    from org_dharts_dia_tesseract_spark.operators.similarity import (
        _as_f64, _pq_adc_ip_np, _pq_encode_np, _pq_train_np)
    et = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    order = np.argsort(et["vec_id"].to_numpy())
    ids = et["vec_id"].to_numpy()[order]
    X = _as_f64([et["embedding"][int(i)].as_py() for i in order])
    # this twin trains on ALL vectors; the Spark side trains on a
    # hash-spread sample capped at init_sample=8192, and the two train
    # on the same set only while the corpus fits the cap — fail loudly
    # (rather than hash-mismatch bafflingly) if a bigger sf breaks that
    assert len(X) <= 8192, (
        f"embeddings corpus ({len(X)} rows) exceeds the Spark side's "
        "init_sample=8192: the all-vector oracle twin no longer matches "
        "sample-trained PQ/IVF-PQ; regenerate at a smaller sf or raise "
        "init_sample in the gate queries")
    books = _pq_train_np(X, m=8, ks=16)
    codes = _pq_encode_np(X, books)
    prows = []
    for qid in [i for i in ids if i < 5]:
        qi = int(np.nonzero(ids == qid)[0][0])
        s = _pq_adc_ip_np(X[qi], books, codes)
        keep = np.lexsort((ids, -s))
        rk = 0
        for b in keep:
            if ids[b] == qid:
                continue
            rk += 1
            if rk > 5:
                break
            prows.append({"q_id": int(qid), "vec_id": int(ids[b]),
                          "adc_ip": float(s[b]), "rk": rk})
    write("pq_topk_adc", pa.table({
        "q_id": pa.array([r["q_id"] for r in prows], pa.int64()),
        "vec_id": pa.array([r["vec_id"] for r in prows], pa.int64()),
        "adc_ip": pa.array([r["adc_ip"] for r in prows], pa.float64()),
        "rk": pa.array([r["rk"] for r in prows], pa.int32()),
    }))
    # composed IVF-PQ twin (probe-all): coarse + residual codebooks on
    # the same id-ordered sample; score = q.centroid + ADC(q, residual)
    from org_dharts_dia_tesseract_spark.operators.similarity import (
        _ivfpq_encode_np, _ivfpq_ip_np, _ivfpq_train_np)
    C, rbooks = _ivfpq_train_np(X, n_lists=8, m=8, ks=16)
    assign, rcodes = _ivfpq_encode_np(X, C, rbooks)
    irows = []
    for qid in [i for i in ids if i < 5]:
        qi = int(np.nonzero(ids == qid)[0][0])
        s = _ivfpq_ip_np(X[qi], C, rbooks, assign, rcodes)
        keep = np.lexsort((ids, -s))
        rk = 0
        for b in keep:
            if ids[b] == qid:
                continue
            rk += 1
            if rk > 5:
                break
            irows.append({"q_id": int(qid), "vec_id": int(ids[b]),
                          "adc_ip": float(s[b]), "rk": rk})
    write("ivfpq_topk_probe_all", pa.table({
        "q_id": pa.array([r["q_id"] for r in irows], pa.int64()),
        "vec_id": pa.array([r["vec_id"] for r in irows], pa.int64()),
        "adc_ip": pa.array([r["adc_ip"] for r in irows], pa.float64()),
        "rk": pa.array([r["rk"] for r in irows], pa.int32()),
    }))
    # persisted-index twin (nprobe=2 of 8): same model as above, but
    # each query scores ONLY vectors assigned to its 2 nearest coarse
    # lists — the pruning the Spark side realizes as list_id
    # PartitionFilters over stored codes (no re-encode)
    xrows = []
    for qid in [i for i in ids if i < 5]:
        qi = int(np.nonzero(ids == qid)[0][0])
        qd = ((C - X[qi]) ** 2).sum(axis=1)
        plists = np.argsort(qd, kind="stable")[:2]
        mask = np.isin(assign, plists)
        sub_ids = ids[mask]
        s = _ivfpq_ip_np(X[qi], C, rbooks, assign[mask], rcodes[mask])
        keep = np.lexsort((sub_ids, -s))
        rk = 0
        for b in keep:
            if sub_ids[b] == qid:
                continue
            rk += 1
            if rk > 5:
                break
            xrows.append({"q_id": int(qid), "vec_id": int(sub_ids[b]),
                          "adc_ip": float(s[b]), "rk": rk})
    write("ivfpq_indexed_topk", pa.table({
        "q_id": pa.array([r["q_id"] for r in xrows], pa.int64()),
        "vec_id": pa.array([r["vec_id"] for r in xrows], pa.int64()),
        "adc_ip": pa.array([r["adc_ip"] for r in xrows], pa.float64()),
        "rk": pa.array([r["rk"] for r in xrows], pa.int32()),
    }))
    # SemDeDup twin: shared kernels (_kmeans_np coarse model over the
    # same id-sorted vectors = the Spark side's full-corpus-at-gate-
    # scale sample, _centroid_dists assignment, _semdedup_prune_np
    # greedy leader prune per cluster) -> kept ids hash bit-exact.
    # Per-sf like the PQ twins (same init_sample assertion above).
    from org_dharts_dia_tesseract_spark.operators.similarity import (
        _centroid_dists, _kmeans_np, _semdedup_prune_np)
    C8 = _kmeans_np(X, 8, 3)
    sd_assign = _centroid_dists([list(map(float, c)) for c in C8])(
        pd.Series(list(X))).argmin(axis=1)
    sd_ids, sd_lists = [], []
    for c in range(8):
        mask = sd_assign == c
        for kid in _semdedup_prune_np(ids[mask], X[mask], 0.35):
            sd_ids.append(int(kid))
            sd_lists.append(c)
    write("semdedup_kept", pa.table({
        "vec_id": pa.array(sd_ids, pa.int64()),
        "list_id": pa.array(sd_lists, pa.int32()),
    }))
    # semdedup_indexed twin: the persisted-index path prunes the SAME
    # clustering (ivf_write_index trains kmeans_centroids with identical
    # defaults over the identical id-sorted full-corpus-at-gate-scale
    # sample), so the kept set is bit-identical to semdedup_kept's —
    # what the gate adds is the read path: assignment comes from stored
    # list_id partitions, never an assignment UDF.
    write("semdedup_indexed", pa.table({
        "vec_id": pa.array(sd_ids, pa.int64()),
        "list_id": pa.array(sd_lists, pa.int32()),
    }))
    write("ocr_unlv_text", _unlv_table(hier))
    write("ocr_training_corpus", _training_table(spans))
    write("ocr_annotated_pages", _annotated_table(corpus, CAP_ANNOTATED))
    write("ocr_page_osd", _osd_table(corpus, CAP_MEDIA))
    write("ocr_tiff_merge", _tiff_merge_table(corpus, CAP_MEDIA))
    write("html_main_content", _html_main_table(sf_dir))


if __name__ == "__main__":
    main()
