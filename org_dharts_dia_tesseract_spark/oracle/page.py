"""Whole-page analysis + document span assembly (single-process oracle).

`analyze_page` is the end-to-end per-page kernel: binarize -> XY-cut
segment -> (optionally) recognize -> materialized hierarchy rows. The
Spark pipeline's Arrow-UDF stages call this same kernel per page, so the
distributed output must equal the oracle's by construction *if and only
if* partitioning / ordering / assembly are right — which is exactly what
the span-sequence invariant tests.

`document_spans` is the oracle for the flagship query: an interleaved
document's ordered (kind, text, media_ref, order) span sequence
(BASELINE.json input_hint invariant).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .binarize import otsu_binarize
from .recognize import font_attributes, recognize_blocks
from .segment import (TEXT_KINDS, Box, Node, detect_justification,
                      detect_orientation, segment)

DEFAULT_PPI = 96


def dictionary_words() -> set[str]:
    """The engine's 'language dictionary' (R4 isDictionaryWord): the
    corpus vocabulary — the analog of the wordlist inside a tessdata
    language pack. Broadcast-sized; lowercased."""
    from ..datagen import _VOCAB
    return {w.lower() for w in _VOCAB}


@dataclass
class PageResult:
    blocks: list[Node]
    width: int
    height: int
    psm: str
    recognized: bool

    def rows(self) -> list[dict]:
        """Flatten to pre-order rows with the id-vector encoding of the
        tree (SURVEY section 1.6): ids are -1 below the row's level. seq is
        the dense pre-order rank — the reading-order 'order' leg."""
        out: list[dict] = []

        def visit(n: Node, ids: dict[str, int]) -> None:
            orient = getattr(n, "orientation_info", None)
            font = getattr(n, "font", None)
            flags = getattr(n, "typo_flags", None)
            row = {
                "level": n.level,
                "block_id": ids.get("BLOCK", -1),
                "para_id": ids.get("PARA", -1),
                "line_id": ids.get("TEXTLINE", -1),
                "word_id": ids.get("WORD", -1),
                "sym_id": ids.get("SYMBOL", -1),
                "seq": len(out),
                "block_type": n.block_type,
                "left": n.box[0], "top": n.box[1],
                "right": n.box[2], "bottom": n.box[3],
                "baseline_x1": n.baseline[0] if n.baseline else None,
                "baseline_y1": n.baseline[1] if n.baseline else None,
                "baseline_x2": n.baseline[2] if n.baseline else None,
                "baseline_y2": n.baseline[3] if n.baseline else None,
                "text": n.text,
                "confidence": n.confidence,
                "is_virtual": n.virtual,
                # PARA-level justification (PublicTypes.java:281-313,
                # declared in the reference but never wired); None elsewhere
                "justification": getattr(n, "justification", None),
                # BLOCK-level orientation (I8); None elsewhere
                "orientation": orient["orientation"] if orient else None,
                "writing_direction": orient["writing_direction"] if orient else None,
                "textline_order": orient["textline_order"] if orient else None,
                "deskew_angle": float(orient["deskew_angle"]) if orient else None,
                # WORD-level font attributes (R3): all 9 of
                # FontAttributes.java:28-59; None elsewhere
                "font_bold": font["bold"] if font else None,
                "font_italic": font["italic"] if font else None,
                "font_underlined": font["underlined"] if font else None,
                "font_monospace": font["monospace"] if font else None,
                "font_serif": font["serif"] if font else None,
                "font_smallcaps": font["smallcaps"] if font else None,
                "font_pointsize": font["pointsize"] if font else None,
                "font_id": font["font_id"] if font else None,
                "font_name": font["font_name"] if font else None,
                "is_dictionary_word": getattr(n, "is_dict", None),
                "is_numeric_word": getattr(n, "is_num", None),
                # SYMBOL-level typography flags (R6); None elsewhere
                "is_subscript": flags["is_subscript"] if flags else None,
                "is_superscript": flags["is_superscript"] if flags else None,
                "is_dropcap": flags["is_dropcap"] if flags else None,
            }
            out.append(row)
            for i, c in enumerate(n.children):
                visit(c, {**ids, c.level: i})

        for bi, b in enumerate(self.blocks):
            visit(b, {"BLOCK": bi})
        return out

    def block_spans(self) -> list[dict]:
        """Reading-ordered block-level spans: the page's contribution to
        the document span sequence. Text blocks -> kind='text' with rolled
        up text; image/line blocks -> kind='image' (PolyBlockType.isText /
        isImage split, PublicTypes.java:178-192)."""
        spans = []
        for i, b in enumerate(self.blocks):
            if b.block_type in TEXT_KINDS:
                spans.append({"kind": "text", "text": b.text, "block_idx": i})
            else:
                spans.append({"kind": "image", "text": None, "block_idx": i})
        return spans

    def page_text(self) -> str:
        """GetUTF8Text analog (TessAPI.java:483-487): text blocks joined by
        blank lines, reading order."""
        return "\n\n".join(b.text for b in self.blocks
                           if b.block_type in TEXT_KINDS and b.text)

    def mean_confidence(self) -> int:
        """MeanTextConf analog (TessAPI.java:514-517): int mean of word
        confidences, 0 when no words."""
        confs = [w.confidence
                 for blk in self.blocks if blk.block_type in TEXT_KINDS
                 for para in blk.children for line in para.children
                 for w in line.children if w.confidence is not None]
        return int(np.mean(confs)) if confs else 0


def decode_payload(payload: bytes, width: int, height: int, bands: int) -> np.ndarray:
    """Media payload -> numpy raster.

    Raw row-major uint8 is the fast path (the rebuild of
    ImageIOHelper.convertImageData:249-257 byte-buffer handoff; zero-copy
    from Arrow on the Spark side), identified by exact length match.
    Otherwise the payload is sniffed for a real codec (the full decode
    surface of ImageIOHelper.java:263-327 — pure-numpy decoders in
    codecs_img.py — plus PDF image XObjects via codecs_pdf, which the
    reference rejects at ImageIOHelper.java:278-282 but the north rule
    names as a main-content tier)."""
    from ..codecs_img import DECODERS, sniff_codec
    codec = sniff_codec(bytes(payload[:8]))
    raw_len = len(payload) == width * height * bands
    if codec is not None:
        # Magic sniff OUTRANKS the raw length heuristic: an encoded
        # payload can collide with w*h*bands by length (observed: a
        # 2929-byte PDF of a 29x101 page), whereas raw pixel bytes that
        # both start with a codec magic AND decode to the declared dims
        # are vanishingly rare — and a shape mismatch falls back to raw.
        try:
            img = DECODERS[codec](bytes(payload))
        except Exception as ex:
            if raw_len:
                # magic was a pixel coincidence — but a corrupt encoded
                # stream whose length happens to equal w*h*bands lands
                # here too, so the fallback is ANNOTATED: a garbage
                # "page" decodes to garbage spans silently otherwise
                import warnings
                # FIXED message text: per-payload details (dims, error
                # type) would defeat the warnings module's dedup and
                # grow each worker's __warningregistry__ without bound
                # on a corrupt-heavy 10^12-doc corpus
                warnings.warn(
                    "payload sniffed as an encoded format but failed to "
                    "decode; length matches the raw metadata — treating "
                    "as raw pixels", RuntimeWarning, stacklevel=2)
                img = None
            else:
                raise ValueError(f"{codec} payload failed to decode "
                                 f"({ex}) and length {len(payload)} != "
                                 f"{width}x{height}x{bands}") from ex
        if img is not None:
            got_bands = 1 if img.ndim == 2 else img.shape[2]
            if img.shape[:2] == (height, width) and got_bands == bands:
                return img
            if not raw_len:
                raise ValueError(
                    f"{codec} payload decodes to {img.shape}, metadata "
                    f"says ({height}, {width}) x {bands}")
    if raw_len:
        arr = np.frombuffer(payload, dtype=np.uint8)
        if bands == 1:
            return arr.reshape(height, width)
        return arr.reshape(height, width, bands)
    raise ValueError(
        f"payload length {len(payload)} != {width}x{height}x{bands} "
        "and no known codec magic")


def resolve_ppi(payload: bytes, table_dpi=None) -> int:
    """The source-resolution chain of ImageIOHelper.readImageData:379-407:
    DPI embedded in the image metadata wins (TIFF XResolution/
    ResolutionUnit, PNG pHYs, JFIF APP0 density, BMP biXPelsPerMeter —
    codecs_img.read_dpi, header parse only), else the media-table dpi
    column, else the screen-resolution default (DEFAULT_PPI=96). Raw
    payloads have no metadata and skip straight to the column/default."""
    from ..codecs_img import read_dpi
    emb = read_dpi(bytes(payload))
    if emb and emb > 0:
        return int(emb)
    if table_dpi is not None and table_dpi == table_dpi:   # not NaN
        t = int(table_dpi)
        if t > 0:
            return t
    return DEFAULT_PPI


def analyze_page(img: np.ndarray, psm: str = "AUTO", roi: Box | None = None,
                 whitelist: str | None = None, recognize: bool = True,
                 ppi: int = DEFAULT_PPI,
                 langs: tuple[str, ...] = ("eng",)) -> PageResult:
    """Full per-page analysis.

    recognize=False mirrors analyzeLayout (layout only, no classification
    — initForAnalysePage, TesseractHandle.java:380-384); recognize=True
    mirrors recognize() (TesseractHandle.recognize:558-567). `langs` is
    the resolved language-pack load order (init's multi-language spec).
    """
    ink = otsu_binarize(img)
    blocks = segment(ink, psm=psm, roi=roi)
    if recognize:
        from .recognize import is_numeric, typography_flags
        recognize_blocks(blocks, whitelist=whitelist, langs=langs)
        wordlist = dictionary_words()
        for blk in blocks:
            if blk.block_type not in TEXT_KINDS:
                continue
            for para in blk.children:
                for line in para.children:
                    lh = line.box[3] - line.box[1]
                    base_y = line.baseline[1] if line.baseline else line.box[3]
                    for w in line.children:
                        w.font = font_attributes(w, lh, ppi)  # type: ignore[attr-defined]
                        w.is_dict = bool(w.text and w.text.lower() in wordlist)  # type: ignore[attr-defined]
                        w.is_num = is_numeric(w.text)  # type: ignore[attr-defined]
                        for sym in w.children:
                            sym.typo_flags = typography_flags(  # type: ignore[attr-defined]
                                sym, line.box, base_y)
    for blk in blocks:
        blk.orientation_info = detect_orientation(ink, blk.box)  # type: ignore[attr-defined]
        if blk.block_type in TEXT_KINDS:
            for para in blk.children:
                para.justification = detect_justification(para)  # type: ignore[attr-defined]
    h, w = ink.shape
    return PageResult(blocks=blocks, width=w, height=h, psm=psm,
                      recognized=recognize)


_OSD_ORIENT = {0: "UP", 90: "RIGHT", 180: "DOWN", 270: "LEFT"}


def detect_page_osd(img: np.ndarray, max_words: int = 24) -> dict:
    """Page-level orientation & script detection (the OSD_ONLY/AUTO_OSD
    page-seg modes, PublicTypes.java:66-71): analyze the page at all four
    90-degree rotations and keep the one whose recognition confidence is
    highest — the rotation-confidence argmax strategy Tesseract's OSD
    uses. Deterministic tie-break: the earliest rotation in (0, 90, 180,
    270) wins on equal score.

    Returns {orientation, rotation_degrees, osd_confidence, script}:
    rotation_degrees is the anticlockwise rotation that uprights the
    text; orientation labels it per the reference's Orientation enum
    (PublicTypes.java:223-234). script is the loaded atlas name (a single
    deterministic glyph set stands in for Tesseract's script packs)."""
    best = None
    for k in range(4):
        rot = np.ascontiguousarray(np.rot90(img, k)) if k else img
        try:
            res = analyze_page(rot, psm="AUTO")
        except Exception:   # degenerate rotation (e.g. blank crop)
            continue
        confs = [w.confidence
                 for blk in res.blocks if blk.block_type in TEXT_KINDS
                 for para in blk.children for line in para.children
                 for w in line.children if w.confidence is not None]
        score = float(np.mean(confs[:max_words])) if confs else 0.0
        if best is None or score > best["osd_confidence"]:
            best = {"orientation": _OSD_ORIENT[k * 90],
                    "rotation_degrees": k * 90,
                    "osd_confidence": score,
                    "script": "atlas-5x7"}
    return best or {"orientation": "UP", "rotation_degrees": 0,
                    "osd_confidence": 0.0, "script": "atlas-5x7"}


def document_spans(doc: dict, media_lookup, psm: str = "AUTO",
                   langs: tuple[str, ...] = ("eng",)) -> list[dict]:
    """Oracle for the flagship query: interleaved doc -> ordered spans.

    media_lookup: media_ref -> media row dict (payload/width/height/bands).
    Output rows: {doc_id, seq, kind, text, media_ref} — seq dense 0..n-1 in
    (offset, within-page reading order). Sub-image spans carry
    media_ref = '<ref>#b<block_idx>' so provenance survives.
    """
    out = []
    spans = sorted(doc["spans"], key=lambda s: s["offset"])
    for s in spans:
        if s["kind"] == "text":
            out.append({"kind": "text", "text": s["text"], "media_ref": None})
        else:
            m = media_lookup(s["media_ref"])
            img = decode_payload(m["payload"], m["width"], m["height"], m["bands"])
            res = analyze_page(img, psm=psm, langs=langs)
            for bs in res.block_spans():
                if bs["kind"] == "text":
                    out.append({"kind": "text", "text": bs["text"],
                                "media_ref": s["media_ref"]})
                else:
                    out.append({"kind": "image", "text": None,
                                "media_ref": f"{s['media_ref']}#b{bs['block_idx']}"})
    for i, r in enumerate(out):
        r["doc_id"] = doc["doc_id"]
        r["seq"] = i
    return out
