"""Per-region recognition: nearest-template glyph classification.

Rebuilds the native Recognize stage (contract TessAPI.java:444-462,
surfaced by ImageAnalyzerFactory.recognize:491-507). The 'language pack'
is the deterministic glyph atlas (glyphs.py). Supports the char-whitelist
config (tessdata/configs/digits: tessedit_char_whitelist) by restricting
the template set.

Text/confidence roll up the hierarchy exactly as the cursor observes them
(RecognitionResultsIterator.getText/getConfidence:70-89): word = joined
symbols, line = words joined by ' ', para = lines joined by '\n',
block = paras joined by '\n'; confidence at a node = mean of child
confidences (symbol confidence = normalized template match score).
"""

from __future__ import annotations

import re

import numpy as np

from ..errors import InvalidParameterError
from ..glyphs import CHARSET, GLYPH_AREA, GLYPH_H, GLYPH_W, atlas_matrix
from .segment import Node, TEXT_KINDS

_NUMERIC_RE = re.compile(r"^[0-9.,\-]+$")   # R5 isNumeric (ResultHandle:145-151)


def recognize_blocks(blocks: list[Node], whitelist: str | None = None,
                     langs: tuple[str, ...] = ("eng",)) -> None:
    """Classify every SYMBOL node and roll text/confidence up, in place.

    `langs` is the resolved language load order (TesseractHandle.init:
    399-459 '[~]lang[+[~]lang]*' algebra, resolved by
    functions.config.resolve_languages): templates are the concatenation
    of every loaded pack's atlas, so the loaded set CHANGES recognition
    output, not just config state."""
    mat, chars = atlas_matrix(tuple(langs))
    if whitelist is not None:
        keep = [i for i, c in enumerate(chars) if c in set(whitelist)]
        if not keep:
            # mirrors InvalidParameterException on unusable config values
            # (InvalidParameterException.java:26-55)
            raise InvalidParameterError(
                "char whitelist excludes the entire atlas charset",
                {"tessedit_char_whitelist": whitelist})
        mat, chars = mat[keep], "".join(chars[i] for i in keep)
    symbols: list[Node] = []

    def collect(n: Node) -> None:
        if n.level == "SYMBOL":
            symbols.append(n)
        for c in n.children:
            collect(c)

    for b in blocks:
        collect(b)
    if symbols:
        # one (n, AREA) buffer filled via row views: each bitmap cropped
        # or zero-padded to the glyph cell, without n temporary arrays
        # (this is the per-page hot loop)
        flat = np.zeros((len(symbols), GLYPH_AREA), dtype=np.int16)
        for j, s in enumerate(symbols):
            bmp = s.bitmap
            h = min(bmp.shape[0], GLYPH_H)
            w = min(bmp.shape[1], GLYPH_W)
            flat[j].reshape(GLYPH_H, GLYPH_W)[:h, :w] = bmp[:h, :w]
        dists = np.abs(flat[:, None, :] - mat[None, :, :]).sum(axis=2)
        idxs = np.argmin(dists, axis=1)
        confs = 100.0 * (1.0 - dists[np.arange(len(symbols)), idxs] / GLYPH_AREA)
        # one vectorized float32 round-trip instead of np.float32() per
        # symbol; .tolist() yields plain Python floats/ints
        confs32 = confs.astype(np.float32).astype(np.float64).tolist()
        for s, i, cf in zip(symbols, idxs.tolist(), confs32):
            s.text = chars[i]
            s.confidence = cf

    def word_confs(n: Node) -> list[float]:
        if n.level == "WORD":
            return [n.confidence] if n.confidence is not None else []
        return [c for ch in n.children for c in word_confs(ch)]

    def rollup(n: Node) -> None:
        for c in n.children:
            rollup(c)
        if n.level == "SYMBOL" or not n.block_type in TEXT_KINDS:
            return
        parts = [c.text for c in n.children if c.text is not None]
        sep = {"WORD": "", "TEXTLINE": " ", "PARA": "\n", "BLOCK": "\n"}[n.level]
        n.text = sep.join(parts) if parts else None
        if n.level == "WORD":
            confs = [c.confidence for c in n.children
                     if c.confidence is not None]
        else:
            # confidence at any higher level = mean over contained WORDs
            # (getConfidence contract: mean *word* confidence,
            # RecognitionResultsIterator.java:80-89)
            confs = word_confs(n)
        # sum()/len() over the Python list: same value as np.mean after
        # the float32 round (differences are ~1e-13 relative, far below
        # float32 resolution), without the ndarray conversion per node
        n.confidence = (float(np.float32(sum(confs) / len(confs)))
                        if confs else None)

    for b in blocks:
        rollup(b)


def font_attributes(word: Node, line_height: int, ppi: int) -> dict:
    """FontAttributes analog (FontAttributes.java:28-177): 9 attrs.

    We render a single fixed atlas, so attribute *detection* is geometric/
    density-based but deterministic: pointsize derives from line height and
    source resolution (printer points = px * 72 / ppi,
    FontAttributes.java:91-95 + TesseractHandle.setSourceResolution:511-520).
    """
    l, t, r, b = word.box
    density = 0.0
    n_syms = len(word.children)
    if n_syms:
        # bitmap values are {0,1}: integer sum / size is the exact mean
        ds = [float(c.bitmap.sum()) / c.bitmap.size for c in word.children
              if c.bitmap is not None]
        density = sum(ds) / len(ds) if ds else 0.0
    return {
        "bold": bool(density > 0.55),
        "italic": False,
        "underlined": False,
        "monospace": True,
        "serif": False,
        "smallcaps": False,
        "pointsize": int(round(line_height * 72.0 / max(ppi, 1))),
        "font_id": 0,
        "font_name": "atlas-5x7",
    }


def is_numeric(text: str | None) -> bool:
    return bool(text) and _NUMERIC_RE.match(text) is not None


def typography_flags(sym: Node, line_box, baseline_y: int) -> dict:
    """R6 isSubscript/isSuperscript/isDropcap (ResultHandle:159-193):
    symbol geometry vs its line's baseline / height."""
    sl, st, sr, sb = sym.box
    ll, lt, lr, lb = line_box
    line_h = lb - lt
    return {
        "is_subscript": bool(sb > baseline_y + max(1, line_h // 4)),
        "is_superscript": bool(sb < baseline_y - max(1, line_h // 3)),
        "is_dropcap": bool((sb - st) > 1.5 * line_h),
    }
