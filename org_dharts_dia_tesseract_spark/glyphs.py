"""Deterministic 5x7 glyph atlas.

The renderer (datagen) draws text with these glyphs and the recognizer
(oracle.recognize / the Spark recognition stage) classifies symbol bitmaps
by nearest-template match against the same atlas. This mirrors the
reference's split between rendering-time ground truth and classify-time
templates (the native "tessdata" language atlas loaded by
TesseractHandle.init, /root/reference/src/org/dharts/dia/tesseract/tess4j/
TesseractHandle.java:399-459) — the atlas is our "language pack".

Glyph shapes are pseudo-random but deterministic (seed fixed): legibility
is irrelevant, only (a) determinism, (b) per-column ink coverage so column
projections never split a glyph, and (c) pairwise hamming separation so
nearest-template classification is unambiguous.
"""

from __future__ import annotations

import numpy as np

GLYPH_W = 5
GLYPH_H = 7
GLYPH_AREA = GLYPH_W * GLYPH_H

# Closed charset: mirrors the whitelist idea of tessdata/configs/digits
# (tessedit_char_whitelist) — a fixed alphabet the classifier knows.
CHARSET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz"
    "0123456789"
    ".,:;'\"-()!?"
)

_MIN_PAIR_HAMMING = 6
_SEED = 42

# Installed "language packs" (tessdata analog): name -> atlas seed. Each
# pack is a full glyph atlas over the same closed charset; 'eng' is the
# default and the one the renderer draws with, so recognizing under a
# different pack (init 'hin') yields different — but deterministic —
# text, exactly as swapping tessdata packs changes Tesseract's output
# (TesseractHandle.init:399-459 language spec).
LANGUAGE_PACKS = {"eng": _SEED, "hin": 1042}
DEFAULT_LANGS = ("eng",)


def _gen_atlas(seed: int = _SEED) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    atlas: dict[str, np.ndarray] = {}
    chosen: list[np.ndarray] = []
    for ch in CHARSET:
        while True:
            g = (rng.random((GLYPH_H, GLYPH_W)) < 0.45).astype(np.uint8)
            # every column AND every row must carry ink so projection-
            # profile segmentation treats a glyph as one contiguous run in
            # both axes (a shared blank row would split a textline)
            for c in range(GLYPH_W):
                if g[:, c].sum() == 0:
                    g[int(rng.integers(0, GLYPH_H)), c] = 1
            for r in range(GLYPH_H):
                if g[r].sum() == 0:
                    g[r, int(rng.integers(0, GLYPH_W))] = 1
            if g.sum() < 8:
                continue
            if all(int((g != o).sum()) >= _MIN_PAIR_HAMMING for o in chosen):
                atlas[ch] = g
                chosen.append(g)
                break
    return atlas


_ATLASES: dict[str, dict[str, np.ndarray]] = {}


def atlas(lang: str = "eng") -> dict[str, np.ndarray]:
    """char -> (7,5) uint8 {0,1} bitmap for one language pack.
    Cached; deterministic. Unknown pack -> KeyError (init failure)."""
    if lang not in _ATLASES:
        _ATLASES[lang] = _gen_atlas(LANGUAGE_PACKS[lang])
    return _ATLASES[lang]


def atlas_matrix(langs: tuple[str, ...] = DEFAULT_LANGS
                 ) -> tuple[np.ndarray, str]:
    """(N*len(langs), 35) flattened template matrix + the aligned char
    string (CHARSET repeated per pack, in load order). Classification
    over the concatenation is the multi-language recognition mode:
    nearest template across ALL loaded packs wins; ties break to the
    earliest index, i.e. the earliest-loaded language."""
    mats, chars = [], []
    for lang in langs:
        a = atlas(lang)
        mats.append(np.stack([a[ch].ravel() for ch in CHARSET]))
        chars.append(CHARSET)
    return np.concatenate(mats).astype(np.int16), "".join(chars)


def classify(bitmap: np.ndarray) -> tuple[str, float]:
    """Nearest-template classification of one (7,5) {0,1} bitmap.

    Returns (char, confidence 0..100). Confidence is the normalized
    inverse hamming distance x 100, mirroring the 0-100 float confidence
    contract of RecognitionResultsIterator.getConfidence
    (/root/reference/src/org/dharts/dia/tesseract/
    RecognitionResultsIterator.java:80-89). Ties break to the earliest
    charset position (deterministic).
    """
    mat, chars = atlas_matrix()
    flat = bitmap.ravel().astype(np.int16)
    dists = np.abs(mat - flat[None, :]).sum(axis=1)
    idx = int(np.argmin(dists))
    conf = 100.0 * (1.0 - float(dists[idx]) / GLYPH_AREA)
    return chars[idx], conf
