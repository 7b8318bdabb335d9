"""Deterministic synthetic corpus: interleaved text+media documents.

Produces the authoritative input shape from BASELINE.json `input_hint`:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)
    media(media_ref: string, width:int, height:int, bands:int,
          dpi:int|null, payload: binary)   -- raw row-major uint8, no codec

Media payloads are rendered pages: text drawn from the deterministic glyph
atlas, black-on-white with mild deterministic greyscale noise, optional
solid-rectangle image regions and separator bars producing non-text blocks
(FLOWING_IMAGE / HORZ_LINE kinds, /root/reference/src/org/dharts/dia/
tesseract/PublicTypes.java:154-166). The multi-page-document idea
(ImageIOHelper.createTiffFiles, tess4j/ImageIOHelper.java:74-123: a
document is a sequence of page images) maps to several image spans per doc.

Everything is keyed by integer seeds derived from ids — regenerating any
single page is reproducible in isolation (needed for distributed render).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

from .glyphs import GLYPH_H, GLYPH_W, atlas

# Layout geometry contract shared by renderer, oracle and the Spark
# segmentation stage. Gaps are strictly ordered:
#   CHAR_GAP < WORD_GAP < LINE_GAP < PARA_GAP < BLOCK_GAP < COL_GAP
CHAR_GAP = 1
WORD_GAP = 4
LINE_GAP = 3
PARA_GAP = 7
BLOCK_GAP = 13
COL_GAP = 17
MARGIN = 6

INK_MAX = 40      # ink pixels drawn in [0, INK_MAX)
BG_MIN = 215      # background pixels drawn in [BG_MIN, 256)

_VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "page", "block", "word", "line", "glyph", "raster", "span",
    "data", "query", "scale", "order", "text", "image", "layout", "read",
    "alpha", "delta", "gamma", "omega", "north", "south", "east", "west",
]


def _seed_from(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


# --------------------------------------------------------------------------
# Page spec & renderer
# --------------------------------------------------------------------------

@dataclass
class BlockSpec:
    """One block on a page, in reading order within its column."""
    kind: str                       # 'text' | 'image' | 'hline'
    paras: list[list[str]] = field(default_factory=list)  # text: paras of lines
    w: int = 0                      # image/hline: explicit size
    h: int = 0


@dataclass
class PageSpec:
    columns: list[list[BlockSpec]]  # 1 or 2 columns, each a block list

    def reading_order_blocks(self) -> list[BlockSpec]:
        out = []
        for col in self.columns:
            out.extend(col)
        return out


def _render_line(text: str) -> np.ndarray:
    """One text line -> (GLYPH_H, W) {0,1} ink bitmap."""
    a = atlas()
    cols: list[np.ndarray] = []
    first = True
    for word in text.split(" "):
        if word == "":
            continue
        if not first:
            cols.append(np.zeros((GLYPH_H, WORD_GAP), dtype=np.uint8))
        first = False
        for i, ch in enumerate(word):
            if i:
                cols.append(np.zeros((GLYPH_H, CHAR_GAP), dtype=np.uint8))
            cols.append(a.get(ch, a["?"]))
    if not cols:
        return np.zeros((GLYPH_H, GLYPH_W), dtype=np.uint8)
    return np.concatenate(cols, axis=1)


def _render_text_block(paras: list[list[str]]) -> np.ndarray:
    rows: list[np.ndarray] = []
    width = 0
    rendered: list[list[np.ndarray]] = []
    for para in paras:
        lines = [_render_line(ln) for ln in para if ln.strip()]
        if lines:
            rendered.append(lines)
            width = max(width, max(l.shape[1] for l in lines))
    for pi, lines in enumerate(rendered):
        if pi:
            rows.append(np.zeros((PARA_GAP, width), dtype=np.uint8))
        for li, line in enumerate(lines):
            if li:
                rows.append(np.zeros((LINE_GAP, width), dtype=np.uint8))
            pad = np.zeros((GLYPH_H, width - line.shape[1]), dtype=np.uint8)
            rows.append(np.concatenate([line, pad], axis=1))
    if not rows:
        return np.zeros((GLYPH_H, GLYPH_W), dtype=np.uint8)
    return np.concatenate(rows, axis=0)


def _render_block(b: BlockSpec) -> np.ndarray:
    if b.kind == "text":
        return _render_text_block(b.paras)
    if b.kind == "image":
        return np.ones((b.h, b.w), dtype=np.uint8)
    if b.kind == "hline":
        return np.ones((2, b.w), dtype=np.uint8)
    raise ValueError(b.kind)


def render_page(spec: PageSpec, noise_key: str) -> np.ndarray:
    """Render a page spec to a greyscale uint8 raster (H, W).

    Ink ~ [0, INK_MAX), background ~ [BG_MIN, 255] with deterministic noise
    keyed by noise_key, so binarization (Otsu) is a real, non-trivial step.
    """
    col_imgs: list[np.ndarray] = []
    for col in spec.columns:
        blocks = [_render_block(b) for b in col]
        width = max(b.shape[1] for b in blocks)
        rows: list[np.ndarray] = []
        for i, blk in enumerate(blocks):
            if i:
                rows.append(np.zeros((BLOCK_GAP, width), dtype=np.uint8))
            pad = np.zeros((blk.shape[0], width - blk.shape[1]), dtype=np.uint8)
            rows.append(np.concatenate([blk, pad], axis=1))
        col_imgs.append(np.concatenate(rows, axis=0))
    height = max(c.shape[0] for c in col_imgs)
    padded = []
    for i, c in enumerate(col_imgs):
        if i:
            padded.append(np.zeros((height, COL_GAP), dtype=np.uint8))
        padded.append(
            np.concatenate(
                [c, np.zeros((height - c.shape[0], c.shape[1]), dtype=np.uint8)],
                axis=0,
            )
        )
    ink = np.concatenate(padded, axis=1)
    ink = np.pad(ink, MARGIN)
    rng = np.random.default_rng(_seed_from("noise:" + noise_key))
    h, w = ink.shape
    bg_noise = rng.integers(BG_MIN, 256, size=(h, w), dtype=np.int16)
    ink_noise = rng.integers(0, INK_MAX, size=(h, w), dtype=np.int16)
    return np.where(ink == 1, ink_noise, bg_noise).astype(np.uint8)


# --------------------------------------------------------------------------
# Corpus generation
# --------------------------------------------------------------------------

def _rand_words(rng: np.random.Generator, n: int) -> str:
    return " ".join(_VOCAB[int(i)] for i in rng.integers(0, len(_VOCAB), n))


def page_spec_for(media_ref: str) -> PageSpec:
    """Deterministic page content for a media_ref (render anywhere)."""
    rng = np.random.default_rng(_seed_from("page:" + media_ref))
    n_blocks = int(rng.integers(1, 4))
    blocks: list[BlockSpec] = []
    for _ in range(n_blocks):
        roll = rng.random()
        if roll < 0.15:
            blocks.append(
                BlockSpec(kind="image", w=int(rng.integers(20, 60)),
                          h=int(rng.integers(10, 30)))
            )
        elif roll < 0.22:
            blocks.append(BlockSpec(kind="hline", w=int(rng.integers(40, 90))))
        else:
            n_paras = int(rng.integers(1, 3))
            paras = []
            for _ in range(n_paras):
                n_lines = int(rng.integers(1, 3))
                paras.append(
                    [_rand_words(rng, int(rng.integers(1, 4)))
                     for _ in range(n_lines)]
                )
            blocks.append(BlockSpec(kind="text", paras=paras))
    two_col = bool(rng.random() < 0.12) and n_blocks >= 2
    if two_col:
        mid = (n_blocks + 1) // 2
        return PageSpec(columns=[blocks[:mid], blocks[mid:]])
    return PageSpec(columns=[blocks])


def ground_truth_blocks(media_ref: str) -> list[dict]:
    """Generator-side golden block sequence for a page, in reading order.

    [{'kind': 'text'|'image', 'text': <lines joined by \\n, words by ' '>}]
    hline/image both surface as non-text ('image' kind) spans, matching
    PolyBlockType.isText/isImage (PublicTypes.java:178-192).
    """
    spec = page_spec_for(media_ref)
    out = []
    for b in spec.reading_order_blocks():
        if b.kind == "text":
            text = "\n".join("\n".join(p) for p in b.paras)
            out.append({"kind": "text", "text": text})
        else:
            out.append({"kind": "image", "text": None})
    return out


def doc_spans_for(doc_id: str) -> list[dict]:
    """Span structure of one document (no rendering — cheap).

    FIXTURES.md rules: 1-8 spans/doc, ~20% image spans; 1% skew-tail docs
    carry 32-128 image spans (exercises salted repartitioning,
    BASELINE.json north_star).
    """
    rng = np.random.default_rng(_seed_from("doc:" + doc_id))
    skew = rng.random() < 0.01
    if skew:
        n_spans = int(rng.integers(32, 129))
        p_image = 0.97
    else:
        n_spans = int(rng.integers(1, 9))
        p_image = 0.2
    spans = []
    for off in range(n_spans):
        if rng.random() < p_image:
            spans.append({"kind": "image", "text": None,
                          "media_ref": f"m-{doc_id}-{off}", "offset": off})
        else:
            spans.append({"kind": "text",
                          "text": _rand_words(rng, int(rng.integers(2, 9))),
                          "media_ref": None, "offset": off})
    return spans


def media_row_for(media_ref: str) -> dict:
    """Render one referenced page (heavy — distributes over refs)."""
    rng = np.random.default_rng(_seed_from("media:" + media_ref))
    img = render_page(page_spec_for(media_ref), noise_key=media_ref)
    h, w = img.shape
    return {
        "media_ref": media_ref, "width": int(w), "height": int(h),
        "bands": 1,
        "dpi": None if rng.random() < 0.3 else int(rng.choice([72, 96, 300])),
        "payload": img.tobytes(),
    }


def make_doc(doc_id: str) -> tuple[dict, list[dict]]:
    """One interleaved document + its media rows (single-process path)."""
    spans = doc_spans_for(doc_id)
    media_rows = [media_row_for(s["media_ref"])
                  for s in spans if s["kind"] == "image"]
    return {"doc_id": doc_id, "spans": spans}, media_rows


def make_corpus(n_docs: int) -> tuple[list[dict], list[dict]]:
    docs, media = [], []
    for i in range(n_docs):
        d, m = make_doc(f"doc-{i:08d}")
        docs.append(d)
        media.extend(m)
    return docs, media


# --------------------------------------------------------------------------
# Named fixtures (FIXTURES.md section 3)
# --------------------------------------------------------------------------

def fixture_specs() -> dict[str, PageSpec]:
    """Named fixture pages mirroring /root/reference/res/testing images."""
    poetry_lines = [
        ["roses are red", "violets are blue", "spark is fast", "and so are you",
         "the quick brown fox", "jumps over the dog", "a lazy afternoon",
         "in the data north"],
        ["seven more lines", "of modest verse", "each one short",
         "and none the worse", "counting is easy", "when pages behave",
         "blocks split clean"],
        ["the final stanza", "closes the page", "seven lines again",
         "to fill the stage", "one for the road", "one for the test",
         "and one to rest"],
    ]
    return {
        # simple.png analog (TestContext.java:33): 1 block/para/line/word
        "simple": PageSpec(columns=[[BlockSpec("text", [["hello"]])]]),
        # simple_poetry.png analog: exactly 3 BLOCKs, 22 TEXTLINEs
        # (LayoutIteratorTests.java:54,64)
        "simple_poetry": PageSpec(
            columns=[[BlockSpec("text", [[ln] for ln in blk])
                      for blk in poetry_lines]]
        ),
        # non-text-block virtual-child semantics (LayoutIterator.java:176-183)
        "mixed_blocks": PageSpec(columns=[[
            BlockSpec("text", [["text above"]]),
            BlockSpec("image", w=40, h=20),
            BlockSpec("hline", w=60),
            BlockSpec("text", [["text below"]]),
        ]]),
        # XY-cut reading order: column 1 fully precedes column 2
        "two_column": PageSpec(columns=[
            [BlockSpec("text", [["left top"]]), BlockSpec("text", [["left bottom"]])],
            [BlockSpec("text", [["right top"]]), BlockSpec("text", [["right bottom"]])],
        ]),
        # ROI semantics (TesseractHandle.setRectangle:525-529)
        "roi_page": PageSpec(columns=[[
            BlockSpec("text", [["outside roi"]]),
            BlockSpec("text", [["inside roi"]]),
        ]]),
        # digits whitelist (tessdata/configs/digits)
        "digits_page": PageSpec(columns=[[BlockSpec("text", [["3.14 -42 007"]])]]),
    }


def fixture_page(name: str) -> np.ndarray:
    return render_page(fixture_specs()[name], noise_key="fixture:" + name)


def colorize_page(img: np.ndarray) -> np.ndarray:
    """Deterministic synthetic colorization: grey (H,W) -> RGB (H,W,3).

    Drives the color decode paths (3-component YCbCr JPEG) with real
    chroma content: luma is compressed into [26, 230] and chroma ramps
    spatially (Cb left->right, Cr top->bottom, +-14), chosen so no RGB
    channel clips — the transform is exactly invertible to its luma, and
    the ink/background margin (~204 levels) stays far above JPEG loss.
    """
    if img.ndim != 2:
        raise ValueError("colorize_page expects a grey (H, W) page")
    h, w = img.shape
    y = 26.0 + img.astype(np.float64) * 0.8
    cb = (np.arange(w, dtype=np.float64) * 28.0 / max(w - 1, 1)
          - 14.0)[None, :] + np.zeros((h, 1))
    cr = (np.arange(h, dtype=np.float64) * 28.0 / max(h - 1, 1)
          - 14.0)[:, None] + np.zeros((1, w))
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def audio_row_for(audio_ref: str) -> dict:
    """One deterministic synthetic audio clip keyed by ref: a mix of
    2-4 sine partials + low-level noise, 0.2-0.8 s at 8 kHz, mono or
    stereo, 8- or 16-bit PCM WAV — the audio analog of media_row_for
    (opaque binary payload + typed metadata, task-brief multimodal
    tier). Pure numpy + the from-scratch RIFF codec."""
    from .codecs_wav import encode_wav
    rng = np.random.default_rng(_seed_from("audio:" + audio_ref))
    rate = 8000
    n = int(rng.integers(rate // 5, int(rate * 0.8)))
    t = np.arange(n, dtype=np.float64) / rate
    sig = np.zeros(n, dtype=np.float64)
    for _ in range(int(rng.integers(2, 5))):
        freq = float(rng.uniform(80.0, 2000.0))
        amp = float(rng.uniform(0.05, 0.3))
        phase = float(rng.uniform(0.0, 2.0 * np.pi))
        sig += amp * np.sin(2.0 * np.pi * freq * t + phase)
    sig += rng.normal(0.0, 0.01, n)
    sig = np.clip(sig, -0.999, 0.999)
    channels = 2 if rng.random() < 0.3 else 1
    pcm = np.round(sig * 32767.0).astype(np.int16)
    if channels == 2:
        right = np.roll(pcm, int(rng.integers(1, 40)))
        pcm = np.stack([pcm, right], axis=1)
    bits = 8 if rng.random() < 0.25 else 16
    return {
        "audio_ref": audio_ref,
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "payload": encode_wav(pcm, rate, bits=bits),
    }


def video_row_for(video_ref: str) -> dict:
    """One deterministic synthetic MJPEG-in-AVI clip keyed by ref: 3-8
    greyscale frames (48x64) of a dark block sweeping across a light
    page — enough luma structure that per-frame features vary — each
    frame JPEG-encoded by the from-scratch codec, packed into a RIFF/AVI
    container (codecs_avi). The video analog of media_row_for /
    audio_row_for: opaque binary payload + typed metadata."""
    from .codecs_avi import encode_avi_mjpeg
    from .codecs_img import ENCODERS
    rng = np.random.default_rng(_seed_from("video:" + video_ref))
    w, h = 64, 48
    n_frames = int(rng.integers(3, 9))
    fps = int(rng.integers(5, 16))
    bg = int(rng.integers(200, 246))
    fg = int(rng.integers(10, 60))
    bw = int(rng.integers(12, 28))
    bh = int(rng.integers(10, 22))
    y0 = int(rng.integers(0, h - bh))
    frames = []
    for i in range(n_frames):
        img = np.full((h, w), bg, dtype=np.uint8)
        x0 = (i * max(1, (w - bw) // max(n_frames - 1, 1)))
        img[y0:y0 + bh, x0:x0 + bw] = fg
        frames.append(ENCODERS["jpeg"](img))
    return {
        "video_ref": video_ref,
        "width": w,
        "height": h,
        "fps": fps,
        "n_frames": n_frames,
        "payload": encode_avi_mjpeg(frames, w, h, fps),
    }
