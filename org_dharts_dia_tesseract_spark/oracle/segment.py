"""XY-cut page segmentation into the 5-level reading-ordered hierarchy.

Rebuilds the native AnalyseLayout stage (contract: TessAPI.java:420-434;
surfaced by ImageAnalyzerFactory.analyzeLayout, ImageAnalyzerFactory.java:
472-488). Levels mirror LayoutIterator.Level (LayoutIterator.java:97-117):
BLOCK > PARA > TEXTLINE > WORD > SYMBOL, in reading order.

Algorithm: recursive projection-profile cuts. A region first tries a
vertical split on wide blank column bands (multi-column layouts, ordered
left-to-right), then a horizontal split on tall blank row bands (blocks,
top-to-bottom). Leaves are blocks; blocks classify to PolyBlockType kinds
(PublicTypes.java:125-193) by ink density/shape; text blocks split further
into paragraphs / lines / words / symbols by decreasing gap thresholds.

Determinism: all splits derive from integer projections with fixed
thresholds; sibling order is fixed by geometry (left/top ascending). No
adaptive state (TessAPI AdaptToWordStr deliberately not rebuilt — SURVEY
section 4.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..errors import InvalidParameterError
from .cc import fit_baseline

# Gap thresholds sit strictly between the renderer geometry levels
# (datagen: CHAR_GAP=1 < WORD_GAP=4 < LINE_GAP=3.. see datagen.py) but the
# segmenter must work for any page honoring the ordering, not just ours.
SPLIT_GAP = 10   # >= this blank band (rows or cols) => block/column cut
PARA_GAP_MIN = 5   # blank rows >= this inside a block => paragraph break
WORD_GAP_MIN = 3   # blank cols >= this inside a line  => word break

# PolyBlockType vocabulary (PublicTypes.java:125-169)
FLOWING_TEXT = "FLOWING_TEXT"
FLOWING_IMAGE = "FLOWING_IMAGE"
HORZ_LINE = "HORZ_LINE"
VERT_LINE = "VERT_LINE"
UNKNOWN = "UNKNOWN"

TEXT_KINDS = {"FLOWING_TEXT", "HEADING_TEXT", "PULLOUT_TEXT", "TABLE",
              "VERTICAL_TEXT", "CAPTION_TEXT"}   # isText, PublicTypes.java:178-184

LEVELS = ("BLOCK", "PARA", "TEXTLINE", "WORD", "SYMBOL")

# PageSegMode vocabulary (PublicTypes.java:66-120)
PSM_MODES = ("OSD_ONLY", "AUTO_OSD", "AUTO_ONLY", "AUTO", "SINGLE_COLUMN",
             "SINGLE_BLOCK_VERT_TEXT", "SINGLE_BLOCK", "SINGLE_LINE",
             "SINGLE_WORD", "CIRCLE_WORD", "SINGLE_CHAR")

Box = tuple[int, int, int, int]   # (left, top, right, bottom) half-open


@dataclass
class Node:
    """One hierarchy node (materialized analog of the native PAGE_RES tree,
    RecognitionResultsIterator.java:33-38)."""
    level: str
    box: Box
    block_type: str = UNKNOWN
    baseline: Box | None = None
    children: list["Node"] = field(default_factory=list)
    text: str | None = None          # filled by recognition
    confidence: float | None = None
    virtual: bool = False            # non-text block's synthesized child
    bitmap: np.ndarray | None = None  # SYMBOL only: ink crop for recognition


class _InkProfiles:
    """Per-page prefix sums over the {0,1} ink map.

    The XY-cut recursion asks for row/column projection profiles and
    ink-bounding-box trims of arbitrary sub-boxes at every level of the
    hierarchy; computing each one by slicing+summing the 2-D array makes
    the recursion O(area) per node. Two cumulative sums (one along each
    axis) computed ONCE per page make every profile O(h+w) for the box —
    the same integers, just assembled by subtraction, so segmentation
    output is bit-identical to the direct form.
    """

    __slots__ = ("rowcum", "colcum")

    def __init__(self, ink: np.ndarray):
        self.rowcum = ink.cumsum(axis=1, dtype=np.int32)
        self.colcum = ink.cumsum(axis=0, dtype=np.int32)

    def row_profile(self, box: Box) -> np.ndarray:
        """Per-row ink counts over [l:r), rows t..b (== sub.sum(axis=1))."""
        l, t, r, b = box
        right = self.rowcum[t:b, r - 1]
        if l == 0:
            return right
        return right - self.rowcum[t:b, l - 1]

    def col_profile(self, box: Box) -> np.ndarray:
        """Per-col ink counts over [t:b), cols l..r (== sub.sum(axis=0))."""
        l, t, r, b = box
        bot = self.colcum[b - 1, l:r]
        if t == 0:
            return bot
        return bot - self.colcum[t - 1, l:r]


def _trim(prof: _InkProfiles, box: Box) -> Box | None:
    """Shrink box to its ink bounding box; None if empty."""
    l, t, r, b = box
    if r <= l or b <= t:
        return None
    # profiles are 1-D: .nonzero()[0] == np.flatnonzero without the
    # ravel/asanyarray wrapper (hot path: called per XY-cut recursion)
    rows = prof.row_profile(box).nonzero()[0]
    if len(rows) == 0:
        return None
    cols = prof.col_profile(box).nonzero()[0]
    return (l + int(cols[0]), t + int(rows[0]),
            l + int(cols[-1]) + 1, t + int(rows[-1]) + 1)


def _segments(profile: np.ndarray, min_gap: int) -> list[tuple[int, int]]:
    """Split a projection profile at blank runs >= min_gap.

    Returns half-open content segments in ascending order; each segment
    starts and ends at a nonzero profile position (i.e. segments are
    tight along this axis).
    """
    nz = profile.nonzero()[0]
    if len(nz) == 0:
        return []
    segs = []
    pos = int(nz[0])
    for g in (nz[1:] - nz[:-1] > 1).nonzero()[0]:
        gs, ge = int(nz[g] + 1), int(nz[g + 1])
        if ge - gs >= min_gap:
            segs.append((pos, gs))
            pos = ge
    segs.append((pos, int(nz[-1]) + 1))
    return segs


def _xycut(prof: _InkProfiles, box: Box, allow_vsplit: bool,
           out: list[Box]) -> None:
    box2 = _trim(prof, box)
    if box2 is None:
        return
    l, t, r, b = box2
    if allow_vsplit:
        col_segs = _segments(prof.col_profile(box2), SPLIT_GAP)
        if len(col_segs) > 1:
            for cs, ce in col_segs:            # columns: left -> right
                _xycut(prof, (l + cs, t, l + ce, b), True, out)
            return
    row_segs = _segments(prof.row_profile(box2), SPLIT_GAP)
    if len(row_segs) > 1:
        for rs, re in row_segs:                # blocks: top -> bottom
            _xycut(prof, (l, t + rs, r, t + re), True, out)
        return
    out.append(box2)


def classify_block(ink: np.ndarray, box: Box) -> str:
    """PolyBlockType from ink density & shape (the text/media 'kind'
    distinction of PublicTypes.isText/isImage)."""
    l, t, r, b = box
    sub = ink[t:b, l:r]
    h, w = sub.shape
    density = float(sub.sum()) / sub.size if sub.size else 0.0
    if density >= 0.85:
        if h <= 3 and w >= 4 * h:
            return HORZ_LINE
        if w <= 3 and h >= 4 * w:
            return VERT_LINE
        return FLOWING_IMAGE
    return FLOWING_TEXT


def _split_axis(prof: _InkProfiles, box: Box, axis: int,
                min_gap: int) -> list[Box]:
    """Child boxes of `box` split along axis (0=rows, 1=cols), trimmed.

    Segments are already tight along the split axis (see _segments), so
    only the cross axis needs a trim — one profile per child, not three.
    """
    l, t, r, b = box
    out = []
    if axis == 0:
        for s, e in _segments(prof.row_profile(box), min_gap):
            cols = prof.col_profile((l, t + s, r, t + e)).nonzero()[0]
            if len(cols):
                out.append((l + int(cols[0]), t + s,
                            l + int(cols[-1]) + 1, t + e))
    else:
        for s, e in _segments(prof.col_profile(box), min_gap):
            rows = prof.row_profile((l + s, t, l + e, b)).nonzero()[0]
            if len(rows):
                out.append((l + s, t + int(rows[0]),
                            l + e, t + int(rows[-1]) + 1))
    return out


def _build_text_block(ink: np.ndarray, prof: _InkProfiles, box: Box) -> Node:
    blk = Node("BLOCK", box, FLOWING_TEXT, baseline=None)
    for pbox in _split_axis(prof, box, 0, PARA_GAP_MIN):
        para = Node("PARA", pbox, FLOWING_TEXT)
        for lbox in _split_axis(prof, pbox, 0, 1):
            lb = fit_baseline(ink, lbox)
            line = Node("TEXTLINE", lbox, FLOWING_TEXT, baseline=lb)
            # words share their line's baseline fit, interpolated at the
            # word's extent (Tesseract's baseline is a per-line property)
            lx1, ly1, lx2, ly2 = lb
            slope = (ly2 - ly1) / max(lx2 - lx1, 1)
            # ONE symbol-resolution segmentation of the line's column
            # profile; words are runs merged across sub-WORD_GAP gaps
            # (identical boxes to the former per-word re-profiling:
            # _segments(p, WORD_GAP_MIN) merges min_gap=1 runs whose
            # separating gap is below threshold, and a word's column
            # profile restricted to its own rows equals the line's)
            ll, lt, lr, lbt = lbox
            runs = _segments(prof.col_profile(lbox), 1)
            groups: list[list[tuple[int, int]]] = [[runs[0]]] if runs else []
            for prev, nxt in zip(runs, runs[1:]):
                if nxt[0] - prev[1] >= WORD_GAP_MIN:
                    groups.append([])
                groups[-1].append(nxt)
            for g in groups:
                ws, we = g[0][0], g[-1][1]
                rows = prof.row_profile(
                    (ll + ws, lt, ll + we, lbt)).nonzero()[0]
                if len(rows) == 0:
                    continue
                wt = lt + int(rows[0])
                wbm = lt + int(rows[-1]) + 1
                wl, wr = ll + ws, ll + we
                wb = (wl, int(round(ly1 + slope * (wl - lx1))),
                      wr, int(round(ly1 + slope * (wr - lx1))))
                word = Node("WORD", (wl, wt, wr, wbm), FLOWING_TEXT,
                            baseline=wb)
                for s, e in g:
                    srows = prof.row_profile(
                        (ll + s, wt, ll + e, wbm)).nonzero()[0]
                    if len(srows) == 0:
                        continue
                    st = wt + int(srows[0])
                    sb = wt + int(srows[-1]) + 1
                    sl, sr = ll + s, ll + e
                    word.children.append(
                        Node("SYMBOL", (sl, st, sr, sb), FLOWING_TEXT,
                             baseline=word.baseline,
                             bitmap=ink[st:sb, sl:sr].copy())
                    )
                line.children.append(word)
            para.children.append(line)
        blk.children.append(para)
    blk.baseline = blk.children[-1].children[-1].baseline if blk.children else None
    return blk


def _build_nontext_block(box: Box, btype: str) -> Node:
    """Non-text block: exactly one virtual PARA/TEXTLINE/WORD child chain,
    no SYMBOL (LayoutIterator.java:176-183 — 'a non-text block has exactly
    one paragraph/line/word'; SYMBOL iteration skips it)."""
    blk = Node("BLOCK", box, btype)
    para = Node("PARA", box, btype, virtual=True)
    line = Node("TEXTLINE", box, btype, virtual=True)
    word = Node("WORD", box, btype, virtual=True)
    line.children.append(word)
    para.children.append(line)
    blk.children.append(para)
    return blk


def segment(ink: np.ndarray, psm: str = "AUTO", roi: Box | None = None) -> list[Node]:
    """{0,1} ink map -> reading-ordered list of BLOCK nodes.

    psm mirrors PageSegMode (PublicTypes.java:66-120): AUTO / AUTO_OSD /
    AUTO_ONLY do full XY-cut; SINGLE_COLUMN disables vertical cuts;
    SINGLE_BLOCK treats the page as one block; SINGLE_LINE / SINGLE_WORD /
    SINGLE_CHAR short-circuit lower levels.

    roi restricts analysis to a sub-rectangle but coordinates remain
    full-image (TesseractHandle.setRectangle:525-529 + LayoutIterator.java:
    80-83): we analyze the slice and the boxes come out in page coords
    because the ink map is never re-based.
    """
    if psm not in PSM_MODES:
        # PublicTypes.valueOf throws on unknown mode ints (:111-119)
        raise InvalidParameterError(f"unknown page segmentation mode {psm!r}",
                                    {"psm": psm})
    h, w = ink.shape
    page_box: Box = roi if roi is not None else (0, 0, w, h)
    if roi is not None:
        mask = np.zeros_like(ink)
        l, t, r, b = roi
        mask[t:b, l:r] = ink[t:b, l:r]
        ink = mask
    prof = _InkProfiles(ink)
    block_boxes: list[Box] = []
    if psm in ("AUTO", "AUTO_OSD", "AUTO_ONLY", "OSD_ONLY"):
        _xycut(prof, page_box, True, block_boxes)
    elif psm == "SINGLE_COLUMN":
        _xycut(prof, page_box, False, block_boxes)
    else:   # SINGLE_BLOCK / SINGLE_LINE / SINGLE_WORD / SINGLE_CHAR / SINGLE_BLOCK_VERT_TEXT / CIRCLE_WORD
        tb = _trim(prof, page_box)
        if tb is not None:
            block_boxes.append(tb)
    blocks: list[Node] = []
    for bb in block_boxes:
        btype = classify_block(ink, bb)
        if btype in TEXT_KINDS:
            blocks.append(_build_text_block(ink, prof, bb))
        else:
            blocks.append(_build_nontext_block(bb, btype))
    if psm == "SINGLE_LINE":
        blocks = _collapse(blocks, "TEXTLINE")
    elif psm in ("SINGLE_WORD", "CIRCLE_WORD"):
        blocks = _collapse(blocks, "WORD")
    elif psm == "SINGLE_CHAR":
        blocks = _collapse(blocks, "SYMBOL")
    return blocks


def _collapse(blocks: list[Node], keep_level: str) -> list[Node]:
    """For SINGLE_LINE/WORD/CHAR modes: keep only the first chain down to
    keep_level (the page is assumed to contain a single unit)."""
    def prune(node: Node, depth: int) -> None:
        if LEVELS[depth] == keep_level:
            if keep_level != "SYMBOL":
                for child in node.children:
                    prune(child, depth + 1)
            return
        node.children = node.children[:1]
        for child in node.children:
            prune(child, depth + 1)
    for b in blocks[:1]:
        prune(b, 0)
    return blocks[:1]


def detect_justification(para: "Node", tol: int = 3) -> str:
    """ParagraphJustification for a PARA node from its line boxes.

    The reference declares the vocabulary (PublicTypes.java:281-313:
    UNKNOWN/LEFT/CENTER/RIGHT) but never wired a getter — this implements
    the missing capability. Alignment of an edge = its spread across
    lines <= tol px. LEFT wins ties (fully-justified text reads as LEFT,
    matching common hOCR practice); <2 lines is UNKNOWN (one line aligns
    with everything)."""
    lines = [c.box for c in para.children if not c.virtual]
    if len(lines) < 2:
        return "UNKNOWN"
    lefts = [b[0] for b in lines]
    rights = [b[2] for b in lines]
    centers = [(b[0] + b[2]) / 2 for b in lines]
    if max(lefts) - min(lefts) <= tol:
        return "LEFT"
    if max(rights) - min(rights) <= tol:
        return "RIGHT"
    if max(centers) - min(centers) <= tol:
        return "CENTER"
    return "UNKNOWN"


def detect_orientation(ink: np.ndarray, box: Box) -> dict:
    """Block orientation (LayoutIterator.getOrientation:318-354 analog).

    Projection-profile variance argmax across the two axes decides UP vs
    RIGHT (we never render rotated pages, but the computation is real);
    deskew from the baseline slope of the widest row band.
    """
    l, t, r, b = box
    sub = ink[t:b, l:r]
    if sub.size == 0 or sub.sum() == 0:
        return {"orientation": "UP", "writing_direction": "LTR",
                "textline_order": "TTB", "deskew_angle": 0.0}
    rp = sub.sum(axis=1, dtype=np.float64)
    cp = sub.sum(axis=0, dtype=np.float64)
    dr = rp - rp.sum() / rp.size
    dc = cp - cp.sum() / cp.size
    row_var = float((dr * dr).sum() / dr.size)
    col_var = float((dc * dc).sum() / dc.size)
    orientation = "UP" if row_var >= col_var else "RIGHT"
    # deskew from the top textline band only (whole-block fits are skewed
    # by ragged line widths)
    row_ink = sub.any(axis=1)
    first = int(np.argmax(row_ink))
    stop = first
    while stop < sub.shape[0] and row_ink[stop]:
        stop += 1
    x1, y1, x2, y2 = fit_baseline(ink, (l, t + first, r, t + stop))
    dx = max(x2 - x1, 1)
    deskew = float(np.arctan2(-(y2 - y1), dx))   # radians anticlockwise
    deskew = float(np.clip(deskew, -np.pi / 4, np.pi / 4))
    return {"orientation": orientation, "writing_direction": "LTR",
            "textline_order": "TTB", "deskew_angle": deskew}
