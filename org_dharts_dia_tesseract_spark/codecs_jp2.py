"""Pure-Python/numpy JPEG 2000 (ITU-T T.800 Part 1 subset) codec.

Closes the last stubbed format of the reference's ImageIO decode surface
(ImageIOHelper.java:263-327 lists JP2 among TIFF/JPEG/GIF/PNG/BMP/PNM;
the reference delegates to javax.imageio — nothing portable to copy).
This is a from-scratch implementation of the actual coding chain:

- 5/3 reversible integer wavelet (lifting, whole-sample symmetric
  extension, Annex F) — LOSSLESS end to end,
- EBCOT Tier-1 code-block coder (Annex D): the three coding passes
  (significance propagation, magnitude refinement, cleanup with
  run-length mode) over 4-row stripes with the standard context models
  (9 significance + 5 sign + 3 refinement + run-length + uniform),
- the MQ arithmetic coder (Annex C, 47-state Qe table, byte-stuffing),
- Tier-2 packet headers (Annex B): inclusion + zero-bitplane tag trees,
  pass-count code, Lblock length signalling, FF-stuffed bit packing,
- codestream markers (SOC/SIZ/COD/QCD/SOT/SOD/EOC) and the JP2
  container boxes (signature/ftyp/jp2h/jp2c).

Tier-1 runs on one context model shared by encoder and decoder
(`_T1Grid`):
- a padded neighbour-state grid per code-block: for each coefficient, 8
  significance bits and 4 sign bits of its neighbours, updated when a
  coefficient becomes significant, so a context is one list index into
  tables derived from the Annex D ones (`_SIG_CTX`, `_SIGN_CTX`);
- per pass a candidate list in stripe order, taken with numpy from the
  grid's bytearrays, so each pass visits only coefficients it may code:
  SPP the insignificant ones, MRP those significant before the
  bit-plane, CUP the stripe columns still holding an unvisited
  insignificant one;
- one MQ decoder whose state lives in closure cells (`_MQDecoder.decode`
  is the closure).

Supported subset (encoder always writes this; decoder validates and
rejects anything else with a clear error): single tile at origin, 1 or 3
components sampled 1:1 (no MCT — components coded independently), 8-bit
unsigned samples, reversible 5/3 transform, 64x64 code-blocks, one
quality layer, LRCP progression, default precincts (one per resolution),
no SOP/EPH markers, no coding-style extensions (no bypass / reset /
termall / causal / segmentation symbols).

Encoder and decoder are exact inverses (round-trip pinned in
tests/test_codecs.py, including through the OCR pipeline gate); like the
other codecs in this repo they are mutually consistent implementations
of the published spec — there is no external JP2 decoder in this
environment to cross-check byte streams against.
"""

from __future__ import annotations

import functools
import math
import struct

import numpy as np

# ---------------------------------------------------------------------------
# MQ arithmetic coder (T.800 Annex C) — 47-row Qe state table:
# (Qe, NMPS, NLPS, SWITCH)
# ---------------------------------------------------------------------------

_QE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]

# context ids (Annex D): 0-8 significance, 9-13 sign, 14-16 refinement,
# 17 run-length, 18 uniform
_N_CTX = 19
_CTX_RL = 17
_CTX_UNI = 18


def _init_ctx_states() -> tuple[list[int], list[int]]:
    """Initial (index, MPS) per context (T.800 Table D.7): all (0,0)
    except ctx 0 -> state 4, run-length -> 3, uniform -> 46."""
    idx = [0] * _N_CTX
    mps = [0] * _N_CTX
    idx[0] = 4
    idx[_CTX_RL] = 3
    idx[_CTX_UNI] = 46
    return idx, mps


class _MQEncoder:
    """MQ encoder with the Annex C byte-out (FF-stuffing) and flush."""

    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.b: int = -1          # pending output byte; -1 = none yet
        self.out = bytearray()
        self.i, self.mps = _init_ctx_states()

    def encode(self, d: int, cx: int) -> None:
        qe, nmps, nlps, switch = _QE[self.i[cx]]
        a = self.a - qe
        if d == self.mps[cx]:
            # CODEMPS (C.2.5)
            if a & 0x8000:
                self.a = a
                self.c += qe
                return
            if a < qe:                  # conditional exchange
                self.a = qe
            else:
                self.a = a
                self.c += qe
            self.i[cx] = nmps
        else:
            # CODELPS (C.2.6)
            if a < qe:                  # conditional exchange
                self.a = a
                self.c += qe
            else:
                self.a = qe
            if switch:
                self.mps[cx] ^= 1
            self.i[cx] = nlps
        # renormalize
        a = self.a
        c = self.c
        ct = self.ct
        while True:
            a <<= 1
            c <<= 1
            ct -= 1
            if ct == 0:
                self.a, self.c, self.ct = a, c, ct
                self._byteout()
                a, c, ct = self.a, self.c, self.ct
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct

    def _byteout(self) -> None:
        # the >>19 / >>20 extractions truncate to a byte (the spec's B is
        # an 8-bit register): a residual carry above bit 26 is discarded
        # once it has been added into the previous byte.
        c = self.c
        if self.b == 0xFF:
            self._push((c >> 20) & 0xFF)
            self.c = c & 0xFFFFF
            self.ct = 7
        elif c < 0x8000000:
            self._push((c >> 19) & 0xFF)
            self.c = c & 0x7FFFF
            self.ct = 8
        else:
            self.b += 1
            if self.b == 0xFF:
                c &= 0x7FFFFFF
                self._push((c >> 20) & 0xFF)
                self.c = c & 0xFFFFF
                self.ct = 7
            else:
                self._push((c >> 19) & 0xFF)
                self.c = c & 0x7FFFF
                self.ct = 8

    def _push(self, newb: int) -> None:
        if self.b >= 0:
            self.out.append(self.b)
        self.b = newb

    def flush(self) -> bytes:
        """Annex C.2.9 flush; trailing 0xFF is dropped (decoder treats
        past-the-end bytes as 0xFF)."""
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        if self.b >= 0 and self.b != 0xFF:
            self.out.append(self.b)
        self.b = -1
        return bytes(self.out)


# Decoder form of the Qe table: a context's state is one int,
# st = 2 * index + MPS, so a decision reads one list per field.
_ST_QE = [_QE[st >> 1][0] for st in range(2 * len(_QE))]
_ST_NMPS = [2 * _QE[st >> 1][1] + (st & 1) for st in range(2 * len(_QE))]
_ST_NLPS = [2 * _QE[st >> 1][2] + ((st & 1) ^ _QE[st >> 1][3])
            for st in range(2 * len(_QE))]


class _MQDecoder:
    """MQ decoder; reads past-the-end as 0xFF (matching the encoder's
    dropped-trailing-FF convention). The coder state (A, C, CT, the read
    position and the per-context states) lives in closure cells:
    `self.decode` is the closure, so a decision costs no attribute
    lookups."""

    def __init__(self, data: bytes) -> None:
        n = len(data)
        state = [2 * i + m for i, m in zip(*_init_ctx_states())]
        qes, nmps, nlps = _ST_QE, _ST_NMPS, _ST_NLPS
        bp = 0
        c = (data[0] if n else 0xFF) << 16
        ct = 0
        a = 0x8000

        def bytein() -> None:
            nonlocal bp, c, ct
            cur = data[bp] if bp < n else 0xFF
            nxt = data[bp + 1] if bp + 1 < n else 0xFF
            if cur != 0xFF:
                bp += 1
                c += nxt << 8
                ct = 8
            elif nxt > 0x8F:
                c += 0xFF00
                ct = 8
            else:
                bp += 1
                c += nxt << 9
                ct = 7

        def decode(cx: int) -> int:
            nonlocal a, c, ct
            st = state[cx]
            qe = qes[st]
            a -= qe
            if ((c >> 16) & 0xFFFF) < qe:
                # LPS exchange path
                if a < qe:
                    d = st & 1
                    state[cx] = nmps[st]
                else:
                    d = (st & 1) ^ 1
                    state[cx] = nlps[st]
                a = qe
            else:
                c -= qe << 16
                if a & 0x8000:
                    return st & 1
                if a < qe:
                    d = (st & 1) ^ 1
                    state[cx] = nlps[st]
                else:
                    d = st & 1
                    state[cx] = nmps[st]
            while True:                         # renormalize
                if ct == 0:
                    bytein()
                a <<= 1
                c = (c << 1) & 0xFFFFFFFF
                ct -= 1
                if a & 0x8000:
                    return d

        bytein()
        c <<= 7
        ct -= 7
        self.decode = decode


# ---------------------------------------------------------------------------
# 5/3 reversible wavelet (T.800 Annex F, lifting form)
# ---------------------------------------------------------------------------

def _fwd53_axis0(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1-D forward 5/3 along axis 0 of a 2-D int array; returns (lo, hi)
    with len(lo)=ceil(n/2) (even samples), len(hi)=floor(n/2)."""
    n = x.shape[0]
    if n == 1:
        return x.copy(), x[:0]
    ev = x[0::2]
    od = x[1::2]
    # predict: d[i] = od[i] - floor((ev[i] + ev_right[i]) / 2)
    if len(od) == len(ev):          # n even: x[n] -> x[n-2] = ev[-1]
        ev_r = np.concatenate([ev[1:], ev[-1:]])
    else:
        ev_r = ev[1:]
    d = od - (ev[: len(od)] + ev_r) // 2
    # update: s[i] = ev[i] + floor((d[i-1] + d[i] + 2) / 4)
    d_l = np.concatenate([d[:1], d[: len(ev) - 1]])      # d[-1] -> d[0]
    if len(d) >= len(ev):
        d_r = d[: len(ev)]
    else:                            # n odd: d[last] -> d[last-1]
        d_r = np.concatenate([d, d[-1:]])
    s = ev + (d_l + d_r + 2) // 4
    return s, d


def _inv53_axis0(s: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Exact inverse of _fwd53_axis0."""
    if n == 1:
        return s.copy()
    d_l = np.concatenate([d[:1], d[: len(s) - 1]])
    if len(d) >= len(s):
        d_r = d[: len(s)]
    else:
        d_r = np.concatenate([d, d[-1:]])
    ev = s - (d_l + d_r + 2) // 4
    if len(d) == len(ev):
        ev_r = np.concatenate([ev[1:], ev[-1:]])
    else:
        ev_r = ev[1:]
    od = d + (ev[: len(d)] + ev_r) // 2
    out = np.empty((n,) + s.shape[1:], dtype=s.dtype)
    out[0::2] = ev
    out[1::2] = od
    return out


def _dwt53_fwd2d(a: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                         np.ndarray, np.ndarray]:
    """One 2-D analysis level: rows then columns -> (LL, HL, LH, HH)."""
    lo, hi = _fwd53_axis0(a.T)               # along width
    lo, hi = lo.T, hi.T
    ll, lh = _fwd53_axis0(lo)                # along height
    hl, hh = _fwd53_axis0(hi)
    return ll, hl, lh, hh


def _dwt53_inv2d(ll: np.ndarray, hl: np.ndarray, lh: np.ndarray,
                 hh: np.ndarray, h: int, w: int) -> np.ndarray:
    lo = _inv53_axis0(ll, lh, h)
    hi = _inv53_axis0(hl, hh, h)
    return _inv53_axis0(lo.T, hi.T, w).T


def _subband_dims(h: int, w: int, nl: int) -> list[tuple[int, int]]:
    """(h, w) of the LL chain after each split; index l = level."""
    dims = [(h, w)]
    for _ in range(nl):
        hh, ww = dims[-1]
        dims.append(((hh + 1) // 2, (ww + 1) // 2))
    return dims


# ---------------------------------------------------------------------------
# EBCOT Tier-1 (T.800 Annex D)
# ---------------------------------------------------------------------------

def _sig_ctx_table(orient: str) -> list[int]:
    """Flat significance-context LUT indexed h*15 + v*5 + d (h,v in 0..2,
    d in 0..4), per Table D.1."""
    tab = [0] * (3 * 3 * 5)
    for h in range(3):
        for v in range(3):
            for d in range(5):
                if orient == "HH":
                    hv = h + v
                    if d >= 3:
                        c = 8
                    elif d == 2:
                        c = 7 if hv >= 1 else 6
                    elif d == 1:
                        c = 5 if hv >= 2 else (4 if hv == 1 else 3)
                    else:
                        c = 2 if hv >= 2 else (1 if hv == 1 else 0)
                else:
                    hh, vv = (v, h) if orient == "HL" else (h, v)
                    if hh == 2:
                        c = 8
                    elif hh == 1:
                        c = 7 if vv >= 1 else (6 if d >= 1 else 5)
                    elif vv == 2:
                        c = 4
                    elif vv == 1:
                        c = 3
                    else:
                        c = 2 if d >= 2 else d
                tab[h * 15 + v * 5 + d] = c
    return tab


_SIG_LUT = {o: _sig_ctx_table(o) for o in ("LL", "HL", "LH", "HH")}

# sign-coding contexts (Table D.3/D.4): (hc+1)*3 + (vc+1) -> (ctx, xor)
_SIGN_LUT = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}

# Neighbour-state bits of the tier-1 grid. `nbr[q]` holds one
# significance bit per neighbour of q; `ngs[q]` one negative-sign bit per
# horizontal/vertical neighbour (set only with its significance bit).
_W, _E, _N, _S, _NW, _NE, _SW, _SE = 1, 2, 4, 8, 16, 32, 64, 128


def _sig_ctx_by_mask(orient: str) -> list[int]:
    """Significance context per 8-bit neighbour mask (from _SIG_LUT)."""
    lut = _SIG_LUT[orient]
    out = []
    for m in range(256):
        hh = (m & _W > 0) + (m & _E > 0)
        vv = (m & _N > 0) + (m & _S > 0)
        dd = bin(m >> 4).count("1")
        out.append(lut[hh * 15 + vv * 5 + dd])
    return out


def _sign_ctx_by_mask() -> list[tuple[int, int]]:
    """(ctx, xor) per (nbr & 15) | (ngs << 4) (from _SIGN_LUT)."""
    out = []
    for m in range(256):
        def contrib(bit: int) -> int:
            return 0 if not m & bit else (-1 if m & (bit << 4) else 1)
        hc = max(-1, min(1, contrib(_W) + contrib(_E)))
        vc = max(-1, min(1, contrib(_N) + contrib(_S)))
        out.append(_SIGN_LUT[(hc, vc)])
    return out


_SIG_CTX = {o: _sig_ctx_by_mask(o) for o in _SIG_LUT}
_SIGN_CTX = _sign_ctx_by_mask()


@functools.lru_cache(maxsize=32)
def _stripe_scan(h: int, w: int) -> tuple[np.ndarray, ...]:
    """Scan geometry of an h x w code-block on its padded grid (row
    stride w + 2, coefficient (y, x) at (y + 1) * (w + 2) + x + 1):
    - order: every coefficient in stripe order (4-row stripes, column by
      column, top to bottom within a column);
    - cols: (n_columns, 4) positions of each stripe column; a short last
      stripe is filled with position 0, a padding cell kept significant;
    - tops, ends: the first position of each stripe column, and the one
      a row past its last coefficient."""
    ww = w + 2
    hp = -(-h // 4) * 4
    pos = np.zeros((hp, w), dtype=np.int64)
    pos[:h] = (np.arange(1, h + 1)[:, None] * ww
               + np.arange(1, w + 1)[None, :])
    cols = pos.reshape(hp // 4, 4, w).transpose(0, 2, 1).reshape(-1, 4)
    order = cols.reshape(-1)
    tops = cols[:, 0].copy()
    ends = tops + (cols > 0).sum(axis=1) * ww
    out = (order[order > 0], cols, tops, ends)
    for a in out:                    # shared by every caller of the cache
        a.setflags(write=False)
    return out


class _T1Grid:
    """Tier-1 state of one code-block on a padded grid (one cell of
    padding round the block, so neighbour reads need no bounds checks).
    The per-cell bytearrays double as numpy views, from which each pass
    takes its candidate list in stripe order:
    - SPP: the insignificant coefficients;
    - MRP: the coefficients significant before this bit-plane;
    - CUP: the stripe columns still holding an insignificant coefficient
      not visited by this bit-plane's SPP."""

    __slots__ = ("stride", "sig", "vis", "ref", "neg", "nbr", "ngs",
                 "sig_np", "vis_np", "order", "cols", "tops", "ends")

    def __init__(self, h: int, w: int) -> None:
        self.stride = w + 2
        size = (h + 2) * (w + 2)
        self.sig = bytearray(size)    # coefficient is significant
        self.vis = bytearray(size)    # coded by this bit-plane's SPP
        self.ref = bytearray(size)    # refined at least once
        self.neg = bytearray(size)    # coefficient is negative
        self.nbr = bytearray(size)    # significance bits of neighbours
        self.ngs = bytearray(size)    # sign bits of H/V neighbours
        self.sig[0] = 1               # the filler cell of short columns
        self.sig_np = np.frombuffer(self.sig, dtype=np.uint8)
        self.vis_np = np.frombuffer(self.vis, dtype=np.uint8)
        self.order, self.cols, self.tops, self.ends = _stripe_scan(h, w)

    def insignificant(self) -> list[int]:
        o = self.order
        return o[self.sig_np[o] == 0].tolist()

    def significant(self) -> list[int]:
        o = self.order
        return o[self.sig_np[o] != 0].tolist()

    def cleanup_columns(self) -> zip:
        """(top, end, all four free) of each stripe column that holds a
        coefficient neither significant nor visited."""
        free = (self.sig_np | self.vis_np)[self.cols] == 0
        keep = free.any(axis=1)
        return zip(self.tops[keep].tolist(), self.ends[keep].tolist(),
                   free.all(axis=1)[keep].tolist())

    def set_significant(self, q: int, negative: int) -> None:
        """Mark q significant with its sign, in its own cell and in the
        neighbour bits of the eight cells round it."""
        w, nbr = self.stride, self.nbr
        self.sig[q] = 1
        nbr[q - 1] |= _E
        nbr[q + 1] |= _W
        nbr[q - w] |= _S
        nbr[q + w] |= _N
        nbr[q - w - 1] |= _SE
        nbr[q - w + 1] |= _SW
        nbr[q + w - 1] |= _NE
        nbr[q + w + 1] |= _NW
        if negative:
            ngs = self.ngs
            self.neg[q] = 1
            ngs[q - 1] |= _E
            ngs[q + 1] |= _W
            ngs[q - w] |= _S
            ngs[q + w] |= _N


def t1_encode(coeffs: np.ndarray, orient: str) -> tuple[bytes, int, int]:
    """Encode one code-block of signed int coefficients.

    Returns (codeword, n_passes, n_bitplanes); an all-zero block returns
    (b"", 0, 0) and is simply not included in its packet."""
    h, w = coeffs.shape
    mags = np.abs(coeffs)
    nbps = int(mags.max()).bit_length() if coeffs.size else 0
    if nbps == 0:
        return b"", 0, 0
    g = _T1Grid(h, w)
    mag = np.pad(mags, 1).reshape(-1).tolist()
    negs = np.pad(coeffs < 0, 1).reshape(-1).tolist()
    mq = _MQEncoder()
    enc = mq.encode
    sig, vis, ref, nbr, ngs = g.sig, g.vis, g.ref, g.nbr, g.ngs
    ww = g.stride
    sig_ctx, sign_ctx = _SIG_CTX[orient], _SIGN_CTX
    set_sig = g.set_significant

    def code_sign(q: int) -> None:
        ctx, xr = sign_ctx[(nbr[q] & 15) | (ngs[q] << 4)]
        enc(negs[q] ^ xr, ctx)
        set_sig(q, negs[q])

    for p in range(nbps - 1, -1, -1):
        if p != nbps - 1:
            refine = g.significant()
            for q in g.insignificant():             # SPP
                f = nbr[q]
                if not f:
                    continue
                vis[q] = 1
                bit = (mag[q] >> p) & 1
                enc(bit, sig_ctx[f])
                if bit:
                    code_sign(q)
            for q in refine:                        # MRP
                if ref[q]:
                    ctx = 16
                else:
                    ctx = 15 if nbr[q] else 14
                    ref[q] = 1
                enc((mag[q] >> p) & 1, ctx)
        for q, end, run in g.cleanup_columns():     # CUP
            if run and not (nbr[q] or nbr[q + ww] or nbr[q + 2 * ww]
                            or nbr[q + 3 * ww]):
                r = 0
                while r < 4 and not (mag[q + r * ww] >> p) & 1:
                    r += 1
                if r == 4:
                    enc(0, _CTX_RL)
                    continue
                enc(1, _CTX_RL)
                enc(r >> 1, _CTX_UNI)
                enc(r & 1, _CTX_UNI)
                q += r * ww
                code_sign(q)
                q += ww
            while q < end:
                if not (sig[q] or vis[q]):
                    bit = (mag[q] >> p) & 1
                    enc(bit, sig_ctx[nbr[q]])
                    if bit:
                        code_sign(q)
                q += ww
        g.vis_np[:] = 0
    return mq.flush(), 3 * nbps - 2, nbps


def t1_decode(data: bytes, w: int, h: int, orient: str,
              n_passes: int) -> np.ndarray:
    """Decode one code-block codeword back to signed int32 coefficients."""
    out = np.zeros((h, w), dtype=np.int32)
    if n_passes == 0:
        return out
    nbps = (n_passes + 2) // 3
    g = _T1Grid(h, w)
    mag = [0] * len(g.sig)
    dec = _MQDecoder(data).decode
    sig, vis, ref, nbr, ngs = g.sig, g.vis, g.ref, g.nbr, g.ngs
    ww = g.stride
    sig_ctx, sign_ctx = _SIG_CTX[orient], _SIGN_CTX
    set_sig = g.set_significant

    def decode_sign(q: int) -> None:
        ctx, xr = sign_ctx[(nbr[q] & 15) | (ngs[q] << 4)]
        set_sig(q, dec(ctx) ^ xr)

    for p in range(nbps - 1, -1, -1):
        one = 1 << p
        if p != nbps - 1:
            refine = g.significant()
            for q in g.insignificant():             # SPP
                f = nbr[q]
                if not f:
                    continue
                vis[q] = 1
                if dec(sig_ctx[f]):
                    mag[q] = one
                    decode_sign(q)
            for q in refine:                        # MRP
                if ref[q]:
                    ctx = 16
                else:
                    ctx = 15 if nbr[q] else 14
                    ref[q] = 1
                if dec(ctx):
                    mag[q] |= one
        for q, end, run in g.cleanup_columns():     # CUP
            if run and not (nbr[q] or nbr[q + ww] or nbr[q + 2 * ww]
                            or nbr[q + 3 * ww]):
                if not dec(_CTX_RL):
                    continue
                q += ((dec(_CTX_UNI) << 1) | dec(_CTX_UNI)) * ww
                mag[q] = one
                decode_sign(q)
                q += ww
            while q < end:
                if not (sig[q] or vis[q]):
                    if dec(sig_ctx[nbr[q]]):
                        mag[q] = one
                        decode_sign(q)
                q += ww
        g.vis_np[:] = 0
    vals = np.array(mag, dtype=np.int32).reshape(h + 2, w + 2)[1:-1, 1:-1]
    signs = np.frombuffer(g.neg, dtype=np.uint8).reshape(h + 2, w + 2)
    return np.where(signs[1:-1, 1:-1] == 1, -vals, vals)


# ---------------------------------------------------------------------------
# Tier-2: FF-stuffed packet-header bit IO + tag trees (Annexes B.10, B.10.2)
# ---------------------------------------------------------------------------

class _PktBitWriter:
    """MSB-first bit packer with the packet-header stuffing rule: a byte
    equal to 0xFF is followed by a byte whose MSB is forced to 0 (only 7
    payload bits); a header may not end on 0xFF (a 0x00 is appended)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0
        self.limit = 8

    def put(self, bit: int) -> None:
        self.cur = (self.cur << 1) | (bit & 1)
        self.nbits += 1
        if self.nbits == self.limit:
            byte = self.cur          # limit==7 keeps the MSB 0 implicitly
            self.out.append(byte)
            self.limit = 7 if byte == 0xFF else 8
            self.cur = 0
            self.nbits = 0

    def put_bits(self, val: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.put((val >> k) & 1)

    def flush(self) -> bytes:
        if self.nbits:
            byte = self.cur << (self.limit - self.nbits)
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        elif self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)
        return bytes(self.out)


class _PktBitReader:
    """Mirror of _PktBitWriter over a memoryview + offset."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0
        self.prev_ff = False

    def get(self) -> int:
        if self.nbits == 0:
            byte = self.data[self.pos]
            self.pos += 1
            if self.prev_ff:
                self.cur = byte & 0x7F
                self.nbits = 7
            else:
                self.cur = byte
                self.nbits = 8
            self.prev_ff = byte == 0xFF
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> int:
        """End of packet header: discard partial byte, skip the stuffed
        0x00 after a final 0xFF, return the body offset."""
        if self.nbits == 0 and self.prev_ff:
            self.pos += 1
        self.cur = 0
        self.nbits = 0
        self.prev_ff = False
        return self.pos


class _TagTree:
    """2x2-reduction tag tree (T.800 B.10.2) used for code-block
    inclusion and zero-bitplane signalling."""

    def __init__(self, w: int, h: int) -> None:
        self.w = w
        self.h = h
        self.levels: list[tuple[int, int]] = []
        ww, hh = w, h
        while True:
            self.levels.append((ww, hh))
            if ww == 1 and hh == 1:
                break
            ww = (ww + 1) // 2
            hh = (hh + 1) // 2
        self.off = [0]
        for ww, hh in self.levels:
            self.off.append(self.off[-1] + ww * hh)
        n = self.off[-1]
        self.value = [0] * n
        self.low = [0] * n
        self.known = [False] * n

    def _path(self, leaf: int) -> list[int]:
        x, y = leaf % self.w, leaf // self.w
        path = []
        for li, (ww, _hh) in enumerate(self.levels):
            path.append(self.off[li] + y * ww + x)
            x >>= 1
            y >>= 1
        path.reverse()               # root first
        return path

    def set_values(self, leaves: list[int]) -> None:
        """Leaf values -> internal nodes = min of children."""
        self.value[: self.w * self.h] = leaves
        for li in range(1, len(self.levels)):
            ww, hh = self.levels[li]
            pw, ph = self.levels[li - 1]
            for y in range(hh):
                for x in range(ww):
                    best = None
                    for cy in (2 * y, 2 * y + 1):
                        if cy >= ph:
                            continue
                        for cx in (2 * x, 2 * x + 1):
                            if cx >= pw:
                                continue
                            v = self.value[self.off[li - 1] + cy * pw + cx]
                            best = v if best is None else min(best, v)
                    self.value[self.off[li] + y * ww + x] = (
                        0 if best is None else best)

    def encode(self, leaf: int, threshold: int, put) -> None:
        low = 0
        for nd in self._path(leaf):
            if low > self.low[nd]:
                self.low[nd] = low
            else:
                low = self.low[nd]
            while low < threshold:
                if low >= self.value[nd]:
                    if not self.known[nd]:
                        put(1)
                        self.known[nd] = True
                    break
                put(0)
                low += 1
            self.low[nd] = low

    def decode(self, leaf: int, threshold: int, get) -> int | None:
        """Returns the leaf value if determined to be < threshold, else
        None (meaning >= threshold)."""
        low = 0
        nd = -1
        for nd in self._path(leaf):
            if low > self.low[nd]:
                self.low[nd] = low
            else:
                low = self.low[nd]
            while low < threshold and not self.known[nd]:
                if get():
                    self.known[nd] = True
                    self.value[nd] = low
                else:
                    low += 1
            self.low[nd] = low
        if self.known[nd] and self.value[nd] < threshold:
            return self.value[nd]
        return None

    def decode_value(self, leaf: int, get) -> int:
        t = 1
        while True:
            v = self.decode(leaf, t, get)
            if v is not None:
                return v
            t += 1


def _put_npasses(bw: _PktBitWriter, n: int) -> None:
    if n == 1:
        bw.put(0)
    elif n == 2:
        bw.put(1)
        bw.put(0)
    elif n <= 5:
        bw.put_bits(0b11, 2)
        bw.put_bits(n - 3, 2)
    elif n <= 36:
        bw.put_bits(0b1111, 4)
        bw.put_bits(n - 6, 5)
    else:
        bw.put_bits(0b111111111, 9)
        bw.put_bits(n - 37, 7)


def _get_npasses(br: _PktBitReader) -> int:
    if not br.get():
        return 1
    if not br.get():
        return 2
    v = br.get_bits(2)
    if v < 3:
        return 3 + v
    v = br.get_bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.get_bits(7)


# ---------------------------------------------------------------------------
# codestream structure
# ---------------------------------------------------------------------------

_CB_LOG = 6                 # 64x64 code-blocks
_CB = 1 << _CB_LOG


def _resolution_subbands(nl: int) -> list[list[str]]:
    """Subband names per resolution r = 0..nl."""
    return [["LL"]] + [["HL", "LH", "HH"] for _ in range(nl)]


def _choose_nl(h: int, w: int) -> int:
    m = min(h, w)
    if m >= 32:
        return 3
    if m >= 4:
        return 1
    return 0


def _blocks_of(band: np.ndarray) -> list[tuple[int, int, np.ndarray]]:
    """(y0, x0, view) for each 64x64-anchored code-block of a subband."""
    bh, bw = band.shape
    out = []
    for y0 in range(0, bh, _CB):
        for x0 in range(0, bw, _CB):
            out.append((y0, x0,
                        band[y0: y0 + _CB, x0: x0 + _CB]))
    return out


def encode_jp2(img: np.ndarray) -> bytes:
    """uint8 (h, w) or (h, w, 3) -> JP2 file (reversible 5/3, lossless)."""
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError("JP2 encoder expects uint8 samples")
    if img.ndim == 2:
        comps = [img]
    elif img.ndim == 3 and img.shape[2] == 3:
        comps = [img[:, :, c] for c in range(3)]
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[:2]
    nl = _choose_nl(h, w)
    res_bands = _resolution_subbands(nl)
    dims = _subband_dims(h, w, nl)

    # per component: DC shift, wavelet, subbands by (resolution, name)
    comp_bands: list[dict[tuple[int, str], np.ndarray]] = []
    for comp in comps:
        cur = comp.astype(np.int32) - 128
        bands: dict[tuple[int, str], np.ndarray] = {}
        for lev in range(1, nl + 1):
            ll, hl, lh, hh = _dwt53_fwd2d(cur)
            r = nl - lev + 1
            bands[(r, "HL")] = hl
            bands[(r, "LH")] = lh
            bands[(r, "HH")] = hh
            cur = ll
        bands[(0, "LL")] = cur
        comp_bands.append(bands)

    # QCD exponents: per subband in codestream order, max over components
    eps: list[int] = []
    for r, names in enumerate(res_bands):
        for name in names:
            m = 0
            for bands in comp_bands:
                band = bands[(r, name)]
                if band.size:
                    m = max(m, int(np.abs(band).max()))
            eps.append(max(1, m.bit_length()))
    guard = 1                      # Mb = eps + G - 1 = eps

    # Tier-1 encode every code-block
    # coded[(c, r, name)] = list of (codeword, npasses, zb) in raster order
    coded: dict[tuple[int, int, str], list[tuple[bytes, int, int]]] = {}
    ei = 0
    for r, names in enumerate(res_bands):
        for name in names:
            mb = eps[ei]
            ei += 1
            for c, bands in enumerate(comp_bands):
                lst = []
                for _y0, _x0, blk in _blocks_of(bands[(r, name)]):
                    cw, npasses, nbps = t1_encode(blk, name)
                    lst.append((cw, npasses, mb - nbps))
                coded[(c, r, name)] = lst

    # Tier-2: LRCP packets (1 layer)
    body = bytearray()
    for r, names in enumerate(res_bands):
        for c in range(len(comps)):
            bw = _PktBitWriter()
            blocks_all = [coded[(c, r, name)] for name in names]
            any_included = any(np_ > 0
                               for lst in blocks_all
                               for _cw, np_, _zb in lst)
            if not any_included:
                bw.put(0)
                body += bw.flush()
                continue
            bw.put(1)
            payload = bytearray()
            for name, lst in zip(names, blocks_all):
                band = comp_bands[c][(r, name)]
                bh_, bw_ = band.shape
                gw = (bw_ + _CB - 1) // _CB
                gh = (bh_ + _CB - 1) // _CB
                if gw == 0 or gh == 0:
                    continue
                incl = _TagTree(gw, gh)
                zbt = _TagTree(gw, gh)
                incl.set_values([0 if np_ > 0 else 1
                                 for _cw, np_, _zb in lst])
                zbt.set_values([zb if np_ > 0 else 0
                                for _cw, np_, zb in lst])
                lblocks = [3] * len(lst)
                for i, (cw, np_, zb) in enumerate(lst):
                    incl.encode(i, 1, bw.put)
                    if np_ == 0:
                        continue
                    zbt.encode(i, zb + 1, bw.put)
                    _put_npasses(bw, np_)
                    lbits = lblocks[i] + int(math.log2(np_))
                    while len(cw) >= (1 << lbits):
                        bw.put(1)
                        lblocks[i] += 1
                        lbits += 1
                    bw.put(0)
                    bw.put_bits(len(cw), lbits)
                    payload += cw
            body += bw.flush()
            body += payload

    # markers
    ncomp = len(comps)
    siz = struct.pack(">HHIIIIIIIIH", 38 + 3 * ncomp, 0, w, h, 0, 0,
                      w, h, 0, 0, ncomp) + b"\x07\x01\x01" * ncomp
    cod = struct.pack(">HBBHBBBBBB", 12, 0, 0, 1, 0,
                      nl, _CB_LOG - 2, _CB_LOG - 2, 0, 1)
    nb = len(eps)
    qcd = struct.pack(">HB", 3 + nb, (guard << 5) | 0)
    qcd += bytes((e << 3) & 0xFF for e in eps)
    main = (b"\xff\x4f" + b"\xff\x51" + siz + b"\xff\x52" + cod
            + b"\xff\x5c" + qcd)
    # Psot counts from the SOT marker itself: marker(2) + segment(10) +
    # SOD marker(2) + tile body; EOC is outside the tile-part.
    psot = 14 + len(body)
    sot = struct.pack(">HHIBB", 10, 0, psot, 0, 1)
    stream = main + b"\xff\x90" + sot + b"\xff\x93" + body + b"\xff\xd9"

    # JP2 container
    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    sig = bytes.fromhex("0000000c6a5020200d0a870a")
    ftyp = box(b"ftyp", b"jp2 " + b"\x00" * 4 + b"jp2 ")
    ihdr = box(b"ihdr", struct.pack(">IIHBBBB", h, w, ncomp, 7, 7, 0, 0))
    colr = box(b"colr", b"\x01\x00\x00" + struct.pack(
        ">I", 17 if ncomp == 1 else 16))
    jp2h = box(b"jp2h", ihdr + colr)
    return sig + ftyp + jp2h + box(b"jp2c", stream)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _find_codestream(data: bytes) -> bytes:
    """Accept a raw codestream or walk JP2 boxes to the jp2c payload."""
    if data[:4] == b"\xff\x4f\xff\x51":
        return data
    pos = 0
    n = len(data)
    while pos + 8 <= n:
        (ln,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4: pos + 8]
        off = pos + 8
        if ln == 1:                       # extended length
            (ln,) = struct.unpack_from(">Q", data, pos + 8)
            off = pos + 16
        elif ln == 0:
            ln = n - pos
        if typ == b"jp2c":
            return data[off: pos + ln]
        pos += ln
    raise ValueError("no JPEG 2000 codestream found in JP2 container")


def decode_jp2(data: bytes) -> np.ndarray:
    """JP2 file or raw codestream -> uint8 image (lossless inverse of
    encode_jp2; rejects features outside the documented subset)."""
    cs = _find_codestream(bytes(data))
    if cs[:2] != b"\xff\x4f":
        raise ValueError("missing SOC marker")
    pos = 2
    w = h = ncomp = nl = None
    eps: list[int] = []
    guard = 1
    body = None
    while pos < len(cs):
        marker = cs[pos: pos + 2]
        pos += 2
        if marker == b"\xff\xd9":
            break
        (ln,) = struct.unpack_from(">H", cs, pos)
        seg = cs[pos + 2: pos + ln]
        if marker == b"\xff\x51":        # SIZ
            (_rsiz, xs, ys, xo, yo, xt, yt, xto, yto,
             ncomp) = struct.unpack_from(">HIIIIIIIIH", seg, 0)
            if xo or yo or xto or yto or xt != xs or yt != ys:
                raise ValueError("multi-tile / offset JP2 not supported")
            w, h = xs, ys
            # component params start at byte 36 of seg (after Csiz)
            for c in range(ncomp):
                ssiz, xr, yr = struct.unpack_from(">BBB", seg, 36 + 3 * c)
                if ssiz != 7 or xr != 1 or yr != 1:
                    raise ValueError(
                        "only 8-bit unsigned 1:1-sampled components "
                        "are supported")
            pos += ln
        elif marker == b"\xff\x52":      # COD
            (scod, prog, nlayers, mct, nl_, xcb, ycb, cbsty,
             xform) = struct.unpack_from(">BBHBBBBBB", seg, 0)
            if scod != 0 or prog != 0 or nlayers != 1 or mct != 0:
                raise ValueError("unsupported coding style (need LRCP, "
                                 "1 layer, no MCT, default precincts)")
            if xcb != _CB_LOG - 2 or ycb != _CB_LOG - 2 or cbsty != 0:
                raise ValueError("unsupported code-block parameters")
            if xform != 1:
                raise ValueError("only the reversible 5/3 transform is "
                                 "supported")
            nl = nl_
            pos += ln
        elif marker == b"\xff\x5c":      # QCD
            sq = seg[0]
            if sq & 0x1F:
                raise ValueError("only no-quantization (reversible) QCD "
                                 "is supported")
            guard = sq >> 5
            eps = [b >> 3 for b in seg[1:]]
            pos += ln
        elif marker == b"\xff\x90":      # SOT
            (_lsot, _isot, psot, _tp, _tn) = struct.unpack_from(
                ">HHIBB", cs, pos)
            pos += ln
            if cs[pos: pos + 2] != b"\xff\x93":
                raise ValueError("expected SOD after SOT")
            pos += 2
            end = pos - 14 + psot if psot else len(cs) - 2
            body = cs[pos: end]
            pos = end
        else:                            # skip unknown marker segment
            pos += ln
    if None in (w, h, ncomp, nl) or body is None:
        raise ValueError("incomplete JPEG 2000 codestream")

    res_bands = _resolution_subbands(nl)
    dims = _subband_dims(h, w, nl)

    def band_shape(r: int, name: str) -> tuple[int, int]:
        if r == 0:
            return dims[nl]
        lev = nl - r + 1                 # produced at this split level
        ph, pw = dims[lev - 1]
        lo_h, hi_h = (ph + 1) // 2, ph // 2
        lo_w, hi_w = (pw + 1) // 2, pw // 2
        return {"HL": (lo_h, hi_w), "LH": (hi_h, lo_w),
                "HH": (hi_h, hi_w)}[name]

    mb_of: dict[tuple[int, str], int] = {}
    ei = 0
    for r, names in enumerate(res_bands):
        for name in names:
            mb_of[(r, name)] = eps[ei] + guard - 1
            ei += 1

    bands: list[dict[tuple[int, str], np.ndarray]] = [
        {} for _ in range(ncomp)]
    pos = 0
    for r, names in enumerate(res_bands):
        for c in range(ncomp):
            br = _PktBitReader(body, pos)
            if not br.get():
                pos = br.align()
                for name in names:
                    bh_, bw_ = band_shape(r, name)
                    bands[c][(r, name)] = np.zeros((bh_, bw_),
                                                   dtype=np.int32)
                continue
            todo = []                    # (name, i, npasses, length)
            trees: dict[str, tuple[_TagTree, _TagTree]] = {}
            for name in names:
                bh_, bw_ = band_shape(r, name)
                band = np.zeros((bh_, bw_), dtype=np.int32)
                bands[c][(r, name)] = band
                gw = (bw_ + _CB - 1) // _CB
                gh = (bh_ + _CB - 1) // _CB
                if gw == 0 or gh == 0:
                    continue
                incl = _TagTree(gw, gh)
                zbt = _TagTree(gw, gh)
                lblocks = [3] * (gw * gh)
                for i in range(gw * gh):
                    if incl.decode(i, 1, br.get) is None:
                        continue
                    zb = zbt.decode_value(i, br.get)
                    np_ = _get_npasses(br)
                    lbits = lblocks[i] + int(math.log2(np_))
                    while br.get():
                        lblocks[i] += 1
                        lbits += 1
                    length = br.get_bits(lbits)
                    todo.append((name, i, np_, length, zb))
            pos = br.align()
            for name, i, np_, length, _zb in todo:
                bh_, bw_ = bands[c][(r, name)].shape
                gw = (bw_ + _CB - 1) // _CB
                y0 = (i // gw) * _CB
                x0 = (i % gw) * _CB
                cw = body[pos: pos + length]
                pos += length
                cb_h = min(_CB, bh_ - y0)
                cb_w = min(_CB, bw_ - x0)
                blk = t1_decode(cw, cb_w, cb_h, name, np_)
                bands[c][(r, name)][y0: y0 + cb_h, x0: x0 + cb_w] = blk

    comps = []
    for c in range(ncomp):
        cur = bands[c][(0, "LL")]
        for r in range(1, nl + 1):
            lev = nl - r + 1
            ph, pw = dims[lev - 1]
            cur = _dwt53_inv2d(cur, bands[c][(r, "HL")],
                               bands[c][(r, "LH")], bands[c][(r, "HH")],
                               ph, pw)
        comps.append(np.clip(cur + 128, 0, 255).astype(np.uint8))
    if ncomp == 1:
        return comps[0]
    return np.stack(comps, axis=2)
