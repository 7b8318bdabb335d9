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

The tier-1 pass loops stay written once per direction (`t1_encode`,
`t1_decode`): nearly all decode time is spent in them, and one loop for
both would put a callback on every MQ decision. Everything else is
written once:
- tier-2: one packet-header coder, `_code_packet`, over a bit source
  whose `bits(v, n)` writes v (`_PktBitWriter`) or reads n bits
  (`_PktBitReader`), and one packet walk, `_packets` over the subband
  sizes of `_band_shapes`, in LRCP order;
- the 5/3 wavelet: one predict and one update step, which the forward
  transform applies and the inverse undoes.

The decoder refuses a malformed stream with a `ValueError` naming what
was wrong: a JP2 box shorter than its header, a marker segment shorter
than its fields or with a length below 2, a QCD without one exponent per
subband, a packet header running past the tile data, and a code-block
coding more bit-planes than its band holds.

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

def _predict53(ev: np.ndarray, n: int) -> np.ndarray:
    """Predict step for the n odd samples: floor((x[2i] + x[2i+2]) / 2),
    x[2i+2] mirrored to x[2i] past the end (whole-sample symmetric
    extension)."""
    ev_r = ev[1:] if len(ev) > n else np.concatenate([ev[1:], ev[-1:]])
    return (ev[:n] + ev_r) // 2


def _update53(d: np.ndarray, n: int) -> np.ndarray:
    """Update step for the n even samples: floor((d[i-1] + d[i] + 2) / 4),
    d[-1] mirrored to d[0] and d past the end to its last value."""
    d_l = np.concatenate([d[:1], d[: n - 1]])
    d_r = d[:n] if len(d) >= n else np.concatenate([d, d[-1:]])
    return (d_l + d_r + 2) // 4


def _fwd53_axis0(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1-D forward 5/3 along axis 0 of a 2-D int array; returns (lo, hi)
    with len(lo)=ceil(n/2) (even samples), len(hi)=floor(n/2)."""
    if x.shape[0] == 1:
        return x.copy(), x[:0]
    ev = x[0::2]
    d = x[1::2] - _predict53(ev, len(x) // 2)
    return ev + _update53(d, len(ev)), d


def _inv53_axis0(s: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Exact inverse of _fwd53_axis0: undo the update, then the predict."""
    if n == 1:
        return s.copy()
    ev = s - _update53(d, len(s))
    out = np.empty((n,) + s.shape[1:], dtype=s.dtype)
    out[0::2] = ev
    out[1::2] = d + _predict53(ev, len(d))
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
                 hh: np.ndarray) -> np.ndarray:
    h = ll.shape[0] + lh.shape[0]
    lo = _inv53_axis0(ll, lh, h)
    hi = _inv53_axis0(hl, hh, h)
    return _inv53_axis0(lo.T, hi.T, ll.shape[1] + hl.shape[1]).T


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
    if nbps > 31:
        raise ValueError(f"JPEG 2000 code-block codes {nbps} bit-planes; "
                         "int32 magnitudes hold at most 31")
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
# Tier-2: packet headers (Annex B.10). One coder serves both directions:
# `_code_packet` and everything under it code each field as
# `x = bits(x, n)`, where `bits` is `_PktBitWriter.bits` (writes the n
# low bits of x, returns x) or `_PktBitReader.bits` (ignores x, returns
# the next n bits). The encoder hands in the values it wants written; the
# decoder hands in zeros and gets the values back.
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

    def bits(self, v: int, n: int) -> int:
        for k in range(n - 1, -1, -1):
            self.cur = (self.cur << 1) | ((v >> k) & 1)
            self.nbits += 1
            if self.nbits == self.limit:
                byte = self.cur      # limit==7 keeps the MSB 0 implicitly
                self.out.append(byte)
                self.limit = 7 if byte == 0xFF else 8
                self.cur = 0
                self.nbits = 0
        return v

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
    """Mirror of _PktBitWriter over the tile data from offset `pos`."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0
        self.prev_ff = False

    def bits(self, _v: int, n: int) -> int:
        v = 0
        for _ in range(n):
            if self.nbits == 0:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG 2000 packet header runs past "
                                     "the tile data")
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
            v = (v << 1) | ((self.cur >> self.nbits) & 1)
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
    """2x2-reduction tag tree (T.800 B.10.2) over a w x h grid of leaf
    values, used for code-block inclusion and zero bit-planes. A
    decoder's tree is built over placeholder leaves; `code` learns each
    node's value from the bits it reads."""

    def __init__(self, w: int, h: int, leaves: list[int]) -> None:
        self.w = w
        self.levels = [(w, h)]             # (width, height), leaves first
        while self.levels[-1] != (1, 1):
            ww, hh = self.levels[-1]
            self.levels.append(((ww + 1) // 2, (hh + 1) // 2))
        self.off = [0]                     # first node of each level
        self.value = list(leaves)          # internal node = min of children
        for (pw, ph), (ww, hh) in zip(self.levels, self.levels[1:]):
            base = self.off[-1]
            self.off.append(base + pw * ph)
            for y in range(hh):
                for x in range(ww):
                    self.value.append(min(
                        self.value[base + cy * pw + cx]
                        for cy in (2 * y, 2 * y + 1) if cy < ph
                        for cx in (2 * x, 2 * x + 1) if cx < pw))
        self.low = [0] * len(self.value)
        self.known = [False] * len(self.value)

    def _path(self, leaf: int) -> list[int]:
        x, y = leaf % self.w, leaf // self.w
        path = []
        for off, (ww, _hh) in zip(self.off, self.levels):
            path.append(off + y * ww + x)
            x >>= 1
            y >>= 1
        return path[::-1]                  # root first

    def code(self, leaf: int, threshold: int, bits) -> int | None:
        """Code the leaf's value as far as `threshold`: returns it if it
        is below the threshold, else None (it is at least the
        threshold)."""
        low = 0
        nd = -1
        for nd in self._path(leaf):
            low = max(low, self.low[nd])
            while low < threshold and not self.known[nd]:
                if bits(int(low >= self.value[nd]), 1):
                    self.known[nd] = True
                    self.value[nd] = low
                else:
                    low += 1
            self.low[nd] = low
        if self.known[nd] and self.value[nd] < threshold:
            return self.value[nd]
        return None


# Pass-count code (T.800 Table B.4), one step per row: (field width,
# first count, escape). A field holds count - first, or the escape value
# to go on to the next row; the last row's escape does not fit its field.
_NPASSES_CODE = ((1, 1, 1), (1, 2, 1), (2, 3, 3), (5, 6, 31), (7, 37, 128))


def _code_npasses(n: int, bits) -> int:
    for width, first, escape in _NPASSES_CODE:
        v = bits(min(n - first, escape), width)
        if v != escape:
            break
    return first + v


def _code_length(length: int, npasses: int, bits) -> int:
    """Codeword length (B.10.7.1): Lblock starts at 3 (each block is in
    one packet), a comma code of 1 bits raises it, and the length takes
    Lblock + floor(log2(npasses)) bits."""
    lbits = 3 + npasses.bit_length() - 1
    while bits(int(length >= 1 << lbits), 1):
        lbits += 1
    return bits(length, lbits)


def _code_packet(bits, grids: list[tuple[int, int]],
                 blocks: list[list[list[int]]]) -> None:
    """One packet header: the empty-packet bit, then for each subband
    (code-block grid (gw, gh) in `grids`) and each of its code-blocks
    the inclusion, zero bit-planes, pass count and codeword length.
    `blocks[b][i] = [npasses, zb, length]` of block i of subband b (0
    passes: not included); the encoder fills it in, the decoder passes
    zeros and reads it back."""
    if not bits(int(any(blk[0] for band in blocks for blk in band)), 1):
        return
    for (gw, gh), band in zip(grids, blocks):
        if not band:
            continue
        incl = _TagTree(gw, gh, [0 if blk[0] else 1 for blk in band])
        zbt = _TagTree(gw, gh, [blk[1] if blk[0] else 0 for blk in band])
        for i, blk in enumerate(band):
            if incl.code(i, 1, bits) is None:
                continue
            t = 1
            while (zb := zbt.code(i, t, bits)) is None:
                t += 1
            npasses = _code_npasses(blk[0], bits)
            blk[:] = [npasses, zb, _code_length(blk[2], npasses, bits)]


# ---------------------------------------------------------------------------
# codestream structure
# ---------------------------------------------------------------------------

_CB_LOG = 6                 # 64x64 code-blocks
_CB = 1 << _CB_LOG


def _choose_nl(h: int, w: int) -> int:
    m = min(h, w)
    if m >= 32:
        return 3
    if m >= 4:
        return 1
    return 0


def _band_shapes(h: int, w: int, nl: int) -> list[list[tuple[str, int, int]]]:
    """(name, height, width) of every subband, per resolution r = 0..nl
    in codestream order: r = 0 is the LL left after nl splits, r >= 1
    the HL, LH and HH of split nl - r + 1."""
    res = []
    for _ in range(nl):
        res.append([("HL", (h + 1) // 2, w // 2),
                    ("LH", h // 2, (w + 1) // 2),
                    ("HH", h // 2, w // 2)])
        h, w = (h + 1) // 2, (w + 1) // 2
    return [[("LL", h, w)]] + res[::-1]


def _packets(shapes: list[list[tuple[str, int, int]]], ncomp: int):
    """The packets in LRCP order (one layer, one precinct per
    resolution): (r, c, code-block grid (gw, gh) of each subband)."""
    for r, res in enumerate(shapes):
        for c in range(ncomp):
            yield r, c, [(-(-bw // _CB), -(-bh // _CB))
                         for _name, bh, bw in res]


def _blocks_of(band: np.ndarray) -> list[np.ndarray]:
    """View of each 64x64-anchored code-block of a subband, raster
    order."""
    bh, bw = band.shape
    return [band[y0: y0 + _CB, x0: x0 + _CB]
            for y0 in range(0, bh, _CB) for x0 in range(0, bw, _CB)]


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
    shapes = _band_shapes(h, w, nl)

    # per component: DC shift, wavelet, subbands as _band_shapes lists them
    bands: list[list[list[np.ndarray]]] = []
    for comp in comps:
        cur, res = comp.astype(np.int32) - 128, []
        for _ in range(nl):
            cur, *high = _dwt53_fwd2d(cur)
            res.insert(0, high)
        bands.append([[cur]] + res)

    # QCD exponents: per subband in codestream order, max over components
    eps = [[max(1, max(int(np.abs(cb[r][k]).max(initial=0))
                       for cb in bands).bit_length())
            for k in range(len(res))] for r, res in enumerate(shapes)]
    guard = 1                      # Mb = eps + G - 1 = eps

    # Tier-1 each code-block, then its packet's header and codewords
    body = bytearray()
    for r, c, grids in _packets(shapes, len(comps)):
        blocks, payload = [], bytearray()
        for (name, _bh, _bw), band, mb in zip(shapes[r], bands[c][r], eps[r]):
            row = []
            for blk in _blocks_of(band):
                cw, npasses, nbps = t1_encode(blk, name)
                row.append([npasses, mb - nbps, len(cw)])
                payload += cw
            blocks.append(row)
        bw = _PktBitWriter()
        _code_packet(bw.bits, grids, blocks)
        body += bw.flush() + payload

    # markers
    ncomp = len(comps)
    siz = struct.pack(">HHIIIIIIIIH", 38 + 3 * ncomp, 0, w, h, 0, 0,
                      w, h, 0, 0, ncomp) + b"\x07\x01\x01" * ncomp
    cod = struct.pack(">HBBHBBBBBB", 12, 0, 0, 1, 0,
                      nl, _CB_LOG - 2, _CB_LOG - 2, 0, 1)
    flat = [e for res in eps for e in res]
    qcd = struct.pack(">HB", 3 + len(flat), (guard << 5) | 0)
    qcd += bytes((e << 3) & 0xFF for e in flat)
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
            if pos + 16 > n:
                raise ValueError(f"JP2 box at offset {pos} is cut inside "
                                 "its extended length")
            (ln,) = struct.unpack_from(">Q", data, pos + 8)
            off = pos + 16
        elif ln == 0:
            ln = n - pos
        if ln < off - pos:
            raise ValueError(f"JP2 box at offset {pos} declares {ln} bytes, "
                             f"less than its {off - pos}-byte header")
        if typ == b"jp2c":
            return data[off: pos + ln]
        pos += ln
    raise ValueError("no JPEG 2000 codestream found in JP2 container")


# Marker segments the decoder reads: name and the bytes its fields take
# after the length field (SIZ: plus 3 per component).
_SEGMENTS = {b"\xff\x51": ("SIZ", 36), b"\xff\x52": ("COD", 10),
             b"\xff\x5c": ("QCD", 1), b"\xff\x90": ("SOT", 8)}


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
        if pos + 2 > len(cs):
            raise ValueError(f"JPEG 2000 marker segment at offset {pos - 2} "
                             "is cut inside its length")
        (ln,) = struct.unpack_from(">H", cs, pos)
        if ln < 2:
            raise ValueError(f"JPEG 2000 marker segment at offset {pos - 2} "
                             f"has length {ln}, below 2")
        seg = cs[pos + 2: pos + ln]
        name, need = _SEGMENTS.get(marker, ("", 0))
        if name == "SIZ" and len(seg) >= need:
            need += 3 * struct.unpack_from(">H", seg, 34)[0]
        if len(seg) < need:
            raise ValueError(f"truncated JPEG 2000 {name} segment")
        if name == "SIZ":
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
        elif name == "COD":
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
        elif name == "QCD":
            sq = seg[0]
            if sq & 0x1F:
                raise ValueError("only no-quantization (reversible) QCD "
                                 "is supported")
            guard = sq >> 5
            eps = [b >> 3 for b in seg[1:]]
            pos += ln
        elif name == "SOT":
            (_isot, psot, _tp, _tn) = struct.unpack_from(">HIBB", seg, 0)
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
    if len(eps) != 3 * nl + 1:
        raise ValueError(f"JPEG 2000 QCD has {len(eps)} exponents; "
                         f"{nl} decomposition levels need {3 * nl + 1}")

    shapes = _band_shapes(h, w, nl)
    it = iter(eps)
    mbs = [[next(it) + guard - 1 for _ in res] for res in shapes]
    bands: list[list[list[np.ndarray]]] = [[] for _ in range(ncomp)]
    pos = 0
    for r, c, grids in _packets(shapes, ncomp):
        blocks = [[[0, 0, 0] for _ in range(gw * gh)] for gw, gh in grids]
        br = _PktBitReader(body, pos)
        _code_packet(br.bits, grids, blocks)
        pos = br.align()
        bands[c].append([np.zeros((bh, bw), dtype=np.int32)
                         for _name, bh, bw in shapes[r]])
        for (name, _bh, _bw), band, mb, row in zip(shapes[r], bands[c][r],
                                                   mbs[r], blocks):
            for view, (npasses, zb, length) in zip(_blocks_of(band), row):
                if not npasses:
                    continue
                if (npasses + 2) // 3 > mb - zb:
                    raise ValueError(
                        f"JPEG 2000 code-block codes {(npasses + 2) // 3} "
                        f"bit-planes; its {name} band holds {mb - zb}")
                view[:] = t1_decode(body[pos: pos + length], view.shape[1],
                                    view.shape[0], name, npasses)
                pos += length

    comps = []
    for res in bands:
        cur = res[0][0]
        for hl, lh, hh in res[1:]:
            cur = _dwt53_inv2d(cur, hl, lh, hh)
        comps.append(np.clip(cur + 128, 0, 255).astype(np.uint8))
    if ncomp == 1:
        return comps[0]
    return np.stack(comps, axis=2)
