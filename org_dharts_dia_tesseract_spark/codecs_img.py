"""Pure-numpy image codecs: BMP, PNM, TIFF, PNG, GIF, JPEG, JP2.

Rebuilds the reference's full ImageIO decode surface
(ImageIOHelper.java:263-327 decodes TIFF/JPEG/GIF/PNG/BMP/PNM/JP2 via
javax.imageio) without an imaging library:
uncompressed BMP (8-bit greyscale palette + 24-bit BGR), binary/ASCII PNM
(P2/P3/P5/P6, maxval to 65535), TIFF (single or multi strip, compression
none=1, CCITT fax 2/3/4 (one T.4/T.6 coder keyed by PDF's K, EndOfLine
and EncodedByteAlign, which PDF's CCITTFaxDecode shares — see its
section), LZW=5 (one LZW coder, shared with GIF and keyed by a variant
table of bit order and early change — see its section),
Adobe/legacy DEFLATE=8/32946 via stdlib zlib, or PackBits=32773;
horizontal Predictor tag 317; 1/4/8/16 bits per sample single-band,
8-bit grey or RGB), PNG (grey 1/2/4/8/16-bit, RGB
8/16, palette with tRNS, grey+alpha/RGBA composited over white, Adam7
interlace, zlib IDAT, all five scanline filters), GIF 87a/89a (8-bit
palette incl. exact-palette RGB encode, the shared variable-width LZW
coder in both directions, interlace on decode), JPEG — baseline SOF0/SOF1 and
PROGRESSIVE SOF2 (spectral selection + successive approximation),
greyscale and YCbCr color on any integer sampling grid (the one LOSSY
codec — see its section) — and JPEG 2000 (codecs_jp2: MQ arithmetic
coder + EBCOT three-pass code-blocks + reversible 5/3 wavelet;
LOSSLESS). PDF — which the reference rejects
(ImageIOHelper.java:278-282) — is handled by codecs_pdf (FlateDecode /
DCTDecode image XObjects + a Tj/TJ text layer) and registered here.

Every decoder returns uint8 arrays shaped (h, w) for 1 band or
(h, w, bands); every encoder except JPEG (inherently lossy) is its exact
inverse (round-trip tested).
Loops are vectorized numpy over rows/strips except where the format is
inherently sequential (LZW symbol stream, PNG Average/Paeth filters).
"""

from __future__ import annotations

import bisect
import struct
import sys
import zlib
from collections.abc import Callable
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# sniffing
# ---------------------------------------------------------------------------

def sniff_codec(payload: bytes) -> str | None:
    """Identify an encoded payload by magic bytes; None if not recognized
    (caller falls back to raw row-major interpretation)."""
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
        return "pnm"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:8] == b"\x00\x00\x00\x0cjP  " or payload[:4] == b"\xff\x4f\xff\x51":
        return "jp2"          # JP2 signature box / raw J2K codestream SOC
    if payload[:4] == b"%PDF":
        return "pdf"
    return None


def _unpack(fmt: str, data: bytes, at: int, what: str) -> tuple:
    """struct.unpack_from, but a field past the payload is a ValueError
    naming `what` was read there."""
    if at + struct.calcsize(fmt) > len(data):
        raise ValueError(f"{what} at offset {at} runs past the "
                         f"{len(data)}-byte payload")
    return struct.unpack_from(fmt, data, at)


def _inflate(data: bytes, limit: int | None, what: str) -> bytes:
    """Inflate the zlib stream `data` into at most `limit` + 1 bytes
    (None: no bound), so an overlong stream stops a byte past what the
    caller can use and the caller's own size check sees it. A corrupt
    or unfinished stream is a ValueError naming `what`."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(data, 0 if limit is None
                           else min(limit + 1, sys.maxsize))
    except zlib.error as e:
        raise ValueError(f"{what}: {e}") from None
    if not d.eof and (limit is None or len(out) <= limit):
        raise ValueError(f"{what}: deflate stream ends early")
    return out


# ---------------------------------------------------------------------------
# BMP (Windows BITMAPINFOHEADER, uncompressed)
# ---------------------------------------------------------------------------

def encode_bmp(img: np.ndarray, dpi: int | None = None) -> bytes:
    """8-bit greyscale (grey palette) or 24-bit BGR, bottom-up rows,
    4-byte row alignment — the plain Windows DIB layout. `dpi` sets
    biXPelsPerMeter (default 2835 ppm = the conventional 72 dpi)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    bands = 1 if img.ndim == 2 else img.shape[2]
    if bands == 1:
        bpp, palette = 8, bytes(
            b for v in range(256) for b in (v, v, v, 0))
        rows = img.reshape(h, w)
    elif bands == 3:
        bpp, palette = 24, b""
        rows = img[:, :, ::-1].reshape(h, w * 3)       # RGB -> BGR
    else:
        raise ValueError(f"BMP supports 1 or 3 bands, got {bands}")
    stride = (w * (bpp // 8) + 3) & ~3
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : rows.shape[1]] = rows
    pixel_data = padded[::-1].tobytes()                # bottom-up
    offset = 14 + 40 + len(palette)
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixel_data), 0, 0,
                         offset)
    ppm = round(dpi / 0.0254) if dpi else 2835
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0,
                       len(pixel_data), ppm, ppm,
                       256 if bpp == 8 else 0, 0)
    return header + info + palette + pixel_data


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = _unpack("<I", data, 10, "BMP pixel offset")
    (hdr_size, w, h, _planes, bpp, compression) = _unpack(
        "<IiiHHI", data, 14, "BMP info header")
    if compression != 0:
        raise NotImplementedError(
            f"BMP compression {compression} unsupported (uncompressed only)")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * (bpp // 8) + 3) & ~3
    if offset + h * stride > len(data):
        raise ValueError(f"BMP raster of {h} rows at offset {offset} runs "
                         f"past the {len(data)}-byte payload")
    raster = np.frombuffer(data, dtype=np.uint8, count=h * stride,
                           offset=offset).reshape(h, stride)
    if bottom_up:
        raster = raster[::-1]
    if bpp == 8:
        # palette starts right after the info header; greyscale palettes
        # map index -> level via the palette's blue channel
        pal_off = 14 + hdr_size
        n_colors = _unpack("<I", data, 46, "BMP palette size")[0] or 256
        pal = np.frombuffer(data, dtype=np.uint8, count=n_colors * 4,
                            offset=pal_off).reshape(n_colors, 4)
        idx = raster[:, :w]
        if np.all(pal[:, 0] == pal[:, 1]) and np.all(pal[:, 1] == pal[:, 2]):
            return np.ascontiguousarray(pal[idx, 0])   # grey palette
        return np.ascontiguousarray(pal[idx, 2::-1])   # indexed color -> RGB
    if bpp == 24:
        return np.ascontiguousarray(
            raster[:, : w * 3].reshape(h, w, 3)[:, :, ::-1])  # BGR -> RGB
    raise NotImplementedError(f"BMP bpp {bpp} unsupported")


# ---------------------------------------------------------------------------
# PNM (P2/P3 ASCII, P5/P6 binary; maxval <= 65535 — wide samples are
# big-endian two-byte and scale to 8-bit on decode)
# ---------------------------------------------------------------------------

def encode_pnm(img: np.ndarray, maxval: int = 255) -> bytes:
    img = np.ascontiguousarray(img, dtype=np.uint8)
    bands = 1 if img.ndim == 2 else img.shape[2]
    h, w = img.shape[:2]
    if bands not in (1, 3):
        raise ValueError(f"PNM supports 1 or 3 bands, got {bands}")
    magic = b"P5" if bands == 1 else b"P6"
    if maxval == 255:
        body = img.tobytes()
    elif maxval == 65535:       # v*257: exact 8-bit round-trip
        body = (img.astype(">u2") * 257).tobytes()
    else:
        raise ValueError(f"PNM encoder maxval must be 255 or 65535, "
                         f"got {maxval}")
    return magic + b"\n%d %d\n%d\n" % (w, h, maxval) + body


def _pnm_tokens(data: bytes, n: int, start: int) -> tuple[list[int], int]:
    """First n whitespace-separated integer tokens from `start`, skipping
    '#' comments; returns (tokens, next_offset)."""
    toks: list[int] = []
    i = start
    while len(toks) < n and i < len(data):
        c = data[i:i + 1]
        if c == b"#":
            i = data.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j:j + 1].isspace():
                j += 1
            toks.append(int(data[i:j]))
            i = j
    return toks, i


def decode_pnm(data: bytes) -> np.ndarray:
    magic = data[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ValueError("not a PNM payload")
    (w, h, maxval), i = _pnm_tokens(data, 3, 2)
    if maxval > 65535 or maxval < 1:
        raise ValueError(f"PNM maxval {maxval} out of range")
    bands = 3 if magic in (b"P3", b"P6") else 1
    n = w * h * bands
    if magic in (b"P5", b"P6"):
        # exactly ONE whitespace byte separates maxval from the raster
        # (PNM spec) — but Windows writers emit \r\n, so treat that pair
        # as the single separator; anything else non-whitespace is corrupt
        if i >= len(data) or not data[i:i + 1].isspace():
            raise ValueError("PNM: missing whitespace after maxval")
        off = i + 1
        if data[i:i + 1] == b"\r" and data[off:off + 1] == b"\n":
            off += 1
        if maxval > 255:              # two-byte big-endian samples
            wide = np.frombuffer(data, dtype=">u2", count=n, offset=off)
            px = (wide.astype(np.int64) * 255 // maxval).astype(np.uint8)
        else:
            px = np.frombuffer(data, dtype=np.uint8, count=n, offset=off)
    else:
        vals, _ = _pnm_tokens(data, n, i)
        px = (np.asarray(vals, dtype=np.int64) * 255 // maxval
              ).astype(np.uint8) if maxval > 255 else np.asarray(
            vals, dtype=np.uint8)
    return px.reshape((h, w) if bands == 1 else (h, w, bands))


# ---------------------------------------------------------------------------
# LZW (Welch) — TIFF compression 5 and GIF image data. One encoder and one
# decoder serve both; TIFF 6.0 §13 and GIF89a Appendix F differ only in
#   msb    code bits packed most-significant first (TIFF) or least (GIF)
#   early  how many codes before GIF's point the width steps up, as the
#          encoder counts: TIFF's "early change" steps once 2**w - 1 codes
#          exist, GIF once 2**w + 1 do
# Both open with Clear (2**min_code_size), end with EOI (Clear + 1) and
# grow to 12-bit codes. When the next code would need 13 bits the encoder
# emits Clear instead of adding it: TIFF writers add that entry and then
# Clear, but an entry added just before a Clear is never read, so the codes
# are the same.
# ---------------------------------------------------------------------------

_LZW = {"gif": (False, 0), "tiff": (True, 2)}

# The decoder reads the code at bit p as (win[p >> 3] >> shift[p & 7]) & mask
# from the 32-bit word at every byte, in either bit order. Per variant and
# code width: (table size that steps the width up — 2**w + 1 - early less
# the one entry the decoder's table lags the encoder's —, mask, shift).
_LZW_WIDTHS = {
    variant: {w: ((1 << w) - early if w < 12 else -1, (1 << w) - 1,
                  [32 - w - o if msb else o for o in range(8)])
              for w in range(3, 13)}
    for variant, (msb, early) in _LZW.items()}

# the single-byte strings the decoder starts its table from
_LZW_BYTES = [bytes([i]) for i in range(256)]


def _lzw_encode(data: bytes, min_code_size: int, variant: str) -> bytes:
    """LZW-code `data` (every byte < 2**min_code_size) as `variant`."""
    msb, early = _LZW[variant]
    clear = 1 << min_code_size
    width = min_code_size + 1
    codes = [width << 12 | clear]       # width << 12 | code, packed at the end
    table: dict[int, int] = {}          # prefix code << 8 | byte -> code
    nxt = clear + 2
    seq = data[0] if data else -1
    for b in data[1:]:
        key = seq << 8 | b
        code = table.get(key)
        if code is not None:
            seq = code
            continue
        codes.append(width << 12 | seq)
        if nxt + early >= 4096:         # dictionary full -> Clear
            codes.append(width << 12 | clear)
            table = {}
            nxt, width = clear + 2, min_code_size + 1
        else:
            table[key] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 - early:
                width += 1
        seq = b
    if seq >= 0:
        codes.append(width << 12 | seq)
    codes.append(width << 12 | (clear + 1))                  # EOI
    c = np.asarray(codes, dtype=np.int32)
    bits = ((c[:, None] >> np.arange(12)) & 1).astype(np.uint8)  # LSB first
    keep = np.arange(12) < (c >> 12)[:, None]
    if msb:             # MSB first: reverse each code's `width` bits
        bits, keep = bits[:, ::-1], keep[:, ::-1]
    return np.packbits(bits[keep],
                       bitorder="big" if msb else "little").tobytes()


def _lzw_decode(data: bytes, min_code_size: int, n: int,
                variant: str) -> bytes:
    """Inverse of `_lzw_encode` (TIFF: also reads libtiff output): at most
    `n` bytes, fewer when EOI comes first. Every code takes at least
    min_code_size + 1 bits, the first after a Clear yields one byte and
    each later one at most one byte more than the longest so far (and no
    entry exceeds 4096 bytes), so an `n` beyond what `data` can hold is
    refused before anything is allocated."""
    msb, early = _LZW[variant]
    name = variant.upper()
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"{name} LZW minimum code size {min_code_size} "
                         "unsupported")
    k = 8 * len(data) // (min_code_size + 1)
    if n > k * min(k, 4096):
        raise ValueError(f"{name} LZW stream of {len(data)} bytes cannot "
                         f"hold {n} bytes")
    win = memoryview(np.ndarray(len(data), ">u4" if msb else "<u4",
                                bytes(data) + b"\0\0\0", strides=1
                                ).astype(np.uint32))
    n_bits = 8 * len(data)
    widths = _LZW_WIDTHS[variant]
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    root = _LZW_BYTES[:clear] + [b"", b""]
    table, size = root.copy(), clear + 2
    width = min_code_size + 1
    grow, mask, shift = widths[width]
    prev: bytes | None = None
    out = bytearray()
    n_out = p = 0
    while n_out < n:
        if p + width > n_bits:
            raise ValueError(f"{name} LZW stream truncated")
        code = (win[p >> 3] >> shift[p & 7]) & mask
        p += width
        if code == clear:
            table, size = root.copy(), clear + 2
            width, prev = min_code_size + 1, None
            grow, mask, shift = widths[width]
            continue
        if code == end:
            break
        if code < size:
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
                size += 1
        elif code == size and prev is not None:     # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
            size += 1
        else:
            raise ValueError(f"{name} LZW code {code} out of range")
        if size == grow:
            width += 1
            grow, mask, shift = widths[width]
        out += entry
        n_out += len(entry)
        prev = entry
    del out[n:]
    return bytes(out)


# ---------------------------------------------------------------------------
# TIFF (strips: none, PackBits, LZW "tiff" variant, DEFLATE; CCITT fax in
# the next section)
# ---------------------------------------------------------------------------

_TIFF_TAGS = {256: "width", 257: "height", 258: "bits", 259: "compression",
              262: "photometric", 273: "strip_offsets", 277: "samples",
              278: "rows_per_strip", 279: "strip_counts",
              282: "x_resolution", 292: "t4options",
              296: "resolution_unit", 317: "predictor"}
_TYPE_SIZE = {1: 1, 3: 2, 4: 4, 5: 8}     # BYTE, SHORT, LONG, RATIONAL


def packbits_encode(row: np.ndarray) -> bytes:
    """Apple PackBits RLE over one byte row (TIFF spec appendix)."""
    out = bytearray()
    data = row.tobytes()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3 or (j - i >= 2 and j == n):
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
        else:
            # literal: until the next >=3 run (or 128 bytes)
            k = i + 1
            while k < n and k - i < 128:
                if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out.extend(data[i:k])
            i = k
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < expected and i < len(data):
        b = data[i]
        i += 1
        if b < 128:
            out.extend(data[i:i + b + 1])
            i += b + 1
        elif b > 128:
            out.extend(data[i:i + 1] * (257 - b))
            i += 1
        # 128 = no-op
    return bytes(out)


# ---------------------------------------------------------------------------
# CCITT fax coding (ITU-T T.4 / T.6) — the canonical bilevel fax /
# scanned-document encodings: TIFF compression 2, 3 and 4 and PDF
# CCITTFaxDecode. One encoder and one decoder serve every wire form,
# keyed as PDF keys them (ISO 32000-1 7.4.6):
#   k < 0   every line 2-D against the line above (T.6 MMR, "G4")
#   k = 0   every line 1-D Modified Huffman ("G3")
#   k > 0   a tag bit per line: 1-D on every k-th line, 2-D between
#   eol     an EOL 000000000001 before every line (fill zeros tolerated)
#   align   every line ends on a byte boundary
# TIFF compression 2 is (0, align) with one row per strip; 3 is (0, eol),
# or (k > 0, eol) when T4Options bit 0 is set; 4 is (-1). Both
# directions are implemented from the ITU tables below. As with the JP2
# module, the two sides are mutually consistent by construction and the
# run tables are asserted prefix-free by tests; no external CCITT
# bitstream is at hand to cross-check interop.
# ---------------------------------------------------------------------------

# T.4 Table 1/2: (run -> (bits, code)) terminating (0-63) + makeup
# (64-1728); extended makeup 1792-2560 (T.4 Table 3) shared by both.
_CCITT_WHITE = {
    0: (8, 0x35), 1: (6, 0x07), 2: (4, 0x7), 3: (4, 0x8), 4: (4, 0xB),
    5: (4, 0xC), 6: (4, 0xE), 7: (4, 0xF), 8: (5, 0x13), 9: (5, 0x14),
    10: (5, 0x07), 11: (5, 0x08), 12: (6, 0x08), 13: (6, 0x03),
    14: (6, 0x34), 15: (6, 0x35), 16: (6, 0x2A), 17: (6, 0x2B),
    18: (7, 0x27), 19: (7, 0x0C), 20: (7, 0x08), 21: (7, 0x17),
    22: (7, 0x03), 23: (7, 0x04), 24: (7, 0x28), 25: (7, 0x2B),
    26: (7, 0x13), 27: (7, 0x24), 28: (7, 0x18), 29: (8, 0x02),
    30: (8, 0x03), 31: (8, 0x1A), 32: (8, 0x1B), 33: (8, 0x12),
    34: (8, 0x13), 35: (8, 0x14), 36: (8, 0x15), 37: (8, 0x16),
    38: (8, 0x17), 39: (8, 0x28), 40: (8, 0x29), 41: (8, 0x2A),
    42: (8, 0x2B), 43: (8, 0x2C), 44: (8, 0x2D), 45: (8, 0x04),
    46: (8, 0x05), 47: (8, 0x0A), 48: (8, 0x0B), 49: (8, 0x52),
    50: (8, 0x53), 51: (8, 0x54), 52: (8, 0x55), 53: (8, 0x24),
    54: (8, 0x25), 55: (8, 0x58), 56: (8, 0x59), 57: (8, 0x5A),
    58: (8, 0x5B), 59: (8, 0x4A), 60: (8, 0x4B), 61: (8, 0x32),
    62: (8, 0x33), 63: (8, 0x34),
    64: (5, 0x1B), 128: (5, 0x12), 192: (6, 0x17), 256: (7, 0x37),
    320: (8, 0x36), 384: (8, 0x37), 448: (8, 0x64), 512: (8, 0x65),
    576: (8, 0x68), 640: (8, 0x67), 704: (9, 0xCC), 768: (9, 0xCD),
    832: (9, 0xD2), 896: (9, 0xD3), 960: (9, 0xD4), 1024: (9, 0xD5),
    1088: (9, 0xD6), 1152: (9, 0xD7), 1216: (9, 0xD8), 1280: (9, 0xD9),
    1344: (9, 0xDA), 1408: (9, 0xDB), 1472: (9, 0x98), 1536: (9, 0x99),
    1600: (9, 0x9A), 1664: (6, 0x18), 1728: (9, 0x9B),
}
_CCITT_BLACK = {
    0: (10, 0x37), 1: (3, 0x2), 2: (2, 0x3), 3: (2, 0x2), 4: (3, 0x3),
    5: (4, 0x3), 6: (4, 0x2), 7: (5, 0x3), 8: (6, 0x5), 9: (6, 0x4),
    10: (7, 0x4), 11: (7, 0x5), 12: (7, 0x7), 13: (8, 0x4),
    14: (8, 0x7), 15: (9, 0x18), 16: (10, 0x17), 17: (10, 0x18),
    18: (10, 0x8), 19: (11, 0x67), 20: (11, 0x68), 21: (11, 0x6C),
    22: (11, 0x37), 23: (11, 0x28), 24: (11, 0x17), 25: (11, 0x18),
    26: (12, 0xCA), 27: (12, 0xCB), 28: (12, 0xCC), 29: (12, 0xCD),
    30: (12, 0x68), 31: (12, 0x69), 32: (12, 0x6A), 33: (12, 0x6B),
    34: (12, 0xD2), 35: (12, 0xD3), 36: (12, 0xD4), 37: (12, 0xD5),
    38: (12, 0xD6), 39: (12, 0xD7), 40: (12, 0x6C), 41: (12, 0x6D),
    42: (12, 0xDA), 43: (12, 0xDB), 44: (12, 0x54), 45: (12, 0x55),
    46: (12, 0x56), 47: (12, 0x57), 48: (12, 0x64), 49: (12, 0x65),
    50: (12, 0x52), 51: (12, 0x53), 52: (12, 0x24), 53: (12, 0x37),
    54: (12, 0x38), 55: (12, 0x27), 56: (12, 0x28), 57: (12, 0x58),
    58: (12, 0x59), 59: (12, 0x2B), 60: (12, 0x2C), 61: (12, 0x5A),
    62: (12, 0x66), 63: (12, 0x67),
    64: (10, 0xF), 128: (12, 0xC8), 192: (12, 0xC9), 256: (12, 0x5B),
    320: (12, 0x33), 384: (12, 0x34), 448: (12, 0x35), 512: (13, 0x6C),
    576: (13, 0x6D), 640: (13, 0x4A), 704: (13, 0x4B), 768: (13, 0x4C),
    832: (13, 0x4D), 896: (13, 0x72), 960: (13, 0x73), 1024: (13, 0x74),
    1088: (13, 0x75), 1152: (13, 0x76), 1216: (13, 0x77),
    1280: (13, 0x52), 1344: (13, 0x53), 1408: (13, 0x54),
    1472: (13, 0x55), 1536: (13, 0x5A), 1600: (13, 0x5B),
    1664: (13, 0x64), 1728: (13, 0x65),
}
_CCITT_EXT = {
    1792: (11, 0x8), 1856: (11, 0xC), 1920: (11, 0xD), 1984: (12, 0x12),
    2048: (12, 0x13), 2112: (12, 0x14), 2176: (12, 0x15),
    2240: (12, 0x16), 2304: (12, 0x17), 2368: (12, 0x1C),
    2432: (12, 0x1D), 2496: (12, 0x1E), 2560: (12, 0x1F),
}
_CCITT_WHITE_ALL = {**_CCITT_WHITE, **_CCITT_EXT}
_CCITT_BLACK_ALL = {**_CCITT_BLACK, **_CCITT_EXT}
# decode maps: (bits, code) -> run
_CCITT_WHITE_DEC = {v: k for k, v in _CCITT_WHITE_ALL.items()}
_CCITT_BLACK_DEC = {v: k for k, v in _CCITT_BLACK_ALL.items()}
# T.6 mode codes: (bits, code)
_G4_V0 = (1, 0x1)
_G4_VR = {1: (3, 0x3), 2: (6, 0x3), 3: (7, 0x3)}
_G4_VL = {1: (3, 0x2), 2: (6, 0x2), 3: (7, 0x2)}
_G4_HORIZ = (3, 0x1)
_G4_PASS = (4, 0x1)


class _MsbWriter:
    """MSB-first bit writer (no byte stuffing — CCITT, unlike JPEG)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.out.append((self.acc >> (self.n - 8)) & 255)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class _MsbReader:
    """MSB-first bit reader; bits past the end read as 0."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bitpos = 0

    def bit(self) -> int:
        i = self.bitpos
        self.bitpos = i + 1
        try:
            return (self.data[i >> 3] >> (7 - (i & 7))) & 1
        except IndexError:
            return 0

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _ccitt_emit(bw: "_MsbWriter", bc: tuple) -> None:
    """Tables store (bits, code); the writer wants (code, length)."""
    bits, code = bc
    bw.write(code, bits)


def _ccitt_write_run(bw: "_MsbWriter", run: int, table: dict) -> None:
    while run >= 2624:                  # chain max makeups for wide rows
        _ccitt_emit(bw, table[2560])
        run -= 2560
    if run >= 64:
        makeup = (run // 64) * 64
        _ccitt_emit(bw, table[makeup])
        run -= makeup
    _ccitt_emit(bw, table[run])


def _ccitt_read_run(br: "_MsbReader", dec: dict) -> int:
    total = 0
    while True:
        length, code = 0, 0
        while length < 14:
            code = (code << 1) | br.bit()
            length += 1
            if (length, code) in dec:
                break
        else:
            raise ValueError("CCITT: invalid run code")
        run = dec[(length, code)]
        total += run
        if run < 64:                    # terminating code ends the run
            return total


def _changes_of(row: np.ndarray) -> list[int]:
    """Changing-element positions of a bilevel row (True = black);
    position 0's imaginary predecessor is white (T.4 4.2.1.3.1)."""
    prev = np.concatenate(([False], row[:-1]))
    return np.nonzero(row != prev)[0].tolist()


def _mh_encode_line(bw: "_MsbWriter", cur: list[int], w: int) -> None:
    """Code one line 1-D: the runs between its changes, alternating
    white and black from a white run (which may be 0 long). A 0-wide
    line codes to nothing, as _mh_decode_line reads nothing for it."""
    pos = 0
    for i, nxt in enumerate(cur + [w] if w else []):
        _ccitt_write_run(bw, nxt - pos,
                         _CCITT_BLACK_ALL if i & 1 else _CCITT_WHITE_ALL)
        pos = nxt


def _mh_decode_line(br: "_MsbReader", w: int) -> list[int]:
    """Decode one 1-D line -> its changing positions. A zero-length run
    is no transition: its two equal boundaries cancel."""
    cur: list[int] = []
    pos, color = 0, 0
    while pos < w:
        pos += _ccitt_read_run(
            br, _CCITT_BLACK_DEC if color else _CCITT_WHITE_DEC)
        if pos > w:
            raise ValueError("CCITT: run overflows row")
        if pos < w:
            if cur and cur[-1] == pos:
                cur.pop()
            else:
                cur.append(pos)
        color = 1 - color
    return cur


def _g4_b1_index(ref: list[int], a0: int, color: int) -> int:
    """Index into ref of b1: first changing element > a0 whose
    transition color is opposite to the coding color (even index =
    white->black transition, odd = black->white)."""
    i = bisect.bisect_right(ref, a0)
    if (i & 1) != color:                # need transition TO opposite of
        i += 1                          # `color`, i.e. parity == color
    return i


def _g4_encode_line(bw: "_MsbWriter", cur: list[int], ref: list[int],
                    w: int) -> None:
    """Code one line 2-D against `ref` (T.6 / T.4 2-D share this)."""
    a0, color = -1, 0
    while a0 < w:
        i = _g4_b1_index(ref, a0, color)
        b1 = ref[i] if i < len(ref) else w
        b2 = ref[i + 1] if i + 1 < len(ref) else w
        j = bisect.bisect_right(cur, a0)
        a1 = cur[j] if j < len(cur) else w
        if b2 < a1:                               # pass mode
            _ccitt_emit(bw, _G4_PASS)
            a0 = b2
        elif abs(a1 - b1) <= 3:                   # vertical mode
            d = a1 - b1
            if d == 0:
                _ccitt_emit(bw, _G4_V0)
            elif d > 0:
                _ccitt_emit(bw, _G4_VR[d])
            else:
                _ccitt_emit(bw, _G4_VL[-d])
            a0, color = a1, 1 - color
        else:                                     # horizontal mode
            a2 = cur[j + 1] if j + 1 < len(cur) else w
            _ccitt_emit(bw, _G4_HORIZ)
            start = max(a0, 0)
            _ccitt_write_run(bw, a1 - start,
                             _CCITT_WHITE_ALL if color == 0
                             else _CCITT_BLACK_ALL)
            _ccitt_write_run(bw, a2 - a1,
                             _CCITT_BLACK_ALL if color == 0
                             else _CCITT_WHITE_ALL)
            a0 = a2


def _g4_decode_line(br: "_MsbReader", ref: list[int],
                    w: int) -> list[int]:
    """Decode one 2-D-coded line against `ref`; returns the changing
    positions (may include a line-ending sentinel at w)."""
    bit = br.bit
    cur: list[int] = []
    a0, color = -1, 0
    while a0 < w:
        i = _g4_b1_index(ref, a0, color)
        b1 = ref[i] if i < len(ref) else w
        b2 = ref[i + 1] if i + 1 < len(ref) else w
        if bit():                                 # 1 -> V0
            a1 = b1
        elif bit():                               # 01x -> V(L/R)1
            a1 = b1 + 1 if bit() else b1 - 1
        elif bit():                               # 001 -> horizontal
            start = max(a0, 0)
            r1 = _ccitt_read_run(
                br, _CCITT_WHITE_DEC if color == 0
                else _CCITT_BLACK_DEC)
            r2 = _ccitt_read_run(
                br, _CCITT_BLACK_DEC if color == 0
                else _CCITT_WHITE_DEC)
            a1, a2 = start + r1, start + r1 + r2
            cur.extend((a1, a2))
            a0 = a2
            continue
        elif bit():                               # 0001 -> pass
            a0 = b2
            continue
        elif bit():                               # 00001 1x -> V(L/R)2
            a1 = b1 + 2 if bit() else b1 - 2
        elif bit():                               # 000001 1x -> V(L/R)3
            a1 = b1 + 3 if bit() else b1 - 3
        else:
            raise ValueError("CCITT G4: invalid mode code")
        if a1 < a0 or a1 < 0:           # the encoder's a1 is always > a0
            raise ValueError("CCITT G4: vertical code moves left of a0")
        cur.append(a1)
        a0, color = a1, 1 - color
    return cur


def _ccitt_encode(black: np.ndarray, k: int, eol: bool = False,
                  align: bool = False) -> bytes:
    """Bilevel rows (True = black) in the wire form (k, eol, align)
    described above. No RTC / EOFB trailer: TIFF strips and PDF /Rows
    carry the row count."""
    h, w = black.shape
    bw = _MsbWriter()
    ref: list[int] = []                 # imaginary all-white line above
    for y in range(h):
        if eol:
            bw.write(0x001, 12)         # EOL
        cur = _changes_of(black[y])
        one_d = k == 0 or (k > 0 and y % k == 0)
        if k > 0:
            bw.write(int(one_d), 1)     # tag bit: 1 = 1-D, 0 = 2-D
        if one_d:
            _mh_encode_line(bw, cur, w)
        else:
            _g4_encode_line(bw, cur, ref, w)
        if align:
            bw.align()
        ref = cur
    return bw.flush()


def _ccitt_decode(data: bytes, h: int, w: int, k: int, eol: bool = False,
                  align: bool = False) -> bytes:
    """Inverse of _ccitt_encode -> packed rows (bit 1 = black); any k > 0
    reads the tag bits. A row of a non-empty line codes in >= 1 bit and
    bits past the end decode no row, so a header claiming more rows than
    the stream has bits is refused before the row buffer is allocated."""
    if h > 8 * len(data):
        raise ValueError(f"CCITT: {h} rows cannot be coded in "
                         f"{len(data)} bytes")
    br = _MsbReader(data)
    out = np.zeros((h, -(-w // 8) * 8), dtype=bool)
    ref: list[int] = []
    for y in range(h):
        if eol:                         # fill zeros then 000000000001
            zeros = 0
            while not br.bit():
                zeros += 1
                if zeros > 64 + 11:
                    raise ValueError("CCITT: EOL not found")
            if zeros < 11:
                raise ValueError("CCITT: malformed EOL")
        if k < 0 or (k > 0 and not br.bit()):    # tag bit 0 -> 2-D
            cur = _g4_decode_line(br, ref, w)
        else:
            cur = _mh_decode_line(br, w)
        for a, b in zip(cur[::2], cur[1::2] + [w]):   # paint black runs
            out[y, a:b] = True
        # the encoder's reference line holds TRUE transitions only — a
        # sentinel a1 == w from a line-ending vertical/horizontal code
        # is not one; keep both sides' b1 arithmetic identical
        ref = [c for c in cur if c < w]
        if align:
            br.align()
    return np.packbits(out, axis=1).tobytes()


# ---------------------------------------------------------------------------
# TIFF layout: one compression table read by the page writer and the IFD
# decoder, and one page writer for single- and multi-page files
# ---------------------------------------------------------------------------

class _TiffCoding(NamedTuple):
    tag: int                        # Compression (259) value
    fax: tuple | None               # _ccitt_encode's (k, eol, align)
    row_strips: bool                # a strip per row, else one strip
    encode: Callable                # strip rows -> strip bytes
    decode: Callable                # (strip, n_rows, w, n_bytes) -> rows


def _fax_coding(tag: int, row_strips: bool, k: int, eol: bool,
                align: bool) -> _TiffCoding:
    """A CCITT compression: its strips code bilevel rows (True = black)
    in the wire form (k, eol, align)."""
    return _TiffCoding(
        tag, (k, eol, align), row_strips,
        lambda black: _ccitt_encode(black, k, eol, align),
        lambda strip, n_rows, w, _n: _ccitt_decode(strip, n_rows, w, k,
                                                   eol, align))


_TIFF = {
    "none": _TiffCoding(1, None, True, lambda rows: rows.tobytes(),
                        lambda strip, _r, _w, _n: strip),
    "packbits": _TiffCoding(
        32773, None, True, packbits_encode,
        lambda strip, _r, _w, n: packbits_decode(strip, n)),
    "lzw": _TiffCoding(                 # MSB-first, early change
        5, None, True, lambda rows: _lzw_encode(rows.tobytes(), 8, "tiff"),
        lambda strip, _r, _w, n: _lzw_decode(strip, 8, n, "tiff")),
    "deflate": _TiffCoding(             # Adobe DEFLATE: a zlib stream
        8, None, True, lambda rows: zlib.compress(rows.tobytes()),
        lambda strip, _r, _w, n: _inflate(strip, n, "TIFF deflate strip")),
    "g3": _fax_coding(2, True, 0, False, True),
    "t4": _fax_coding(3, False, 0, True, False),
    "t4_2d": _fax_coding(3, False, 4, True, False),
    "g4": _fax_coding(4, False, -1, False, False),
}

# Compression tag -> _TIFF name. 32946 is the legacy tag for deflate;
# tag 3 is 't4', or 't4_2d' when T4Options bit 0 is set.
_TIFF_NAMES = {**{c.tag: name for name, c in _TIFF.items()},
               3: "t4", 32946: "deflate"}

_TIFF_HEADER = struct.pack("<2sHI", b"II", 42, 8)   # first IFD at 8


def encode_tiff(img: np.ndarray, compression: str = "none",
                predictor: bool = False,
                dpi: int | None = None,
                bits: int = 8) -> bytes:
    """Single-IFD little-endian baseline TIFF, one strip per row.

    compression: 'none' | 'packbits' | 'lzw' (tag 5 — MSB-first
    early-change LZW, libtiff-compatible) | 'deflate' (Adobe DEFLATE,
    tag value 8 — zlib streams per strip) | a CCITT fax form, bits=1
    only, coded by `_ccitt_encode` as (k, eol, align): 'g3' (tag 2,
    1-D Modified Huffman, one byte-aligned row per strip: (0, no, yes)),
    't4' (tag 3, EOL before every 1-D line: (0, yes, no)), 't4_2d'
    (tag 3 with T4Options bit 0, EOL + tag bit, a 1-D line every 4th:
    (4, yes, no)) or 'g4' (tag 4, T.6 MMR: (-1, no, no)); the last
    three write one strip.

    predictor: horizontal differencing (tag 317 = 2), the standard
    companion to LZW/DEFLATE for scanned pages.

    dpi: when set, writes XResolution/YResolution (RATIONAL tags
    282/283) + ResolutionUnit=inch (296) — the metadata
    ImageIOHelper.readImageData:379-407 reads back on decode.

    bits: bits per sample for 1-band images — 1 (bilevel, threshold at
    128, the scanned-document staple), 4 (16 grey levels), 8, or 16
    (written v*257 so 8-bit payloads round-trip exactly)."""
    return _TIFF_HEADER + _tiff_page(img, 8, True, compression, predictor,
                                     dpi, bits)


def _tiff_page(img: np.ndarray, at: int, last: bool, compression: str,
               predictor: bool = False, dpi: int | None = None,
               bits: int = 8) -> bytes:
    """One page of an `encode_tiff` file laid out from file offset `at`:
    IFD | [bits array if bands==3] | [x/y rational if dpi] | strip
    offsets | strip counts | strips. The IFD's next pointer is 0 on the
    `last` page, else the offset just past this page, where the next
    page's IFD goes."""
    if compression not in _TIFF:
        raise ValueError(f"TIFF compression must be one of "
                         f"{sorted(_TIFF)}, got {compression!r}")
    coding = _TIFF[compression]
    if predictor and compression not in ("lzw", "deflate"):
        raise ValueError("TIFF predictor requires lzw or deflate "
                         f"compression, got {compression!r}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    bands = 1 if img.ndim == 2 else img.shape[2]
    if bits != 8:
        if bands != 1:
            raise ValueError("TIFF bits != 8 is 1-band only")
        if bits not in (1, 4, 16):
            raise ValueError("TIFF bits must be 1/4/8/16")
        if predictor:
            raise ValueError("TIFF predictor requires 8-bit samples")
    if predictor:       # per-sample diff vs previous pixel, same band
        diff = img.astype(np.int16)
        diff[:, 1:] -= img[:, :-1].astype(np.int16)
        img = (diff % 256).astype(np.uint8)
    if coding.fax:
        # CCITT coding: bilevel only, bit 1 = black under the fax
        # convention, so the file declares WhiteIsZero (photometric 0)
        if bits != 1:
            raise ValueError("TIFF g3/t4/g4 compression requires bits=1")
        rows = img < 128                # True = black ink
    elif bits == 1:
        rows = np.packbits(img >= 128, axis=1)
    elif bits == 4:
        idx = np.minimum((img.astype(np.int32) + 8) // 17, 15)
        if w % 2:
            idx = np.pad(idx, ((0, 0), (0, 1)))
        rows = ((idx[:, 0::2] << 4) | idx[:, 1::2]).astype(np.uint8)
    elif bits == 16:
        rows = np.repeat(img, 2, axis=1)    # little-endian v*257
    else:
        rows = img.reshape(h, w * bands)
    rows_per_strip = 1 if coding.row_strips else h
    strips = ([coding.encode(rows[y:y + 1]) for y in range(h)]
              if coding.row_strips else [coding.encode(rows)])
    n_strips = len(strips)
    photometric = 0 if coding.fax else (1 if bands == 1 else 2)
    t4options = coding.fax and coding.fax[0] > 0   # bit 0: 2-D lines

    n_entries = (9 + (1 if predictor else 0) + (3 if dpi else 0)
                 + (1 if t4options else 0))
    bits_off = at + 2 + n_entries * 12 + 4
    rat_off = bits_off + (6 if bands == 3 else 0)
    so_off = rat_off + (16 if dpi else 0)   # two 8-byte RATIONALs
    sc_off = so_off + 4 * n_strips
    offsets, pos = [], sc_off + 4 * n_strips
    for s in strips:
        offsets.append(pos)
        pos += len(s)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:
            return struct.pack("<HHIHH", tag, typ, count, value, 0)
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, w),
        entry(257, 4, 1, h),
        (entry(258, 3, 3, bits_off) if bands == 3
         else entry(258, 3, 1, bits)),
        entry(259, 3, 1, coding.tag),
        entry(262, 3, 1, photometric),
        # count*size <= 4 => the value field holds the value ITSELF, not a
        # pointer (TIFF spec); single-strip files hit this path
        (entry(273, 4, 1, offsets[0]) if n_strips == 1
         else entry(273, 4, n_strips, so_off)),
        entry(277, 3, 1, bands),
        entry(278, 4, 1, rows_per_strip),
        (entry(279, 4, 1, len(strips[0])) if n_strips == 1
         else entry(279, 4, n_strips, sc_off)),
    ]
    if dpi:        # tags stay ascending: 282 < 283 < 292 < 296 < 317
        entries.append(entry(282, 5, 1, rat_off))       # XResolution
        entries.append(entry(283, 5, 1, rat_off + 8))   # YResolution
    if t4options:
        entries.append(entry(292, 4, 1, 1))             # T4Options: 2-D
    if dpi:
        entries.append(entry(296, 3, 1, 2))             # unit = inch
    if predictor:
        entries.append(entry(317, 3, 1, 2))
    out = bytearray(struct.pack("<H", n_entries))
    for e in entries:
        out += e
    out += struct.pack("<I", 0 if last else pos)      # next IFD
    if bands == 3:
        out += struct.pack("<HHH", 8, 8, 8)
    if dpi:
        out += struct.pack("<IIII", int(dpi), 1, int(dpi), 1)
    out += struct.pack(f"<{n_strips}I", *offsets)
    out += struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    for s in strips:
        out += s
    return bytes(out)


def _tiff_values(data: bytes, endian: str, tags: dict,
                 name: str) -> list[int]:
    """The values of IFD entry `name` from its value field (the values
    themselves when they fit in 4 bytes, else their offset); a RATIONAL
    gives numerator, denominator pairs."""
    typ, count, at = tags[name]
    if _TYPE_SIZE[typ] * count > 4:
        at = _unpack(f"{endian}I", data, at, f"TIFF {name} offset")[0]
    fmt = {1: "B", 3: "H", 4: "I", 5: "I"}[typ]
    n = 2 * count if typ == 5 else count
    return list(_unpack(f"{endian}{n}{fmt}", data, at, f"TIFF {name} tag"))


def _tiff_header(data: bytes) -> tuple[str, int]:
    """(struct byte-order prefix, offset of the first IFD)."""
    if data[:2] == b"II":
        endian = "<"
    elif data[:2] == b"MM":
        endian = ">"
    else:
        raise ValueError("not a TIFF payload")
    return endian, _unpack(f"{endian}I", data, 4, "TIFF IFD offset")[0]


def decode_tiff(data: bytes) -> np.ndarray:
    """First (or only) page of a TIFF payload."""
    return _decode_tiff_ifd(data, *_tiff_header(data))


def _tiff_tags(data: bytes, endian: str,
               ifd_off: int) -> dict[str, tuple[int, int, int]]:
    """The IFD's entries named in `_TIFF_TAGS`: name -> (type, count,
    offset of the value field), for `_tiff_values` to read. Values are
    read only when asked for, so a bad pointer in a tag the caller does
    not use (resolution metadata, say) stops nothing."""
    n = _unpack(f"{endian}H", data, ifd_off, "TIFF IFD")[0]
    tags = {}
    for e in range(ifd_off + 2, ifd_off + 2 + n * 12, 12):
        tag, typ, count = _unpack(f"{endian}HHI", data, e, "TIFF IFD entry")
        if tag in _TIFF_TAGS and typ in _TYPE_SIZE:
            tags[_TIFF_TAGS[tag]] = (typ, count, e + 8)
    return tags


def _decode_tiff_ifd(data: bytes, endian: str, ifd_off: int) -> np.ndarray:
    tags = _tiff_tags(data, endian, ifd_off)

    def tag(name: str, default: int | None = None) -> list[int]:
        if name in tags and tags[name][0] != 5:     # integer types only
            values = _tiff_values(data, endian, tags, name)
            if not values:
                raise ValueError(f"TIFF {name} tag has no values")
            return values
        if default is None:
            raise ValueError(f"TIFF IFD has no {name} tag")
        return [default]

    w, h = tag("width")[0], tag("height")[0]
    offsets, counts = tag("strip_offsets"), tag("strip_counts")
    bands = tag("samples", 1)[0]
    compression = tag("compression", 1)[0]
    rows_per_strip = tag("rows_per_strip", h)[0]
    bits_v = tag("bits", 8)
    predictor = tag("predictor", 1)[0]
    t4options = tag("t4options", 0)[0]
    photometric = tag("photometric", 1)[0]
    bps = bits_v[0]
    if any(b != bps for b in bits_v):
        raise NotImplementedError("TIFF mixed bits-per-sample unsupported")
    if bps not in (1, 4, 8, 16) or (bands > 1 and bps != 8):
        raise NotImplementedError(
            f"TIFF bits-per-sample {bps} x {bands} bands unsupported "
            "(1/4/8/16 single-band, 8-bit multi-band)")
    name = _TIFF_NAMES.get(compression)
    if name is None:
        raise NotImplementedError(
            f"TIFF compression {compression} unsupported "
            "(none/CCITT G3/T4/G4/LZW/DEFLATE/PackBits only)")
    coding = _TIFF["t4_2d" if name == "t4" and t4options & 1 else name]
    if coding.fax and (bps != 1 or bands != 1):
        raise ValueError("TIFF CCITT compression requires 1-bit 1-band")
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} unsupported "
                                  "(none/horizontal only)")
    if predictor == 2 and bps != 8:
        raise NotImplementedError("TIFF predictor needs 8-bit samples")
    row_bytes = -(-w * bps * bands // 8)    # rows pad to byte boundaries
    chunks = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        raw = coding.decode(data[off: off + cnt], n_rows, w,
                            n_rows * row_bytes)
        chunks.append(np.frombuffer(raw, dtype=np.uint8,
                                    count=n_rows * row_bytes))
    px = np.concatenate(chunks)
    if bps == 1:
        rows = px.reshape(h, row_bytes)
        img = (np.unpackbits(rows, axis=1)[:, :w] * 255).astype(np.uint8)
    elif bps == 4:
        rows = px.reshape(h, row_bytes)
        nib = np.empty((h, row_bytes * 2), dtype=np.uint8)
        nib[:, 0::2] = rows >> 4
        nib[:, 1::2] = rows & 15
        img = (nib[:, :w] * 17).astype(np.uint8)
    elif bps == 16:                         # keep the high byte
        pairs = px.reshape(h, w, 2)
        img = np.ascontiguousarray(
            pairs[:, :, 1] if endian == "<" else pairs[:, :, 0])
    else:
        img = px.reshape((h, w) if bands == 1 else (h, w, bands))
    if predictor == 2:      # undo horizontal differencing (per row/band)
        img = (np.cumsum(img, axis=1, dtype=np.int64) % 256).astype(np.uint8)
    if photometric == 0:                                # WhiteIsZero
        img = 255 - img
    return np.ascontiguousarray(img)


def encode_tiff_multipage(pages: list[np.ndarray],
                          compression: str = "none",
                          bits: int = 8) -> bytes:
    """Multi-page TIFF: each page laid out by the `encode_tiff` page
    writer at the offset where the previous one ends, the IFDs linked
    through the `next` pointer chain — the layout
    ImageIOHelper.createTiffFiles:74-123 splits back into page files.
    `bits=1` + a CCITT compression gives the classic multi-page fax."""
    if not pages:
        raise ValueError("multi-page TIFF needs at least one page")
    out = bytearray(_TIFF_HEADER)
    for i, page in enumerate(pages):
        out += _tiff_page(page, len(out), i == len(pages) - 1, compression,
                          bits=bits)
    return bytes(out)


def decode_tiff_pages(data: bytes) -> list[np.ndarray]:
    """All pages of a (possibly multi-page) TIFF, following the IFD
    chain — the decode side of the reference's multi-page split
    (ImageIOHelper.createTiffFiles:74-123: one document = one page
    sequence)."""
    endian, ifd_off = _tiff_header(data)
    pages = []
    seen = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError(f"TIFF IFD chain loops back to offset {ifd_off}")
        seen.add(ifd_off)
        pages.append(_decode_tiff_ifd(data, endian, ifd_off))
        n = _unpack(f"{endian}H", data, ifd_off, "TIFF IFD")[0]
        ifd_off = _unpack(f"{endian}I", data, ifd_off + 2 + n * 12,
                          "TIFF next IFD offset")[0]
    return pages


# ---------------------------------------------------------------------------
# PNG (8-bit greyscale / RGB, non-interlaced; all 5 scanline filters)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


# Adam7 interlace passes: (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_pack_rows(samples: np.ndarray, depth: int) -> np.ndarray:
    """(h, w*channels) sample values -> (h, stride) scanline bytes at
    the given bit depth (16-bit writes v*257, i.e. both bytes = v, so
    8-bit payloads round-trip exactly)."""
    h = samples.shape[0]
    if depth == 8:
        return samples.astype(np.uint8)
    if depth == 16:
        return np.repeat(samples.astype(np.uint8), 2, axis=1)
    n = samples.shape[1]
    bits = ((samples[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1)
    return np.packbits(bits.reshape(h, n * depth).astype(np.uint8), axis=1)


def encode_png(img: np.ndarray, dpi: int | None = None, depth: int = 8,
               palette: bool = False, interlace: bool = False,
               alpha: np.ndarray | None = None) -> bytes:
    """Standard PNG, filter 0 on every scanline, one zlib IDAT.
    Surfaces beyond the 8-bit grey/RGB default: `depth` 1/2/4 (grey or
    palette; values are quantized to the depth's levels), 16 (grey/RGB,
    written v*257); `palette` indexes exact colors through a PLTE (the
    image must use <= 2^depth distinct colors); `alpha` adds an alpha
    channel (color type 4/6, 8-bit only); `interlace` emits Adam7.
    `dpi` writes a pHYs chunk (pixels-per-meter, unit=meter)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    bands = 1 if img.ndim == 2 else img.shape[2]
    if bands not in (1, 3):
        raise ValueError(f"PNG encoder supports 1 or 3 bands, got {bands}")
    plte = b""
    if palette:
        if depth not in (1, 2, 4, 8):
            raise ValueError("PNG palette depth must be 1/2/4/8")
        flat = img.reshape(h * w, bands)
        colors, inv = np.unique(flat, axis=0, return_inverse=True)
        if len(colors) > (1 << depth):
            raise ValueError(f"PNG palette: {len(colors)} distinct colors "
                             f"exceed depth {depth}")
        rgb = colors if bands == 3 else np.repeat(colors, 3, axis=1)
        plte = _png_chunk(b"PLTE", rgb.astype(np.uint8).tobytes())
        samples = inv.reshape(h, w)
        color, channels = 3, 1
    elif alpha is not None:
        if depth != 8:
            raise ValueError("PNG alpha encode is 8-bit only")
        a = np.ascontiguousarray(alpha, dtype=np.uint8).reshape(h, w, 1)
        full = np.concatenate([img.reshape(h, w, bands), a], axis=2)
        samples = full.reshape(h, w * (bands + 1))
        color, channels = (4, 2) if bands == 1 else (6, 4)
    else:
        if bands == 1:
            if depth not in (1, 2, 4, 8, 16):
                raise ValueError("PNG grey depth must be 1/2/4/8/16")
            if depth < 8:                     # quantize to depth levels
                step = 255 // ((1 << depth) - 1)
                samples = ((img.astype(np.int32) + step // 2) // step
                           ).clip(0, (1 << depth) - 1).reshape(h, w)
            else:
                samples = img.reshape(h, w)
            color, channels = 0, 1
        else:
            if depth not in (8, 16):
                raise ValueError("PNG RGB depth must be 8/16")
            samples = img.reshape(h, w * 3)
            color, channels = 2, 3
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0,
                       1 if interlace else 0)
    phys = b""
    if dpi:
        ppm = round(dpi / 0.0254)
        phys = _png_chunk(b"pHYs", struct.pack(">IIB", ppm, ppm, 1))
    samples = samples.reshape(h, w, channels)
    raw = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            rows = _png_pack_rows(
                sub.reshape(sub.shape[0], sub.shape[1] * channels), depth)
            for y in range(rows.shape[0]):
                raw += b"\x00" + rows[y].tobytes()
    else:
        rows = _png_pack_rows(samples.reshape(h, w * channels), depth)
        for y in range(h):
            raw += b"\x00" + rows[y].tobytes()
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) + phys + plte
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _png_unfilter(raw: np.ndarray, stride: int, bpp: int) -> np.ndarray:
    """(h, stride+1) filtered scanline bytes -> (h, stride) recon bytes.
    None/Up are vectorized, Sub is a prefix sum over bpp-strided lanes,
    Average/Paeth fall back to a per-byte row loop (foreign writers
    only — our encoder emits filter 0). `bpp` is the filter delta in
    whole bytes (1 for sub-byte depths, per the PNG spec)."""
    h = raw.shape[0]
    filters, rows = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.empty((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    lanes = stride // bpp
    for y in range(h):
        f, row = int(filters[y]), rows[y]
        if f == 0:                                        # None
            rec = row
        elif f == 1:                                      # Sub
            rec = (np.cumsum(row[:lanes * bpp].reshape(lanes, bpp),
                             axis=0) & 255).reshape(lanes * bpp)
        elif f == 2:                                      # Up
            rec = (row + prev) & 255
        elif f in (3, 4):                                 # Average / Paeth
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0       # left
                b = prev[x]                               # up
                c = prev[x - bpp] if x >= bpp else 0      # up-left
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc
                                                            else c)
                rec[x] = (row[x] + pred) & 255
        else:
            raise ValueError(f"PNG filter {f} invalid")
        out[y] = prev = rec
    return out.astype(np.uint8)


def _png_samples(recon: np.ndarray, w: int, depth: int,
                 channels: int) -> np.ndarray:
    """(h, stride) recon bytes -> (h, w, channels) 8-bit-range samples
    (16-bit keeps the high byte; sub-byte grey scales to 0..255 later,
    palette indices pass through untouched)."""
    h = recon.shape[0]
    if depth == 8:
        return recon[:, :w * channels].reshape(h, w, channels
                                               ).astype(np.int32)
    if depth == 16:
        return recon[:, :w * channels * 2:2].reshape(h, w, channels
                                                     ).astype(np.int32)
    bits = np.unpackbits(recon, axis=1)
    if depth == 1:
        vals = bits
    else:
        n = bits.shape[1] // depth
        weights = 1 << np.arange(depth - 1, -1, -1)
        vals = (bits[:, :n * depth].reshape(h, n, depth)
                * weights).sum(axis=2)
    return vals[:, :w].reshape(h, w, 1).astype(np.int32)


def decode_png(data: bytes) -> np.ndarray:
    """PNG decode across the standard surface: color types 0 (grey,
    depth 1/2/4/8/16), 2 (RGB, 8/16), 3 (palette + optional tRNS,
    1/2/4/8), 4 (grey+alpha, 8/16) and 6 (RGBA, 8/16); interlace none
    or Adam7; all five scanline filters. 16-bit samples keep the high
    byte; alpha (channel or palette tRNS) is composited over white —
    the downstream binarizer treats transparency as page background.
    Palette images decode to RGB; all-grey palettes collapse to 1-band
    (the media bands contract treats grey-palette pages as greyscale)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte, trns = 8, None, [], None, None
    while pos + 8 <= len(data):
        (length,) = _unpack(">I", data, pos, "PNG chunk length")
        typ = data[pos + 4: pos + 8]
        if pos + 8 + length > len(data):
            raise ValueError(f"PNG {typ!r} chunk of {length} bytes at "
                             f"offset {pos} runs past the "
                             f"{len(data)}-byte payload")
        chunk = data[pos + 8: pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            ihdr = _unpack(">IIBBBBB", chunk, 0, "PNG IHDR")
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = np.frombuffer(chunk, dtype=np.uint8)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    allowed = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}
    if color not in allowed or depth not in allowed[color]:
        raise NotImplementedError(
            f"PNG depth={depth} color={color} unsupported")
    if color == 3 and plte is None:
        raise ValueError("PNG palette image missing PLTE")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bpp = max(1, channels * depth // 8)
    if interlace not in (0, 1):
        raise NotImplementedError(f"PNG interlace {interlace} unsupported")
    # (x0, y0, dx, dy, width, height) of each non-empty Adam7 pass
    passes = [(x0, y0, dx, dy, -(-(w - x0) // dx), -(-(h - y0) // dy))
              for x0, y0, dx, dy in _ADAM7 if w > x0 and h > y0]

    def scanline_bytes(iw: int, ih: int) -> int:
        return ih * (-(-iw * channels * depth // 8) + 1)

    limit = (sum(scanline_bytes(pw, ph) for *_, pw, ph in passes)
             if interlace else scanline_bytes(w, h))
    raw = np.frombuffer(_inflate(b"".join(idat), limit, "PNG IDAT"),
                        dtype=np.uint8)
    # refused before the pass buffer is allocated; Adam7 ignores a tail
    if raw.size < limit or (raw.size > limit and not interlace):
        raise ValueError("PNG scanline data size mismatch")

    def one_image(raw: np.ndarray, iw: int, ih: int) -> np.ndarray:
        stride = -(-iw * channels * depth // 8)
        recon = _png_unfilter(raw.reshape(ih, stride + 1), stride, bpp)
        return _png_samples(recon, iw, depth, channels)

    if interlace == 0:
        samples = one_image(raw, w, h)
    else:                                                 # Adam7
        samples = np.zeros((h, w, channels), dtype=np.int32)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            n = scanline_bytes(pw, ph)
            samples[y0::dy, x0::dx] = one_image(raw[off:off + n], pw, ph)
            off += n

    if color == 3:                                        # palette -> RGB
        idx = samples[:, :, 0]
        if idx.max() >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[idx].astype(np.int32)
        if trns is not None:                              # palette alpha
            a = np.full(len(plte), 255, dtype=np.int32)
            a[:len(trns)] = trns
            av = a[idx][:, :, None]
            rgb = (rgb * av + 255 * (255 - av) + 127) // 255
        rgb = rgb.astype(np.uint8)
        if (np.array_equal(rgb[:, :, 0], rgb[:, :, 1])
                and np.array_equal(rgb[:, :, 0], rgb[:, :, 2])):
            return np.ascontiguousarray(rgb[:, :, 0])     # grey palette
        return np.ascontiguousarray(rgb)
    if color == 0 and depth < 8:                          # scale to 0..255
        samples = samples * (255 // ((1 << depth) - 1))
    if color in (4, 6):                                   # composite white
        av = samples[:, :, -1:]
        samples = (samples[:, :, :-1] * av + 255 * (255 - av) + 127) // 255
        channels -= 1
    img = samples.astype(np.uint8)
    return np.ascontiguousarray(
        img.reshape((h, w) if channels == 1 else (h, w, channels)))


# ---------------------------------------------------------------------------
# GIF (87a/89a, 8-bit palette; LZW "gif" variant both ways; interlace on
# decode)
# ---------------------------------------------------------------------------

def encode_gif(img: np.ndarray) -> bytes:
    """GIF89a with a 256-entry global palette and real LZW image data.
    Greyscale (h, w) input uses the identity grey ramp (pixel index ==
    grey level); RGB (h, w, 3) input is exact-palette indexed and must
    use <= 256 distinct colors — GIF has no truecolor model, and lossy
    quantization would break the pipeline's determinism contract."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w = img.shape
        palette = np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()
        indices = img.tobytes()
    elif img.ndim == 3 and img.shape[2] == 3:
        h, w = img.shape[:2]
        colors, inv = np.unique(img.reshape(h * w, 3), axis=0,
                                return_inverse=True)
        if len(colors) > 256:
            raise ValueError(f"GIF palette: {len(colors)} distinct "
                             "colors exceed 256")
        pal = np.zeros((256, 3), dtype=np.uint8)
        pal[:len(colors)] = colors
        palette = pal.tobytes()
        indices = inv.astype(np.uint8).tobytes()
    elif img.ndim == 3:
        raise ValueError(f"GIF encoder supports 1 or 3 bands, got "
                         f"{img.shape[2]}")
    else:
        raise ValueError("GIF encoder supports 1-band (greyscale) or "
                         "3-band (<=256-color) images")
    lzw = _lzw_encode(indices, 8, "gif")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)   # GCT: 256 entries
    out += palette
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)   # image desc
    out += bytes([8])                                        # LZW min code
    for i in range(0, len(lzw), 255):
        chunk = lzw[i: i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"                                       # end, trailer
    return bytes(out)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """The data of the sub-blocks at `pos` joined, and the position past
    their zero-length terminator."""
    out = bytearray()
    while pos < len(data):
        ln = data[pos]
        if not ln:
            return bytes(out), pos + 1
        out += data[pos + 1: pos + 1 + ln]
        pos += 1 + ln
    raise ValueError("GIF: truncated sub-blocks")


def decode_gif(data: bytes) -> np.ndarray:
    """First image of a GIF87a/89a: global/local palette, real LZW,
    interlace supported; extensions skipped. A grey palette yields
    (h, w); a color palette yields (h, w, 3)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _sw, _sh, packed, _bg, _ar = _unpack("<HHBBB", data, 6, "GIF header")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x21:                        # extension: skip sub-blocks
            _ext, pos = _gif_sub_blocks(data, pos + 1)
        elif block == 0x2C:                      # image descriptor
            _l, _t, w, h, ipacked = _unpack("<HHHHB", data, pos,
                                            "GIF image descriptor")
            pos += 9
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 7)
                pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("GIF image has no color table")
            lzw, _end = _gif_sub_blocks(data, pos + 1)   # after min code
            # a stream that ends (EOI) early leaves the other pixels 0
            raw = _lzw_decode(lzw, data[pos], w * h, "gif")
            idx = np.frombuffer(raw.ljust(w * h, b"\0"),
                                np.uint8).reshape(h, w)
            if ipacked & 0x40:                   # deinterlace
                rows = [y for start, step in _GIF_INTERLACE
                        for y in range(start, h, step)]
                un = np.empty_like(idx)
                un[rows] = idx
                idx = un
            if np.all(pal[:, 0] == pal[:, 1]) and np.all(pal[:, 1] == pal[:, 2]):
                return np.ascontiguousarray(pal[idx, 0])     # grey palette
            return np.ascontiguousarray(pal[idx])            # palette RGB
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"GIF: unexpected block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


# ---------------------------------------------------------------------------
# JPEG (DCT, greyscale + 3-component YCbCr color; LOSSY — the one
# non-exact codec)
# ---------------------------------------------------------------------------
#
# JFIF, baseline (SOF0) or progressive (SOF2): 8x8 DCT as a matrix product
# (einsum over all blocks), Annex-K luminance + chrominance quant tables
# scaled by libjpeg's quality formula, canonical Huffman codes BUILT
# LOCALLY and shipped in the file's own DHT segments (decoders read DHT,
# so no dependence on the "typical" Annex-K code tables). Color: JFIF
# YCbCr; the encoder emits 4:4:4 or 4:2:0 (box-mean chroma downsample),
# the decoder handles any integer sampling-factor grid (4:4:4 / 4:2:2 /
# 4:2:0), per-component quant/Huffman table ids, DRI/RSTn, byte stuffing
# and non-interleaved scans.
#
# One block order serves every scan in both directions: `_scan_units`
# lists a scan's restart units (T.81 A.2) — an MCU of an interleaved
# scan, a block of a single-component one. The encoder has one path over
# a component list (cid, hs, vs, tq), grey being colour with one
# component, and writes the one baseline scan or the progressive script
# through one set of block emitters: a baseline block is a DC-first
# block, an AC-first band 1-63 and an EOB flush. The decoder walks the
# same units through `_read_block` (the sequential fast path, chosen by
# SOF0/SOF1) or the progressive block decoders, and reads Huffman codes
# through a peek table built once per DHT table (`_huff_table`), not one
# bit at a time. JPEG is lossy: round-trips are near-equal, not equal —
# but the OCR pipeline binarizes with a >170-level ink/background margin,
# so spans over JPEG-encoded media equal the raw run's (gates
# ocr_spans_jpeg_media / ocr_spans_jpeg_color_media /
# ocr_spans_jpeg_prog_media).

_JPEG_QBASE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.float64)

_JPEG_QBASE_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.float64)


def _jpeg_zigzag() -> np.ndarray:
    """The 64 (row, col) pairs in JPEG zigzag order, generated from the
    diagonal-walk rule rather than hard-coded."""
    order = []
    for s in range(15):
        cells = [(i, s - i) for i in range(max(0, s - 7), min(s, 7) + 1)]
        order.extend(cells if s % 2 else cells[::-1])
    return np.array([r * 8 + c for r, c in order])


_ZZ = _jpeg_zigzag()


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    T = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    T[0] *= np.sqrt(0.5)
    return T * 0.5


_DCT = _dct_matrix()


def _jpeg_quant_table(quality: int, base: np.ndarray | None = None
                      ) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = ((_JPEG_QBASE if base is None else base) * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# local canonical Huffman specs: every DC category 4 bits, every AC
# symbol 9 bits (valid prefix codes; suboptimal size, exact semantics)
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = ([0x00, 0xF0]
               + [(r << 4) | s for r in range(16) for s in range(1, 11)])


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple]:
    """JPEG canonical code assignment: symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_BITS = [0, 0, 0, 12] + [0] * 12          # 12 symbols, all 4-bit
_AC_BITS = [0] * 8 + [len(_AC_SYMBOLS)] + [0] * 7   # all 9-bit
_DC_CODES = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 255
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)          # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)   # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _block_zz(plane: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """float64 plane (dims multiples of 8) -> quantized zigzag rows."""
    h, w = plane.shape
    blocks = (plane.reshape(h // 8, 8, w // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0)
    coeffs = np.einsum("ij,bjk,lk->bil", _DCT, blocks, _DCT)
    quant = np.round(coeffs / Q).astype(np.int32)
    return quant.reshape(-1, 64)[:, _ZZ]


# Progressive AC scans need EOBn symbols (r<15, s=0) that the Annex-K
# baseline tables don't define, so progressive scans use one flat
# canonical table: all 176 legal AC symbols (r 0..15 x s 0..10) at 9
# bits (BITS[9]=176 fits the one-byte DHT count; canonical code of the
# i-th symbol is simply i, and the all-ones code stays unused).
_PROG_AC_SYMBOLS = [(r << 4) | s for r in range(16) for s in range(11)]
_PROG_AC_BITS = [0] * 8 + [176] + [0] * 7
_PROG_AC_CODES = {sym: (i, 9) for i, sym in enumerate(_PROG_AC_SYMBOLS)}


def _emit_eobrun(bw: "_BitWriter", eobrun: int, bebits: list[int],
                 codes: dict) -> tuple[int, list]:
    """Flush a pending EOBn symbol plus the correction bits buffered
    while the run was open (T.81 G.1.2.3 encoder side). A run of one
    is EOB0, the sequential EOB."""
    if eobrun > 0:
        r = eobrun.bit_length() - 1
        bw.write(*codes[r << 4])
        if r:
            bw.write(eobrun - (1 << r), r)
        for b in bebits:
            bw.write(b, 1)
    return 0, []


def _emit_dc_first_block(bw: "_BitWriter", blk: np.ndarray, pred: int,
                         Al: int) -> int:
    """DC first scan: Huffman-coded difference of the point-transformed
    (arithmetic >> Al) DC coefficient."""
    v = int(blk[0]) >> Al
    diff = v - pred
    s = _category(diff)
    bw.write(*_DC_CODES[s])
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    return v


def _emit_ac_first_block(bw: "_BitWriter", blk: np.ndarray, Ss: int,
                         Se: int, Al: int, eobrun: int, codes: dict) -> int:
    """AC first scan for the band: ZRL/EOBn run-length coding of the
    point-transformed (truncate-toward-zero) coefficients."""
    vals = []
    for k in range(Ss, Se + 1):
        v = int(blk[k])
        vals.append(v >> Al if v >= 0 else -((-v) >> Al))
    if not any(vals):
        eobrun += 1
        if eobrun == 0x7FFF:
            eobrun, _ = _emit_eobrun(bw, eobrun, [], codes)
        return eobrun
    eobrun, _ = _emit_eobrun(bw, eobrun, [], codes)
    r = 0
    for v in vals:
        if v == 0:
            r += 1
            continue
        while r > 15:
            bw.write(*codes[0xF0])
            r -= 16
        s = _category(v)
        bw.write(*codes[(r << 4) | s])
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        r = 0
    if r > 0:
        eobrun += 1
    return eobrun


def _emit_ac_refine_block(bw: "_BitWriter", blk: np.ndarray, Ss: int,
                          Se: int, Al: int, eobrun: int, bebits: list[int],
                          codes: dict) -> tuple[int, list]:
    """AC refinement scan: newly-significant coefficients as (r,1)
    symbols + sign bit; one correction bit per already-nonzero
    coefficient, buffered across ZRL/EOB boundaries (T.81 G.1.2.3)."""
    absv, signs, eob = [], [], -1
    for k in range(Ss, Se + 1):
        v = int(blk[k])
        a = (v if v >= 0 else -v) >> Al
        absv.append(a)
        signs.append(1 if v >= 0 else 0)
        if a == 1:
            eob = k
    r, br_bits = 0, []
    for i, a in enumerate(absv):
        k = Ss + i
        if a == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            eobrun, bebits = _emit_eobrun(bw, eobrun, bebits, codes)
            bw.write(*codes[0xF0])
            r -= 16
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
        if a > 1:                     # already significant: correction
            br_bits.append(a & 1)     # bit rides with the next symbol
            continue
        eobrun, bebits = _emit_eobrun(bw, eobrun, bebits, codes)
        bw.write(*codes[(r << 4) | 1])
        bw.write(signs[i], 1)
        for b in br_bits:
            bw.write(b, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:              # trailing zero-history run -> EOB
        eobrun += 1
        bebits = bebits + br_bits
        if eobrun == 0x7FFF or len(bebits) > 930:
            eobrun, bebits = _emit_eobrun(bw, eobrun, bebits, codes)
    return eobrun, bebits


def _mcu_grid(comps: list[tuple], w: int,
              h: int) -> tuple[int, int, int, int]:
    """(hmax, vmax, mcus_x, mcus_y) of a frame of (cid, hs, vs, tq)
    components."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def _scan_units(comps: list[tuple], scan: list[int], w: int,
                h: int) -> list[list[tuple[int, int]]]:
    """The restart units of a scan over the component ids `scan`, in
    T.81 A.2 order; each entry is (position in `scan`, block index in
    that component's MCU-padded grid). An interleaved scan has one unit
    per MCU; a single-component scan has one per block of the
    component's REAL block grid (stride = the padded grid width)."""
    hmax, vmax, mcus_x, mcus_y = _mcu_grid(comps, w, h)
    meta = {cid: (hs, vs) for cid, hs, vs, _tq in comps}
    if len(scan) == 1:
        hs, vs = meta[scan[0]]
        stride = mcus_x * hs
        cw, ch = -(-w * hs // hmax), -(-h * vs // vmax)   # real samples
        return [[(0, by * stride + bx)] for by in range(-(-ch // 8))
                for bx in range(-(-cw // 8))]
    mcu = []        # per block of an MCU: (position, offset, row, hs)
    for i, cid in enumerate(scan):
        hs, vs = meta[cid]
        mcu += [(i, by * mcus_x * hs + bx, vs * mcus_x * hs, hs)
                for by in range(vs) for bx in range(hs)]
    return [[(i, my * row + mx * hs + off) for i, off, row, hs in mcu]
            for my in range(mcus_y) for mx in range(mcus_x)]


def _jpeg_scans(comps: list[tuple], zzs: dict, w: int, h: int,
                progressive: bool) -> bytes:
    """Every SOS header and entropy-coded segment of the image. Baseline
    is one interleaved scan, luma on table set 0 and chroma on set 1;
    each block is coded as DC, then AC 1-63, then its EOB. The
    progressive script is interleaved DC first (Al=1), per-component AC
    1-63 first (Al=1), per-component AC refine (Al=0) and interleaved
    DC refine, every AC scan on the one flat EOBn-capable table 0. It
    exercises every decode path: spectral selection, successive
    approximation on DC and AC, EOB runs, buffered correction bits,
    non-interleaved block order."""
    cids = [c[0] for c in comps]
    tabs = [0x00] + [0x11] * (len(cids) - 1)     # Td << 4 | Ta per cid
    if progressive:               # (scan, tables, Ss, Se, Ah, Al)
        codes, zero = _PROG_AC_CODES, [0] * len(cids)
        script = ([(cids, [t & 0xF0 for t in tabs], 0, 0, 0, 1)]
                  + [([cid], [0], 1, 63, ah, al)
                     for ah, al in ((0, 1), (1, 0)) for cid in cids]
                  + [(cids, zero, 0, 0, 1, 0)])
    else:
        codes, script = _AC_CODES, [(cids, tabs, 0, 63, 0, 0)]
    out = bytearray()
    for scan, tables, Ss, Se, Ah, Al in script:
        sos = [len(scan), *(b for pair in zip(scan, tables) for b in pair),
               Ss, Se, (Ah << 4) | Al]
        out += struct.pack(">HH", 0xFFDA, len(sos) + 2) + bytes(sos)
        bw = _BitWriter()
        grids = [zzs[cid] for cid in scan]
        preds = [0] * len(scan)
        eobrun, bebits = 0, []
        for unit in _scan_units(comps, scan, w, h):
            for i, idx in unit:
                blk = grids[i][idx]
                if Ss == 0 and Ah:          # DC refinement: one raw bit
                    bw.write((int(blk[0]) >> Al) & 1, 1)
                elif Ss == 0:
                    preds[i] = _emit_dc_first_block(bw, blk, preds[i], Al)
                if Se and Ah:
                    eobrun, bebits = _emit_ac_refine_block(
                        bw, blk, Ss, Se, Al, eobrun, bebits, codes)
                elif Se:
                    eobrun = _emit_ac_first_block(bw, blk, Ss or 1, Se, Al,
                                                  eobrun, codes)
                    if not Ss:              # sequential: no EOB runs
                        eobrun, _ = _emit_eobrun(bw, eobrun, [], codes)
        _emit_eobrun(bw, eobrun, bebits, codes)
        out += bw.flush()
    return bytes(out)


def _rgb_to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, ...]:
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _jfif_headers(h: int, w: int, comps: list[tuple], qsegs: list[bytes],
                  dpi: int | None, progressive: bool) -> bytearray:
    """SOI + APP0 + DQT(s) + SOF0/SOF2 + DHTs (same canonical tables
    under ids 0 and 1 — components reference them per class/id, so a
    decoder must honor the table-id indirection). Progressive frames
    replace the baseline AC tables with the one flat EOBn-capable
    table 0."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dht(cls: int, tid: int, bits: list[int], symbols: list[int]) -> bytes:
        return seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits)
                   + bytes(symbols))

    out = bytearray(b"\xff\xd8")                               # SOI
    units, dens = (1, int(dpi)) if dpi else (0, 1)
    out += seg(0xFFE0, b"JFIF\x00\x01\x01"
               + struct.pack(">BHHBB", units, dens, dens, 0, 0))
    for q in qsegs:
        out += seg(0xFFDB, q)
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += seg(0xFFC2 if progressive else 0xFFC0, sof)
    for tid in range(min(len(comps), 2)):
        out += dht(0, tid, _DC_BITS, _DC_SYMBOLS)
        if progressive and tid == 0:
            out += dht(1, 0, _PROG_AC_BITS, _PROG_AC_SYMBOLS)
        elif not progressive:
            out += dht(1, tid, _AC_BITS, _AC_SYMBOLS)
    return out


def encode_jpeg(img: np.ndarray, quality: int = 90,
                dpi: int | None = None,
                subsampling: str = "444",
                progressive: bool = False) -> bytes:
    """JFIF: greyscale (1 band) or YCbCr color (3 bands, `subsampling`
    '444' or '420' — box-mean chroma downsample). Lossy (see module
    notes). `dpi` writes the JFIF APP0 density in dots-per-inch
    (units=1); without it the header declares aspect-ratio-only density
    (units=0), i.e. no physical resolution. `progressive` emits an SOF2
    spectral-selection + successive-approximation scan script over the
    SAME quantized coefficients, so baseline and progressive encodes of
    one image decode pixel-identically."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:                 # one component, sampled 1x1
        planes, s = [img], 1
    elif img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("JPEG encoder supports 1 or 3 bands")
    elif subsampling not in ("444", "420"):
        raise ValueError(f"JPEG subsampling must be '444' or '420', "
                         f"got {subsampling!r}")
    else:
        planes, s = _rgb_to_ycbcr(img), 1 if subsampling == "444" else 2
    h, w = img.shape[:2]
    comps = [(1, s, s, 0), (2, 1, 1, 1), (3, 1, 1, 1)][:len(planes)]
    Qs = [_jpeg_quant_table(quality, base)            # one per tq
          for base in (_JPEG_QBASE, _JPEG_QBASE_CHROMA)[:comps[-1][3] + 1]]
    _hmax, _vmax, mcus_x, mcus_y = _mcu_grid(comps, w, h)
    ph, pw = mcus_y * 8 * s, mcus_x * 8 * s           # pad to the MCU
    zzs = {}
    for (cid, hs, _vs, tq), plane in zip(comps, planes):
        plane = np.pad(plane, ((0, ph - h), (0, pw - w)),
                       mode="edge").astype(np.float64)
        if hs < s:                                     # chroma box mean
            plane = plane.reshape(ph // s, s, pw // s, s).mean(axis=(1, 3))
        zzs[cid] = _block_zz(plane, Qs[tq])
    qsegs = [bytes([tq]) + bytes(Q.reshape(-1)[_ZZ].tolist())
             for tq, Q in enumerate(Qs)]
    out = _jfif_headers(h, w, comps, qsegs, dpi, progressive)
    out += _jpeg_scans(comps, zzs, w, h, progressive)
    return bytes(out + b"\xff\xd9")                         # EOI


# Huffman decoding is table-driven rather than bit-serial (T.81 Annex
# F.2.2.3). Each DHT table is built once into a peek table: the next 9
# bits of the stream index `lut`, whose entry is (length << 8) | symbol for
# a code of at most 9 bits. An entry of 0 is the prefix of a longer code
# (or of no code): `_huff_long` resolves it from the next 16 bits against
# the canonical code ranges of lengths 10..16.


def _huff_table(bits: list[int], symbols: list[int]) -> tuple[list, tuple]:
    """DHT (BITS, HUFFVAL) -> (lut, long) peek table. `long` holds one
    (length, first code, last code, symbols from first) per length above
    9 bits. Codes that overflow their length (an over-full BITS list)
    can never be read and are left out."""
    lut = [0] * 512
    long = []
    code = k = 0
    for length in range(1, 17):
        cnt = bits[length - 1]
        last = min(code + cnt, 1 << length) - 1
        if length <= 9:
            shift = 9 - length
            for c in range(code, last + 1):
                entry = (length << 8) | symbols[k + c - code]
                lut[c << shift: (c + 1) << shift] = [entry] * (1 << shift)
        elif last >= code:
            long.append((length, code, last, symbols[k: k + cnt]))
        code = (code + cnt) << 1
        k += cnt
    return lut, tuple(long)


def _huff_long(long: tuple, peek16: int) -> int:
    """(length << 8) | symbol of the code longer than 9 bits that starts
    `peek16`; ValueError when the bits start no code of the table."""
    for length, first, last, syms in long:
        c = peek16 >> (16 - length)
        if first <= c <= last:
            return (length << 8) | syms[c - first]
    raise ValueError("JPEG: invalid Huffman code")


def _fill(data: bytes, pos: int, acc: int, n: int) -> tuple[int, int, int]:
    """Top the bit buffer up to 32 bits or more: 0xFF00 is an unstuffed
    0xFF, a marker stops consumption (pos stays on it), and bytes at a
    marker or past the end read as 0xFF padding. The valid bits of `acc`
    are its low `n`; a run of 6 bytes without 0xFF loads in one step."""
    acc &= (1 << n) - 1
    word = data[pos: pos + 6]
    if len(word) == 6 and 0xFF not in word:
        return pos + 6, (acc << 48) | int.from_bytes(word, "big"), n + 48
    end = len(data)
    while n < 32:
        if pos >= end:
            b = 0xFF
        else:
            b = data[pos]
            if b != 0xFF:
                pos += 1
            elif pos + 1 >= end or data[pos + 1] == 0x00:
                pos += 2                        # stuffed byte
        acc = (acc << 8) | b
        n += 8
    return pos, acc, n


class _BitReader:
    """MSB-first entropy-coded-segment reader. `_read_block` runs the
    same state (pos, acc, n) in locals; both refill through `_fill`."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        n = self.n
        if n < 16:
            self.pos, self.acc, n = _fill(self.data, self.pos, self.acc, n)
        n -= k
        self.n = n
        return (self.acc >> n) & ((1 << k) - 1)

    def huff(self, table: tuple[list, tuple]) -> int:
        n = self.n
        if n < 16:
            self.pos, self.acc, n = _fill(self.data, self.pos, self.acc, n)
        acc = self.acc
        v = (table[0][(acc >> (n - 9)) & 0x1FF]
             or _huff_long(table[1], (acc >> (n - 16)) & 0xFFFF))
        self.n = n - (v >> 8)
        return v & 0xFF

    def align(self) -> None:
        self.n -= self.n % 8

    def at_marker(self) -> int | None:
        """If byte-aligned input sits at a marker, return it (no consume)."""
        d, p = self.data, self.pos
        if p + 1 < len(d) and d[p] == 0xFF and d[p + 1]:
            return d[p + 1]
        return None


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _read_block(br: "_BitReader", dc_tab: tuple, ac_tab: tuple,
                pred: int, blk: np.ndarray) -> int:
    """Entropy-decode one sequential block into its zigzag row `blk`;
    returns the new DC predictor. The reader's state is held in locals
    for the whole block (the per-symbol hot loop)."""
    data, pos, acc, n = br.data, br.pos, br.acc, br.n
    lut, long = dc_tab
    if n < 16:
        pos, acc, n = _fill(data, pos, acc, n)
    v = (lut[(acc >> (n - 9)) & 0x1FF]
         or _huff_long(long, (acc >> (n - 16)) & 0xFFFF))
    n -= v >> 8
    s = v & 0xFF
    if s:
        if n < 16:
            pos, acc, n = _fill(data, pos, acc, n)
        n -= s
        d = (acc >> n) & ((1 << s) - 1)
        pred += d if d >> (s - 1) else d - (1 << s) + 1
    blk[:] = 0
    blk[0] = pred
    lut, long = ac_tab
    k = 1
    while k < 64:
        if n < 16:
            pos, acc, n = _fill(data, pos, acc, n)
        v = (lut[(acc >> (n - 9)) & 0x1FF]
             or _huff_long(long, (acc >> (n - 16)) & 0xFFFF))
        n -= v >> 8
        s = v & 15
        if not s:
            if v & 0xFF == 0x00:               # EOB
                break
            if v & 0xFF != 0xF0:
                raise ValueError("JPEG: invalid AC symbol")
            k += 16                            # ZRL
            continue
        k += (v >> 4) & 15
        if k > 63:
            raise ValueError("JPEG: AC index out of range")
        if n < 16:
            pos, acc, n = _fill(data, pos, acc, n)
        n -= s
        d = (acc >> n) & ((1 << s) - 1)
        blk[k] = d if d >> (s - 1) else d - (1 << s) + 1
        k += 1
    br.pos, br.acc, br.n = pos, acc, n
    return pred


def _idct_plane(zz: np.ndarray, Q: np.ndarray, bh: int,
                bw_: int) -> np.ndarray:
    blocks = np.zeros((bh * bw_, 64), dtype=np.int32)
    blocks[:, _ZZ] = zz
    coeffs = blocks.reshape(-1, 8, 8) * Q
    pix = np.einsum("ji,bjk,kl->bil", _DCT, coeffs.astype(np.float64), _DCT)
    pix = np.clip(np.round(pix + 128.0), 0, 255).astype(np.uint8)
    return (pix.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw_ * 8))


def _jpeg_scan_end(data: bytes, pos: int) -> int:
    """Index of the first marker after `pos` that terminates entropy
    data (stuffed 0xFF00 bytes and RST0-7 belong to the scan)."""
    p = pos
    n = len(data)
    while p < n - 1:
        p = data.find(b"\xff", p)
        if p < 0 or p + 1 >= n:
            return n
        nxt = data[p + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            p += 2
            continue
        return p
    return n


def _decode_dc_block(br: "_BitReader", blk: np.ndarray, dc_tab: tuple,
                     pred: int, Ah: int, Al: int) -> int:
    """Progressive DC: first scan (Ah=0) decodes the point-transformed
    difference; refinement ORs in the next lower bit (T.81 G.1.2.1)."""
    if Ah == 0:
        s = br.huff(dc_tab)
        pred += _extend(br.bits(s), s) if s else 0
        blk[0] = pred << Al
    else:
        if br.bits(1):
            blk[0] |= 1 << Al
    return pred


def _decode_ac_first(br: "_BitReader", blk: np.ndarray, ac_tab: tuple,
                     Ss: int, Se: int, Al: int, eobrun: int) -> int:
    """Progressive AC, first scan for this band (T.81 G.1.2.2): EOBn
    run-length codes span whole blocks; values land shifted by Al."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        sym = br.huff(ac_tab)
        r, s = sym >> 4, sym & 15
        if s == 0:
            if r != 15:                       # EOBn
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                break
            k += 16                           # ZRL
            continue
        k += r
        if k > Se:
            raise ValueError("JPEG: AC index out of range")
        blk[k] = _extend(br.bits(s), s) << Al
        k += 1
    return eobrun


def _decode_ac_refine(br: "_BitReader", blk: np.ndarray, ac_tab: tuple,
                      Ss: int, Se: int, Al: int, eobrun: int) -> int:
    """Progressive AC refinement (T.81 G.1.2.3): newly-significant
    coefficients arrive as ±1<<Al; already-nonzero ones absorb one
    correction bit each, including inside EOB runs."""
    p1, m1 = 1 << Al, -1 << Al
    k = Ss
    if eobrun == 0:
        while k <= Se:
            sym = br.huff(ac_tab)
            r, s = sym >> 4, sym & 15
            val = 0
            if s == 0:
                if r != 15:                   # EOBn
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
            else:
                val = p1 if br.bits(1) else m1
            while k <= Se:                    # advance r zero-history
                c = int(blk[k])               # coeffs, correcting the
                if c != 0:                    # nonzero-history ones
                    if br.bits(1) and not (c & p1):
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= Se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= Se:                        # EOB-run blocks still carry
            c = int(blk[k])                   # correction bits
            if c != 0:
                if br.bits(1) and not (c & p1):
                    blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(data: bytes) -> np.ndarray:
    """Sequential (SOF0/SOF1) and progressive (SOF2) JFIF decode:
    DHT-driven Huffman, DRI/RSTn, byte stuffing, interleaved and
    non-interleaved scans, spectral selection + successive approximation
    (T.81 Annex G). Greyscale or 3-component YCbCr with any integer
    sampling grid (4:4:4 / 4:2:2 / 4:2:0). Arithmetic-coded, lossless
    and hierarchical SOFs are rejected."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple, tuple] = {}           # (class, id) -> peek table
    h = w = None
    comps: list[tuple[int, int, int, int]] = []   # (cid, hs, vs, tq)
    restart = 0
    progressive = False
    n_scans = 0
    zzs: dict[int, np.ndarray] = {}
    hmax = vmax = mcus_x = mcus_y = 1
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG: marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        payload = data[pos + 4: pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:                     # DQT (may hold several)
            i = 0
            while i < len(payload):
                pq, tq = payload[i] >> 4, payload[i] & 15
                if pq != 0:
                    raise NotImplementedError("JPEG 16-bit quant tables")
                tab = np.zeros(64, dtype=np.int32)
                tab[_ZZ] = np.frombuffer(payload, np.uint8, 64, i + 1)
                qtabs[tq] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:                   # DHT (may hold several)
            i = 0
            while i < len(payload):
                cls, tid = payload[i] >> 4, payload[i] & 15
                bits = list(payload[i + 1: i + 17])
                n = sum(bits)
                symbols = list(payload[i + 17: i + 17 + n])
                if len(bits) < 16 or len(symbols) < n:
                    raise ValueError("JPEG: truncated DHT segment")
                # a DC symbol is a difference category, 0-11 for 8-bit
                # samples (T.81 F.1.2.1)
                if cls == 0 and max(symbols, default=0) > 11:
                    raise ValueError(f"JPEG: DHT DC table {tid} has "
                                     f"category {max(symbols)}, above 11")
                htabs[(cls, tid)] = _huff_table(bits, symbols)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):     # SOF0/1 sequential, 2 prog.
            progressive = marker == 0xC2
            if len(payload) < 6:
                raise ValueError("JPEG: truncated SOF segment")
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"JPEG: {ncomp}-component images unsupported")
            if len(payload) < 6 + 3 * ncomp:
                raise ValueError("JPEG: truncated SOF segment")
            for c in range(ncomp):
                cid, samp, tq = payload[6 + 3 * c: 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 15, tq))
            if not all(c[1] and c[2] for c in comps):
                raise ValueError("JPEG: sampling factor 0")
            hmax, vmax, mcus_x, mcus_y = _mcu_grid(comps, w, h)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise NotImplementedError("JPEG: non-integer sampling "
                                          "ratios")
            # full (MCU-padded) coefficient grid per component; every
            # scan accumulates into it
            zzs = {cid: np.zeros((mcus_y * vs * mcus_x * hs, 64),
                                 dtype=np.int32)
                   for cid, hs, vs, _tq in comps}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} (lossless/arithmetic/"
                "hierarchical) unsupported")
        elif marker == 0xDD:                   # DRI
            if len(payload) < 2:
                raise ValueError("JPEG: truncated DRI segment")
            (restart,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:                   # SOS: one scan of many
            if h is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = payload[0] if payload else 0
            if not ns:
                raise ValueError("JPEG: scan has no components")
            scomps = []                        # (cid, Td, Ta) in scan
            for c in range(ns):
                cid, tt = payload[1 + 2 * c: 3 + 2 * c]
                scomps.append((cid, tt >> 4, tt & 15))
            Ss, Se, ahal = payload[1 + 2 * ns: 4 + 2 * ns]
            Ah, Al = ahal >> 4, ahal & 15
            if not progressive:
                Ss, Se, Ah, Al = 0, 63, 0, 0
            for cid, td, ta in scomps:
                if cid not in zzs:
                    raise ValueError(f"JPEG: scan component {cid} is not "
                                     "in the frame")
                if not progressive:
                    need = [(0, td), (1, ta)]
                elif Ss:                       # AC scan
                    need = [(1, ta)]
                else:                          # DC first / refinement
                    need = [] if Ah else [(0, td)]
                for cls, tid in need:
                    if (cls, tid) not in htabs:
                        raise ValueError(
                            f"JPEG: scan selects undefined "
                            f"{('DC', 'AC')[cls]} Huffman table {tid}")
            end = _jpeg_scan_end(data, pos)
            br = _BitReader(data[pos:end])
            pos = end
            n_scans += 1
            # per scan position: component id, grid and tables
            cids = [cid for cid, _td, _ta in scomps]
            grids = [zzs[cid] for cid in cids]
            dcs = [htabs.get((0, td)) for _cid, td, _ta in scomps]
            acs = [htabs.get((1, ta)) for _cid, _td, ta in scomps]
            preds = dict.fromkeys(cids, 0)
            eobrun = 0
            for n_unit, unit in enumerate(_scan_units(comps, cids, w, h)):
                if restart and n_unit and n_unit % restart == 0:
                    br.align()
                    m = br.at_marker()
                    if m is not None and 0xD0 <= m <= 0xD7:
                        br.pos += 2            # consume RSTn
                        br.acc = br.n = 0
                    preds = dict.fromkeys(cids, 0)
                    eobrun = 0
                for i, idx in unit:
                    cid, blk = cids[i], grids[i][idx]
                    if not progressive:
                        preds[cid] = _read_block(br, dcs[i], acs[i],
                                                 preds[cid], blk)
                    elif Ss == 0:              # DC scan (Se must be 0)
                        preds[cid] = _decode_dc_block(br, blk, dcs[i],
                                                      preds[cid], Ah, Al)
                    elif Ah == 0:              # AC first (ns == 1)
                        eobrun = _decode_ac_first(br, blk, acs[i], Ss, Se,
                                                  Al, eobrun)
                    else:                      # AC refinement
                        eobrun = _decode_ac_refine(br, blk, acs[i], Ss, Se,
                                                   Al, eobrun)
    if h is None or n_scans == 0:
        raise ValueError("JPEG: missing SOS/SOF")
    for _cid, _hs, _vs, tq in comps:
        if tq not in qtabs:
            raise ValueError(f"JPEG: quantization table {tq} not defined")
    planes = {}
    for cid, hs, vs, tq in comps:
        plane = _idct_plane(zzs[cid], qtabs[tq], mcus_y * vs, mcus_x * hs)
        ch = -(-h * vs // vmax)                # component dims before
        cw = -(-w * hs // hmax)                # upsampling, then replicate
        plane = plane[:ch, :cw]
        plane = np.repeat(np.repeat(plane, vmax // vs, axis=0),
                          hmax // hs, axis=1)[:h, :w]
        planes[cid] = plane
    if len(comps) == 1:
        return np.ascontiguousarray(planes[comps[0][0]])
    y = planes[comps[0][0]].astype(np.float64)
    cb = planes[comps[1][0]].astype(np.float64) - 128.0
    cr = planes[comps[2][0]].astype(np.float64) - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=2)
    return np.ascontiguousarray(
        np.clip(np.round(rgb), 0, 255).astype(np.uint8))


# JPEG 2000 lives in its own module (MQ coder + EBCOT + 5/3 DWT are
# ~900 lines on their own); registered here so sniff/decode dispatch is
# uniform across all seven formats.
from .codecs_jp2 import decode_jp2, encode_jp2  # noqa: E402

from .codecs_pdf import decode_pdf, encode_pdf  # noqa: E402 — registry

def _tiff_dpi(data: bytes) -> int | None:
    endian, ifd_off = _tiff_header(data)
    tags = _tiff_tags(data, endian, ifd_off)
    unit = (_tiff_values(data, endian, tags, "resolution_unit")[0]
            if "resolution_unit" in tags else 2)    # spec default: inch
    if tags.get("x_resolution", (0,))[0] != 5 or unit == 1:  # 1: no unit
        return None
    num, den = _tiff_values(data, endian, tags, "x_resolution")[:2]
    if not den:
        return None
    return round(num / den * 2.54) if unit == 3 else round(num / den)


def _png_dpi(data: bytes) -> int | None:
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4: pos + 8]
        if typ == b"pHYs" and length >= 9:
            ppm_x, _ppm_y, unit = struct.unpack_from(">IIB", data, pos + 8)
            return round(ppm_x * 0.0254) if unit == 1 else None
        if typ == b"IDAT":                  # pHYs must precede IDAT
            return None
        pos += 12 + length
    return None


def _jpeg_dpi(data: bytes) -> int | None:
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        if marker == 0xDA:                  # SOS — no APP0 seen
            return None
        (length,) = struct.unpack_from(">H", data, pos + 2)
        if marker == 0xE0 and data[pos + 4: pos + 9] == b"JFIF\x00":
            units, xd = struct.unpack_from(">BH", data, pos + 11)
            if units == 1 and xd:
                return int(xd)
            if units == 2 and xd:
                return round(xd * 2.54)
            return None                     # units=0: aspect ratio only
        pos += 2 + length
    return None


def _bmp_dpi(data: bytes) -> int | None:
    ppm = struct.unpack_from("<i", data, 38)[0]
    return round(ppm * 0.0254) if ppm > 0 else None


def read_dpi(payload: bytes) -> int | None:
    """Embedded physical resolution of an encoded payload, or None.

    The metadata read-back half of S5 (ImageIOHelper.readImageData:
    379-407 reads DPI from image metadata with a screen-resolution
    fallback): TIFF XResolution/ResolutionUnit, PNG pHYs, JFIF APP0
    density, BMP biXPelsPerMeter. Header-level parse only — no pixel
    decode. Formats without a resolution field (PNM, GIF, our JP2
    subset, PDF) return None and fall through to the table column /
    default chain."""
    payload = bytes(payload)
    codec = sniff_codec(payload[:8])
    try:
        if codec == "tiff":
            return _tiff_dpi(payload)
        if codec == "png":
            return _png_dpi(payload)
        if codec == "jpeg":
            return _jpeg_dpi(payload)
        if codec == "bmp":
            return _bmp_dpi(payload)
    except Exception:                       # truncated/foreign header:
        return None                         # metadata absent, not fatal
    return None


DECODERS = {"bmp": decode_bmp, "pnm": decode_pnm, "tiff": decode_tiff,
            "png": decode_png, "gif": decode_gif, "jpeg": decode_jpeg,
            "jp2": decode_jp2, "pdf": decode_pdf}
ENCODERS = {"bmp": encode_bmp, "pnm": encode_pnm, "tiff": encode_tiff,
            "png": encode_png, "gif": encode_gif, "jpeg": encode_jpeg,
            "jp2": encode_jp2, "pdf": encode_pdf}
