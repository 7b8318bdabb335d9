"""The entropy-coded codecs (JPEG, JPEG 2000, GIF, TIFF LZW and the CCITT
fax coder): pinned encoder bytes and decoded pixels, and typed errors on
bad streams.

Each pinned case encodes a seeded fixture and pins the sha256 of the encoded
bytes and of the decoded pixels. The encoders build perfbench's codec
pool, so a changed byte would hand two checkouts different benchmark
inputs; the decoders must keep every pixel. The fixtures are a noisy
page (dense coefficients, many GIF/TIFF LZW codes and dictionary resets)
and a rendered text page (long zero runs, JP2 run-length mode); the noisy
grey page is large enough to split into several 64x64 JP2 code-blocks.
"""

from __future__ import annotations

import contextlib
import hashlib
import signal
import struct

import numpy as np
import pytest

from org_dharts_dia_tesseract_spark import codecs_img as C
from org_dharts_dia_tesseract_spark import codecs_jp2 as J
from org_dharts_dia_tesseract_spark import datagen
from org_dharts_dia_tesseract_spark.codecs_avi import (decode_avi_mjpeg,
                                                       encode_avi_mjpeg)
from org_dharts_dia_tesseract_spark.codecs_pdf import decode_pdf, encode_pdf

NOISE = np.random.default_rng(2026).integers(0, 256, (150, 141),
                                              dtype=np.uint8)
NOISE_RGB = np.random.default_rng(2027).integers(0, 256, (37, 42, 3),
                                                 dtype=np.uint8)
TEXT = datagen.fixture_page("simple_poetry")
TEXT_RGB = datagen.colorize_page(TEXT)


def _sha(b) -> str:
    if isinstance(b, np.ndarray):
        b = str(b.shape).encode() + np.ascontiguousarray(b).tobytes()
    return hashlib.sha256(b).hexdigest()[:16]


def _mjpeg(img: np.ndarray):
    frames = [C.encode_jpeg(img), C.encode_jpeg(255 - img)]
    h, w = img.shape[:2]
    enc = encode_avi_mjpeg(frames, w, h, 5)
    dec, _w, _h, _fps = decode_avi_mjpeg(enc)
    return enc, np.stack(dec)


def _pair(encode, decode):
    def run(img):
        enc = encode(img)
        return enc, decode(enc)
    return run


CASES = {
    "jpeg-grey": _pair(C.encode_jpeg, C.decode_jpeg),
    "jpeg-420": _pair(lambda im: C.encode_jpeg(im, subsampling="420"),
                      C.decode_jpeg),
    "jpeg-prog": _pair(lambda im: C.encode_jpeg(im, progressive=True),
                       C.decode_jpeg),
    "jp2": _pair(C.encode_jp2, C.decode_jp2),
    "gif": _pair(C.encode_gif, C.decode_gif),
    "tiff-lzw": _pair(lambda im: C.encode_tiff(im, compression="lzw"),
                      C.decode_tiff),
    "tiff-lzw-pred": _pair(
        lambda im: C.encode_tiff(im, compression="lzw", predictor=True),
        C.decode_tiff),
    "mjpeg": _mjpeg,
    **{f"tiff-{c}": _pair(
        lambda im, c=c: C.encode_tiff(im, compression=c, bits=1),
        C.decode_tiff) for c in ("g3", "t4", "t4_2d", "g4")},
    "pdf-ccitt": _pair(lambda im: encode_pdf(im, ccitt=True), decode_pdf),
}

# (case, fixture) -> (sha of the encoded bytes, sha of the decoded pixels)
PINS = {
    ("jpeg-grey", "noise"): ("8903f592dc4ed52a", "c72600e2240b54c6"),
    ("jpeg-grey", "text"): ("218bb0cdb2cd2921", "6d36e085f378cd79"),
    ("jpeg-420", "noise-rgb"): ("bb1290b9b3dcacbd", "5c3407b2b252ed26"),
    ("jpeg-420", "text-rgb"): ("b17badd2712b9b6c", "6c4c532d9fb6155c"),
    ("jpeg-prog", "noise"): ("3b636ca12e8be7ed", "c72600e2240b54c6"),
    ("jpeg-prog", "text"): ("f34ecf178ae52592", "6d36e085f378cd79"),
    ("jpeg-prog", "text-rgb"): ("7997ccb649079b69", "aa6ef87f57c8a659"),
    ("jp2", "noise-odd"): ("39b0090df6985578", "bd0ddd54f6f8a6e8"),
    ("jp2", "text"): ("e4e7a2bfc7058cc6", "544540e53210d0cc"),
    ("jp2", "noise-rgb"): ("66231673bae5ed79", "67bb276ca4b17670"),
    ("gif", "noise"): ("e87359357f971b71", "682a789ced8a72d7"),
    ("gif", "text"): ("100cfe47415b0515", "544540e53210d0cc"),
    ("gif", "noise-rgb64"): ("9af288013e0876d9", "0921ac80e937f542"),
    ("tiff-lzw", "noise"): ("297ce33ba0626652", "682a789ced8a72d7"),
    ("tiff-lzw", "text"): ("77baac13fbdd6516", "544540e53210d0cc"),
    ("tiff-lzw", "noise-rgb"): ("c0cddb9785683007", "67bb276ca4b17670"),
    ("tiff-lzw-pred", "noise"): ("319517b6311283bd", "682a789ced8a72d7"),
    ("tiff-lzw-pred", "text"): ("5fd81bbf1c9e7d89", "544540e53210d0cc"),
    ("mjpeg", "noise"): ("58f72f93a2435db0", "333496dec13c321b"),
    ("mjpeg", "text"): ("5b1ade9d13f3e6a3", "7937b81bdbb307b7"),
    ("tiff-g3", "noise"): ("78c3b1b9f2d93bf3", "28d78a7db6e00140"),
    ("tiff-g3", "text"): ("d3b009aa8e2977af", "98841ff79df35648"),
    ("tiff-t4", "noise"): ("a3781343045a2b78", "28d78a7db6e00140"),
    ("tiff-t4", "text"): ("baebd7a62e9cfaf4", "98841ff79df35648"),
    ("tiff-t4_2d", "noise"): ("62bf8a5704737d46", "28d78a7db6e00140"),
    ("tiff-t4_2d", "text"): ("95219140ffcfb872", "98841ff79df35648"),
    ("tiff-g4", "noise"): ("ff0aea4af5a918d8", "28d78a7db6e00140"),
    ("tiff-g4", "text"): ("b2a6c5514e78490f", "98841ff79df35648"),
    ("pdf-ccitt", "noise"): ("cf87b696d522778e", "28d78a7db6e00140"),
    ("pdf-ccitt", "text"): ("cc5b1a6dd6f4e65b", "98841ff79df35648"),
}

FIXTURES = {
    "noise": NOISE,
    "text": TEXT,
    "noise-rgb": NOISE_RGB,
    "text-rgb": TEXT_RGB,
    "noise-odd": NOISE[:, :139],
    "noise-rgb64": NOISE_RGB & 0xC0,          # 64 colours: GIF palette
}


@pytest.mark.parametrize("case,fixture", sorted(PINS))
def test_codec_output_pinned(case, fixture):
    enc, dec = CASES[case](FIXTURES[fixture])
    assert (_sha(enc), _sha(dec)) == PINS[(case, fixture)]


def _lzw_lsb(codes: list[int], width: int) -> bytes:
    acc = n_bits = 0
    out = bytearray()
    for c in codes:
        acc |= c << n_bits
        n_bits += width
    while n_bits > 0:
        out.append(acc & 255)
        acc >>= 8
        n_bits -= 8
    return bytes(out)


def test_gif_lzw_first_code_out_of_range():
    """The first code after Clear must name a root entry; one past the
    table raises the same typed error as TIFF LZW, not IndexError. (Four
    bytes hold three 9-bit codes, so at most 9 output bytes.)"""
    with pytest.raises(ValueError, match="GIF LZW code 300 out of range"):
        C._lzw_decode(_lzw_lsb([256, 300, 257], 9), 8, 9, "gif")
    with pytest.raises(ValueError, match="TIFF LZW code 300 out of range"):
        C._lzw_decode(bytes([0x80, 0x4B, 0x20, 0x20]), 8, 9, "tiff")


def _gif(w: int, h: int, lzw: bytes) -> bytes:
    """A GIF89a with the grey ramp palette and one image of `lzw` data."""
    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0))
    out += np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes([8])
    out += bytes([len(lzw)]) + lzw + b"\x00\x3b"
    return bytes(out)


def test_gif_lzw_short_stream_pads_with_zero():
    """A stream that ends (EOI) before the image is full leaves the rest
    of the pixels 0, not whatever the buffer held."""
    out = C.decode_gif(_gif(3, 2, _lzw_lsb([256, 7, 9, 257], 9)))
    assert out.tolist() == [[7, 9, 0], [0, 0, 0]]


def test_gif_lzw_output_bound_refuses_huge_header():
    """Three 9-bit codes cannot decode to more than 3 * 3 bytes, so a
    header claiming 8000 x 8000 pixels over them is refused before the
    64 MB image is allocated."""
    blob = _gif(8000, 8000, _lzw_lsb([256, 7, 257], 9))
    assert len(blob) == 799
    with pytest.raises(ValueError, match="GIF LZW stream of 4 bytes"):
        C.decode_gif(blob)


@pytest.mark.parametrize("min_code_size", [1, 9, 194])
def test_gif_lzw_min_code_size_out_of_range(min_code_size):
    """GIF codes are at most 12 bits wide and name byte strings, so a
    minimum code size outside 2..8 is a ValueError, not IndexError."""
    blob = bytearray(_gif(3, 2, _lzw_lsb([256, 7, 9, 257], 9)))
    blob[791] = min_code_size                   # after header + palette
    with pytest.raises(ValueError, match=f"minimum code size {min_code_size}"):
        C.decode_gif(bytes(blob))


def _patched(blob: bytes, marker: bytes, offset: int, value: int) -> bytes:
    b = bytearray(blob)
    b[blob.index(marker) + offset] = value
    return bytes(b)


@pytest.mark.parametrize("progressive", [False, True],
                         ids=["sequential", "progressive"])
def test_jpeg_undefined_tables_raise_value_error(progressive):
    """A scan selecting a Huffman table no DHT defined, or a component
    naming a missing quantization table, is a ValueError naming it."""
    blob = C.encode_jpeg(NOISE[:16, :16], progressive=progressive)
    # SOS payload: Ns, then (component id, Td << 4 | Ta) per component
    bad_dc = _patched(blob, b"\xff\xda", 6, 0x30)
    with pytest.raises(ValueError, match="DC Huffman table 3"):
        C.decode_jpeg(bad_dc)
    if not progressive:      # the first progressive scans are DC-only
        bad_ac = _patched(blob, b"\xff\xda", 6, 0x03)
        with pytest.raises(ValueError, match="AC Huffman table 3"):
            C.decode_jpeg(bad_ac)
    # SOF payload: P, Y, X, Nf, then (id, H << 4 | V, Tq) per component
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    bad_q = _patched(blob, sof, 12, 3)
    with pytest.raises(ValueError, match="quantization table 3"):
        C.decode_jpeg(bad_q)


def _tiff_value_at(blob: bytes, tag: int) -> int:
    """Offset of the inline value field of `tag` in a little-endian
    single-IFD TIFF."""
    ifd = int.from_bytes(blob[4:8], "little")
    for i in range(int.from_bytes(blob[ifd:ifd + 2], "little")):
        e = ifd + 2 + 12 * i
        if int.from_bytes(blob[e:e + 2], "little") == tag:
            return e + 8
    raise KeyError(tag)


def _tiff_set(blob: bytes, tag: int, value: int) -> bytes:
    at = _tiff_value_at(blob, tag)
    return blob[:at] + value.to_bytes(4, "little") + blob[at + 4:]


def test_ccitt_rows_bounded_by_stream_bits():
    """A header claiming 2^31 rows x 2^16 columns over a few bytes is
    refused before the 128 TiB row buffer is allocated: every coded row
    takes at least one bit."""
    img = np.full((2, 8), 255, dtype=np.uint8)
    tif = C.encode_tiff(img, compression="g4", bits=1)
    for tag, value in ((256, 1 << 16), (257, 1 << 31), (278, 1 << 31)):
        tif = _tiff_set(tif, tag, value)
    with pytest.raises(ValueError, match="rows cannot be coded"):
        C.decode_tiff(tif)
    pdf = (encode_pdf(img, ccitt=True)
           .replace(b"/Width 8 /Height 2", b"/Width 65536 /Height 2147483648")
           .replace(b"/Columns 8 /Rows 2", b"/Columns 65536 /Rows 2147483648"))
    with pytest.raises(ValueError, match="rows cannot be coded"):
        decode_pdf(pdf)


def test_ccitt_g4_vertical_code_left_of_a0_rejected():
    """Row 0 has pixels 1-2 black; row 1 is VL3 V0 V0, so its first
    change a1 = b1 - 3 = -2 lies left of the line start."""
    bw = C._MsbWriter()
    C._g4_encode_line(bw, [1, 3], [], 8)
    bw.write(0b0000010, 7)                    # VL3
    bw.write(1, 1)                            # V0
    bw.write(1, 1)                            # V0
    stream = bw.flush()
    tif = C.encode_tiff(np.full((2, 8), 255, dtype=np.uint8),
                        compression="g4", bits=1)
    at = _tiff_value_at(tif, 273)             # the one strip ends the file
    tif = tif[:int.from_bytes(tif[at:at + 4], "little")] + stream
    tif = _tiff_set(tif, 279, len(stream))
    with pytest.raises(ValueError, match="moves left"):
        C.decode_tiff(tif)


@pytest.mark.parametrize("k", [-1, 0, 3])
@pytest.mark.parametrize("eol", [False, True])
@pytest.mark.parametrize("align", [False, True])
def test_ccitt_every_wire_form_roundtrips(k, eol, align):
    """One coder covers every (K, EndOfLine, EncodedByteAlign) triple."""
    black = NOISE[:23, :37] < 128
    enc = C._ccitt_encode(black, k, eol, align)
    dec = C._ccitt_decode(enc, 23, 37, k, eol, align)
    rows = np.unpackbits(np.frombuffer(dec, np.uint8).reshape(23, -1),
                         axis=1)[:, :37]
    assert np.array_equal(rows.astype(bool), black)


def test_gif_truncated_inside_extension_or_image_data():
    """A payload cut inside an extension's sub-blocks or inside the image
    data is a ValueError, not an IndexError from the sub-block walk."""
    blob = C.encode_gif(NOISE[:20, :30])
    desc = blob.index(b"\x2c", 13 + 768)        # after header + palette
    comment = b"\x21\xfe\x05hello\x03abc\x00"   # comment extension
    with_ext = blob[:desc] + comment + blob[desc:]
    assert np.array_equal(C.decode_gif(with_ext), C.decode_gif(blob))
    for cut in (desc + 4, desc + len(comment) - 1):
        with pytest.raises(ValueError, match="GIF: truncated sub-blocks"):
            C.decode_gif(with_ext[:cut])
    for cut in (len(blob) - 3, desc + 11, desc + 10):   # in / at LZW data
        with pytest.raises(ValueError, match="GIF: truncated sub-blocks"):
            C.decode_gif(blob[:cut])
    with pytest.raises(ValueError, match="GIF image descriptor at offset"):
        C.decode_gif(blob[:desc + 5])
    with pytest.raises(ValueError, match="GIF header at offset 6"):
        C.decode_gif(blob[:10])


def test_tiff_offsets_past_payload_name_what_was_read():
    """An IFD offset or a value offset past the payload is a ValueError
    naming the IFD or the tag, not an untyped struct.error."""
    tif = C.encode_tiff(NOISE_RGB)              # 3 x SHORT bits: offset
    far = len(tif) + 100
    bad_ifd = tif[:4] + far.to_bytes(4, "little") + tif[8:]
    with pytest.raises(ValueError, match=f"TIFF IFD at offset {far}"):
        C.decode_tiff(bad_ifd)
    bad_value = _tiff_set(tif, 258, far)
    with pytest.raises(ValueError, match=f"TIFF bits tag at offset {far}"):
        C.decode_tiff(bad_value)


def _segment(blob: bytes, marker: bytes) -> int:
    """Offset of the length field of the first `marker` segment."""
    return blob.index(marker) + 2


@pytest.mark.parametrize("progressive", [False, True],
                         ids=["sequential", "progressive"])
def test_jpeg_short_marker_segments_raise_value_error(progressive):
    """An SOF shorter than 6 + 3 Nf bytes, an SOS naming no components
    and a DRI without its interval are ValueErrors, not struct.error or
    IndexError; so is a sampling factor of 0, not ZeroDivisionError."""
    blob = C.encode_jpeg(NOISE_RGB, subsampling="420",
                         progressive=progressive)
    sof = _segment(blob, b"\xff\xc2" if progressive else b"\xff\xc0")
    for short in (2 + 6 + 3 * 3 - 1, 2 + 5):    # one component byte / Nf
        b = bytearray(blob)
        b[sof:sof + 2] = short.to_bytes(2, "big")
        with pytest.raises(ValueError, match="truncated SOF segment"):
            C.decode_jpeg(bytes(b))
    b = bytearray(blob)
    b[sof + 9] = 0x20                           # luma H = 2, V = 0
    with pytest.raises(ValueError, match="sampling factor 0"):
        C.decode_jpeg(bytes(b))
    sos = _segment(blob, b"\xff\xda")
    b = bytearray(blob)
    b[sos + 2] = 0                              # Ns
    with pytest.raises(ValueError, match="scan has no components"):
        C.decode_jpeg(bytes(b))
    at = blob.index(b"\xff\xda")
    dri = blob[:at] + b"\xff\xdd\x00\x02" + blob[at:]
    with pytest.raises(ValueError, match="truncated DRI segment"):
        C.decode_jpeg(dri)


def _jpeg_scans_of(blob: bytes) -> tuple[bytes, list[tuple[bytes, bytes]]]:
    """(everything before the first SOS, [(SOS segment, entropy-coded
    bytes)]) of a stream without restart markers."""
    pos = blob.index(b"\xff\xda")
    head, scans = blob[:pos], []
    while blob[pos:pos + 2] == b"\xff\xda":
        start = pos + 2 + int.from_bytes(blob[pos + 2:pos + 4], "big")
        end = start
        while blob[end] != 0xFF or blob[end + 1] == 0x00:
            end += 2 if blob[end] == 0xFF else 1
        scans.append((blob[pos:start], blob[start:end]))
        pos = end
    assert blob[pos:] == b"\xff\xd9"
    return head, scans


@pytest.mark.parametrize("rows", [1, 2, 3])
@pytest.mark.parametrize("form", ["grey", "444", "420", "grey-prog",
                                  "444-prog", "420-prog"])
def test_jpeg_restart_intervals_decode_like_strips(form, rows):
    """Real restart intervals: each strip of `rows` MCU rows is encoded
    on its own, and its entropy-coded segment becomes one restart
    interval of the whole image (RSTn between them, a DRI per scan).
    Restarts zero the DC predictors and EOB runs exactly as a strip's own
    encode starts them, so the whole decodes to the stacked strips. A
    scan's interval is one MCU row of its restart units: MCUs when
    interleaved, the component's real blocks when not."""
    colour, _, prog = form.partition("-")
    img = NOISE[:77, :45] if colour == "grey" else TEXT_RGB[100:201, :45]
    s = 2 if colour == "420" else 1
    kw = {"subsampling": colour.replace("grey", "444"),
          "progressive": bool(prog)}
    h, w = img.shape[:2]
    strip = rows * 8 * s
    encs = [C.encode_jpeg(img[y:y + strip], **kw) for y in range(0, h, strip)]
    assert len(encs) >= 3
    head, scans = _jpeg_scans_of(encs[0])
    sof = _segment(head, b"\xff\xc2" if prog else b"\xff\xc0")
    head = head[:sof + 3] + h.to_bytes(2, "big") + head[sof + 5:]
    comps = [(1, s, s, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    if colour == "grey":
        comps = comps[:1]
    samp = {cid: hs for cid, hs, _vs, _tq in comps}
    out = bytearray(head)
    for j, (sos, _seg) in enumerate(scans):
        scan = [sos[5 + 2 * i] for i in range(sos[4])]
        if len(scan) > 1:                       # MCUs per MCU row
            per_row = -(-w // (8 * s))
        else:                                   # real blocks per row
            hs = samp[scan[0]]
            cw = -(-w * hs // s)                # component samples across
            per_row = -(-cw // 8) * hs          # x block rows (vs == hs)
        interval = per_row * rows
        strip_units = [len(C._scan_units(comps, scan, w, min(strip, h - y)))
                       for y in range(0, h, strip)]
        assert strip_units[:-1] == [interval] * (len(encs) - 1)
        assert sum(strip_units) == len(C._scan_units(comps, scan, w, h))
        out += b"\xff\xdd\x00\x04" + interval.to_bytes(2, "big") + sos
        for k, enc in enumerate(encs):
            if k:
                out += bytes([0xFF, 0xD0 + (k - 1) % 8])
            out += _jpeg_scans_of(enc)[1][j][1]
    out += b"\xff\xd9"
    want = np.concatenate([C.decode_jpeg(e) for e in encs], axis=0)
    assert np.array_equal(C.decode_jpeg(bytes(out)), want)


@pytest.mark.parametrize("form", ["grey", "grey-prog", "420", "420-prog"])
def test_jpeg_seeded_mutants_end_as_array_or_typed_error(form):
    """The per-format mutation probe for JPEG: seeded byte edits in the
    headers and in the entropy-coded data, and truncations. Every
    mutant must end, within a small time bound, as a uint8 array, a
    ValueError or a NotImplementedError."""
    import time
    colour, _, prog = form.partition("-")
    img = TEXT[40:104, 30:110] if colour == "grey" else TEXT_RGB[40:88, 30:94]
    blob = C.encode_jpeg(img, subsampling=colour.replace("grey", "444"),
                         progressive=bool(prog))
    sos = blob.index(b"\xff\xda")
    rng = np.random.default_rng(2026)
    seen = {}
    for i in range(250):
        b = bytearray(blob)
        if i % 10 == 0:
            b = b[:int(rng.integers(2, len(b)))]
        else:
            lo, hi = (2, sos + 14) if i % 2 else (sos, len(b))
            for _ in range(int(rng.integers(1, 4))):
                p = int(rng.integers(lo, hi))
                b[p] = (b[p] ^ (1 << int(rng.integers(0, 8)))
                        if rng.integers(0, 2) else int(rng.integers(0, 256)))
        t = time.perf_counter()
        try:
            out = C.decode_jpeg(bytes(b))
            assert out.dtype == np.uint8
            kind = "array"
        except (ValueError, NotImplementedError) as e:
            kind = type(e).__name__
        assert time.perf_counter() - t < 2.0, (i, kind)
        seen[kind] = seen.get(kind, 0) + 1
    assert seen.get("array") and seen.get("ValueError"), seen


@contextlib.contextmanager
def _within(seconds: float):
    """Fail with TimeoutError, instead of hanging, if the block runs
    longer than `seconds`."""
    def expire(*_):
        raise TimeoutError(f"still running after {seconds} s")
    old = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


@pytest.mark.parametrize("box", [
    b"\x00\x00\x00\x01bad!" + bytes(8),        # XLBox = 0
    b"\x00\x00\x00\x01bad!" + bytes([0] * 7 + [15]),
    b"\x00\x00\x00\x04bad!",                     # LBox < 8
], ids=["xlbox-0", "xlbox-15", "lbox-4"])
def test_jp2_box_shorter_than_its_header_rejected(box):
    """A box whose length does not cover its own header would leave the
    box walk where it is (XLBox = 0) or step back into it: a
    ValueError naming the box, not a hang."""
    blob = C.encode_jp2(TEXT[:16, :16])
    with _within(3), pytest.raises(ValueError, match="JP2 box at offset 12"):
        C.decode_jp2(blob[:12] + box + blob[12:])
    if box[3] == 1:                             # cut inside the XLBox
        with _within(3), pytest.raises(ValueError, match="extended length"):
            C.decode_jp2(blob[:12] + box[:12])


def _tiff_next_ifd_at(blob: bytes, ifd: int) -> int:
    """Offset of the next-IFD pointer of the little-endian IFD at `ifd`."""
    return ifd + 2 + 12 * int.from_bytes(blob[ifd:ifd + 2], "little")


def test_tiff_ifd_chain_loop_rejected():
    """An IFD chain pointing back into itself is a ValueError naming the
    repeated offset, not an endless walk appending pages."""
    one = bytearray(C.encode_tiff(NOISE[:9, :7]))
    first = int.from_bytes(one[4:8], "little")
    at = _tiff_next_ifd_at(one, first)
    one[at:at + 4] = first.to_bytes(4, "little")          # self-loop
    with _within(3), pytest.raises(
            ValueError, match=f"TIFF IFD chain loops back to offset {first}"):
        C.decode_tiff_pages(bytes(one))
    two = bytearray(C.encode_tiff_multipage([NOISE[:9, :7], NOISE[:5, :6]]))
    assert len(C.decode_tiff_pages(bytes(two))) == 2
    first = int.from_bytes(two[4:8], "little")
    second = int.from_bytes(two[_tiff_next_ifd_at(two, first):][:4], "little")
    at = _tiff_next_ifd_at(two, second)
    two[at:at + 4] = first.to_bytes(4, "little")          # 1 -> 2 -> 1
    with _within(3), pytest.raises(
            ValueError, match=f"TIFF IFD chain loops back to offset {first}"):
        C.decode_tiff_pages(bytes(two))


@pytest.mark.parametrize("progressive", [False, True],
                         ids=["sequential", "progressive"])
def test_jpeg_dc_category_above_11_rejected(progressive):
    """A DC Huffman symbol is a difference category, at most 11 for
    8-bit samples (T.81 F.1.2.1); a larger one is refused when its DHT
    is read, not when a scan uses it as a shift count."""
    blob = C.encode_jpeg(NOISE[:16, :16], progressive=progressive)
    # DHT payload: Tc << 4 | Th, 16 code counts, then the symbols
    for category in (12, 17, 255):
        bad = _patched(blob, b"\xff\xc4", 4 + 17, category)
        with pytest.raises(ValueError,
                           match=f"DHT DC table 0 has category {category}"):
            C.decode_jpeg(bad)


@pytest.mark.parametrize("form", ["grey", "rgb"])
def test_jp2_bad_main_header_and_packets_raise_value_error(form):
    """Marker segments shorter than their fields, a length below 2, a
    QCD without one exponent per subband, a packet header running past
    the tile data and a code-block coding more bit-planes than its band
    holds are ValueErrors naming what was wrong, not struct.error,
    IndexError or a silent decode."""
    blob = C.encode_jp2(TEXT[:40, :36] if form == "grey"
                        else TEXT_RGB[:40, :36])
    ncomp = 1 if form == "grey" else 3

    def with_length(marker: bytes, length: int) -> bytes:
        at = _segment(blob, marker)
        return blob[:at] + length.to_bytes(2, "big") + blob[at + 2:]

    for marker, name, short in ((b"\xff\x51", "SIZ", 38 + 3 * ncomp - 1),
                                (b"\xff\x51", "SIZ", 37),
                                (b"\xff\x52", "COD", 11),
                                (b"\xff\x5c", "QCD", 2),
                                (b"\xff\x90", "SOT", 9)):
        with pytest.raises(ValueError,
                           match=f"truncated JPEG 2000 {name} segment"):
            C.decode_jp2(with_length(marker, short))
    with pytest.raises(ValueError, match="has length 1, below 2"):
        C.decode_jp2(with_length(b"\xff\x52", 1))
    cod = _segment(blob, b"\xff\x52")
    assert blob[cod + 7] == 3                   # SPcod: levels
    for nl, count in ((2, "10 exponents; 2"), (4, "10 exponents; 4")):
        b = bytearray(blob)
        b[cod + 7] = nl
        with pytest.raises(ValueError, match=f"QCD has {count}"):
            C.decode_jp2(bytes(b))
    sot = _segment(blob, b"\xff\x90")
    b = bytearray(blob)
    b[sot + 4:sot + 8] = (14 + 1).to_bytes(4, "big")    # Psot: 1-byte body
    with pytest.raises(ValueError, match="packet header runs past"):
        C.decode_jp2(bytes(b))
    qcd = _segment(blob, b"\xff\x5c")
    b = bytearray(blob)
    b[qcd + 3] -= 1 << 3                        # LL exponent one too small
    with pytest.raises(ValueError, match="bit-planes; its LL band holds"):
        C.decode_jp2(bytes(b))


def _bit_log():
    """A `bits` source for the tier-2 coder that records what it writes."""
    log = []

    def bits(v: int, n: int) -> int:
        log.append(format(v, f"0{n}b"))
        return v
    return log, bits


def test_jp2_pass_count_code_and_lblock_steps():
    """The one pass-count code writes T.800 Table B.4's codewords, and a
    packet header reads back what it wrote at every pass count the
    table distinguishes (37-164 comes from no 8-bit encode) and at
    lengths either side of each Lblock step."""
    table = {1: "0", 2: "10", 3: "1100", 5: "1110", 6: "111100000",
             36: "111111110", 37: "1111111110000000",
             164: "1111111111111111"}
    for n, code in table.items():
        log, bits = _bit_log()
        assert J._code_npasses(n, bits) == n
        assert "".join(log) == code
    for n in table:
        lbits = 3 + n.bit_length() - 1          # Lblock + floor(log2 n)
        for k in range(lbits, lbits + 4):
            for length in (0, (1 << k) - 1, 1 << k):
                log, bits = _bit_log()
                assert J._code_length(length, n, bits) == length
                wide = max(lbits, length.bit_length())
                assert "".join(log) == ("1" * (wide - lbits) + "0"
                                        + format(length, f"0{wide}b"))
        # several blocks over two subbands, one left out, through the
        # stuffed byte stream and back
        want = [[[n, 2, (1 << lbits) - 1], [0, 0, 0]],
                [[n, 0, 1 << lbits], [1, 5, 3], [n, 1, 1 << (lbits + 2)]]]
        grids = [(2, 1), (1, 3)]
        writer = J._PktBitWriter()
        J._code_packet(writer.bits, grids, [[b[:] for b in band]
                                            for band in want])
        head = writer.flush()
        reader = J._PktBitReader(head + b"tail", 0)
        got = [[[0, 0, 0] for _ in band] for band in want]
        J._code_packet(reader.bits, grids, got)
        assert got == want
        assert reader.align() == len(head)


@pytest.mark.parametrize("form", ["grey", "rgb"])
def test_jp2_seeded_mutants_end_as_array_or_typed_error(form):
    """The per-format mutation probe for JPEG 2000: seeded byte edits in
    the boxes and main header, in the packet headers and in the tile
    data, and truncations. Every mutant must end, within a small time
    bound, as a uint8 array, a ValueError or a NotImplementedError."""
    img = TEXT[40:72, 30:78] if form == "grey" else TEXT_RGB[40:64, 30:62]
    blob = C.encode_jp2(img)
    sod = blob.index(b"\xff\x93") + 2
    regions = [(0, sod), (sod, sod + 12), (sod, len(blob))]
    rng = np.random.default_rng(2026)
    seen = {}
    for i in range(200):
        b = bytearray(blob)
        if i % 10 == 0:
            b = b[:int(rng.integers(2, len(b)))]
        else:
            lo, hi = regions[i % 3]
            for _ in range(int(rng.integers(1, 4))):
                p = int(rng.integers(lo, hi))
                b[p] = (b[p] ^ (1 << int(rng.integers(0, 8)))
                        if rng.integers(0, 2) else int(rng.integers(0, 256)))
        try:
            with _within(2):
                out = C.decode_jp2(bytes(b))
            assert out.dtype == np.uint8
            kind = "array"
        except (ValueError, NotImplementedError) as e:
            kind = type(e).__name__
        seen[kind] = seen.get(kind, 0) + 1
    assert seen.get("array") and seen.get("ValueError"), seen


def _flate_forms():
    """(encoded page, decoder, [header region, compressed-data region])
    for each Flate path: TIFF deflate strips, PNG IDAT, PDF FlateDecode."""
    page = TEXT[40:100, 30:70]
    tif = C.encode_tiff(page, compression="deflate")
    ifd_end = 8 + 2 + 9 * 12 + 4
    yield "tiff-deflate", tif, C.decode_tiff, [(0, ifd_end),
                                                (ifd_end, len(tif))]
    for name, img in (("png-grey", page), ("png-rgb", TEXT_RGB[40:80, 30:70])):
        png = C.encode_png(img)
        idat = png.index(b"IDAT") + 4
        yield name, png, C.decode_png, [(8, idat + 2), (idat, len(png))]
    pdf = encode_pdf(page)
    stream = pdf.index(b"stream") + 7
    yield "pdf-flate", pdf, decode_pdf, [
        (pdf.index(b"/Subtype /Image"), stream + 2), (stream, stream + 800)]


@pytest.mark.parametrize("form", ["tiff-deflate", "png-grey", "png-rgb",
                                  "pdf-flate"])
def test_flate_seeded_mutants_end_as_array_or_typed_error(form):
    """The mutation probe for the Flate paths: seeded byte edits in the
    headers and in the deflate data, and truncations. Every mutant must
    end, within a small time bound, as a uint8 array, a ValueError or a
    NotImplementedError — a corrupt or cut deflate stream included."""
    blob, decode, regions = next((b, d, r) for name, b, d, r
                                 in _flate_forms() if name == form)
    rng = np.random.default_rng(2026)
    seen = {}
    for i in range(200):
        b = bytearray(blob)
        if i % 10 == 0:
            b = b[:int(rng.integers(2, len(b)))]
        else:
            lo, hi = regions[i % 2]
            for _ in range(int(rng.integers(1, 4))):
                p = int(rng.integers(lo, hi))
                b[p] = (b[p] ^ (1 << int(rng.integers(0, 8)))
                        if rng.integers(0, 2) else int(rng.integers(0, 256)))
        try:
            with _within(2):
                out = decode(bytes(b))
            assert out.dtype == np.uint8
            kind = "array"
        except (ValueError, NotImplementedError) as e:
            kind = type(e).__name__
        seen[kind] = seen.get(kind, 0) + 1
    assert seen.get("array") and seen.get("ValueError"), seen


@pytest.mark.parametrize("planes", [31, 32, 33])
def test_jp2_t1_decode_caps_bit_planes_at_int32(planes):
    """t1_decode packs magnitudes into int32: a 31-bit-plane code-block
    round-trips, and a block of 32 or 33 bit-planes is a ValueError
    naming the plane count, not a silently wrapped magnitude."""
    rng = np.random.default_rng(planes)
    blk = rng.integers(-(1 << 20), 1 << 20, size=(4, 5), dtype=np.int64)
    blk[1, 2] = (1 << planes) - 1
    blk[3, 0] = -((1 << (planes - 1)) + 7)
    cw, n_passes, nbps = J.t1_encode(blk, "LL")
    assert nbps == planes
    if planes == 31:
        out = J.t1_decode(cw, 5, 4, "LL", n_passes)
        assert out.dtype == np.int32
        assert np.array_equal(out.astype(np.int64), blk)
    else:
        with pytest.raises(ValueError, match=f"codes {planes} bit-planes"):
            J.t1_decode(cw, 5, 4, "LL", n_passes)
