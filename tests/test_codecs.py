"""Pure-numpy image codecs (codecs_img.py): round-trips, malformed
payloads, endianness, and the end-to-end codec path through the OCR
pipeline (encoded payloads must produce the exact span sequences the raw
payloads do)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from org_dharts_dia_tesseract_spark import codecs_img as C
from org_dharts_dia_tesseract_spark.codecs_wav import decode_wav, encode_wav
from org_dharts_dia_tesseract_spark.operators import extract_spans
from org_dharts_dia_tesseract_spark.operators import multimodal as M
from org_dharts_dia_tesseract_spark.oracle.page import decode_payload
from org_dharts_dia_tesseract_spark.sources import corpus_tables

GREY = np.random.default_rng(3).integers(0, 256, (21, 34), dtype=np.uint8)
RGB = np.random.default_rng(4).integers(0, 256, (15, 9, 3), dtype=np.uint8)


@pytest.mark.parametrize("img", [GREY, RGB], ids=["grey", "rgb"])
@pytest.mark.parametrize("codec", ["bmp", "pnm", "tiff", "jp2"])
def test_roundtrip(img, codec):
    enc = C.ENCODERS[codec](img)
    assert C.sniff_codec(enc) == codec
    dec = C.DECODERS[codec](enc)
    assert dec.shape == img.shape and (dec == img).all()


@pytest.mark.parametrize("img", [GREY, RGB], ids=["grey", "rgb"])
def test_tiff_packbits_roundtrip(img):
    enc = C.encode_tiff(img, compression="packbits")
    assert (C.decode_tiff(enc) == img).all()


@pytest.mark.parametrize("img", [GREY, RGB], ids=["grey", "rgb"])
@pytest.mark.parametrize("predictor", [False, True], ids=["flat", "pred2"])
def test_tiff_lzw_roundtrip(img, predictor):
    enc = C.encode_tiff(img, compression="lzw", predictor=predictor)
    dec = C.decode_tiff(enc)
    assert dec.shape == img.shape and (dec == img).all()


@pytest.mark.parametrize("variant,min_code_size",
                         [("tiff", 8), ("gif", 8), ("gif", 2)])
def test_tiff_lzw_width_growth_and_dict_reset(variant, min_code_size):
    """200k random symbols force the width ladder up to 12 bits and
    multiple dictionary resets (the early-change convention either side
    of the decoder's one-entry lag is where implementations diverge)."""
    raw = (np.random.default_rng(17).integers(0, 256, 200_000, dtype=np.uint8)
           & ((1 << min_code_size) - 1)).tobytes()
    enc = C._lzw_encode(raw, min_code_size, variant)
    assert C._lzw_decode(enc, min_code_size, len(raw), variant) == raw


def test_tiff_missing_required_tag_is_value_error():
    """An IFD without ImageWidth (tag 256 renumbered to an unknown id) is
    a ValueError naming the tag, not a KeyError."""
    blob = bytearray(C.encode_tiff(GREY, compression="lzw"))
    ifd = struct.unpack_from("<I", blob, 4)[0]
    assert struct.unpack_from("<H", blob, ifd + 2)[0] == 256
    struct.pack_into("<H", blob, ifd + 2, 65000)
    with pytest.raises(ValueError, match="TIFF IFD has no width tag"):
        C.decode_tiff(bytes(blob))


def test_tiff_predictor_shrinks_gradients():
    """Horizontal differencing turns smooth ramps into runs — the reason
    scanned-page TIFFs pair predictor 2 with LZW."""
    grad = np.tile(np.arange(300, dtype=np.uint64) % 256,
                   (50, 1)).astype(np.uint8)
    plain = C.encode_tiff(grad, compression="lzw")
    pred = C.encode_tiff(grad, compression="lzw", predictor=True)
    assert len(pred) < len(plain) // 2
    assert (C.decode_tiff(pred) == grad).all()
    with pytest.raises(ValueError, match="predictor requires"):
        C.encode_tiff(grad, compression="none", predictor=True)


def test_packbits_compresses_runs():
    flat = np.full((4, 64), 128, dtype=np.uint8)
    assert (len(C.encode_tiff(flat, compression="packbits"))
            < len(C.encode_tiff(flat)))
    row = np.array([1, 2, 3, 7, 7, 7, 7, 9], dtype=np.uint8)
    assert C.packbits_decode(C.packbits_encode(row), 8) == row.tobytes()


def test_tiff_big_endian_decode():
    """MM (big-endian) header variant of a minimal single-strip file."""
    img = GREY[:4, :5]
    h, w = img.shape
    ifd_off = 8
    n_entries = 6
    data_off = ifd_off + 2 + n_entries * 12 + 4

    def entry(tag, typ, count, value):
        if typ == 3:
            return struct.pack(">HHIHH", tag, typ, count, value, 0)
        return struct.pack(">HHII", tag, typ, count, value)

    out = struct.pack(">2sHI", b"MM", 42, ifd_off)
    out += struct.pack(">H", n_entries)
    out += entry(256, 4, 1, w) + entry(257, 4, 1, h)
    out += entry(259, 3, 1, 1) + entry(262, 3, 1, 1)
    out += entry(273, 4, 1, data_off) + entry(279, 4, 1, h * w)
    out += struct.pack(">I", 0)
    out += img.tobytes()
    assert (C.decode_tiff(out) == img).all()


def test_pnm_ascii_variants():
    asc = b"P2\n# cmt\n3 2\n255\n0 10 20\n30 40 50\n"
    d = C.decode_pnm(asc)
    assert d.shape == (2, 3) and d[1, 2] == 50
    asc3 = b"P3 2 1 255 " + b" ".join(str(v).encode() for v in range(6))
    assert C.decode_pnm(asc3).shape == (1, 2, 3)


def test_malformed_payloads():
    with pytest.raises(ValueError):
        C.decode_bmp(b"XX123")
    with pytest.raises(NotImplementedError):
        # RLE8-compressed BMP
        bad = bytearray(C.encode_bmp(GREY))
        struct.pack_into("<I", bad, 30, 1)
        C.decode_bmp(bytes(bad))
    with pytest.raises(NotImplementedError):
        # old-style JPEG-in-TIFF (compression 6) stays unsupported
        # (LZW, then CCITT G3/G4, graduated to real decoders)
        bad = bytearray(C.encode_tiff(GREY))
        # compression entry is the 4th (0-based 3): value at +8 into entry
        off = 8 + 2 + 3 * 12 + 8
        struct.pack_into("<H", bad, off, 6)
        C.decode_tiff(bytes(bad))
    with pytest.raises(ValueError, match="1-bit"):
        # CCITT compression declared on an 8-bit file is malformed
        bad = bytearray(C.encode_tiff(GREY))
        struct.pack_into("<H", bad, 8 + 2 + 3 * 12 + 8, 3)
        C.decode_tiff(bytes(bad))
    with pytest.raises(ValueError, match="LZW"):
        # valid LZW tag but garbage stream: typed error, not IndexError
        bad = bytearray(C.encode_tiff(GREY))
        struct.pack_into("<H", bad, 8 + 2 + 3 * 12 + 8, 5)
        C.decode_tiff(bytes(bad))
    png = C.encode_png(GREY)
    for cut in (4, 8, 16, 20, 25, 33, 60, len(png) - 20):
        # cut inside the signature, IHDR or IDAT: not a struct.error
        with pytest.raises(ValueError, match="PNG"):
            C.decode_png(png[:cut])
    bmp = C.encode_bmp(np.zeros((60, 40), np.uint8))
    for cut in range(60):
        # cut inside the file or info header: not a struct.error
        with pytest.raises(ValueError, match="BMP"):
            C.decode_bmp(bmp[:cut])
    wav = encode_wav(np.zeros(101, np.int16), 8000)
    for cut in range(len(wav)):
        # cut inside a header or chunk: not a struct.error
        with pytest.raises(ValueError, match="WAV"):
            decode_wav(wav[:cut])
    # a data chunk past the payload is refused, not read short
    with pytest.raises(ValueError, match="'data' chunk .* runs past"):
        decode_wav(wav[:-10])


def test_decode_payload_sniffing():
    """oracle decode_payload: raw by exact length, codec by magic, PDF
    rejected, garbage raises."""
    h, w = GREY.shape
    assert (decode_payload(GREY.tobytes(), w, h, 1) == GREY).all()
    for codec in ("bmp", "pnm", "tiff"):
        enc = C.ENCODERS[codec](GREY)
        assert (decode_payload(enc, w, h, 1) == GREY).all()
    with pytest.raises(ValueError, match="PDF"):
        decode_payload(b"%PDF-1.4 xxxx", w, h, 1)
    with pytest.raises(ValueError, match="no known codec"):
        decode_payload(b"\x01\x02\x03", w, h, 1)
    with pytest.raises(ValueError, match="metadata"):
        decode_payload(C.encode_bmp(GREY), w + 1, h, 1)


def test_multimodal_decode_codecs():
    """Multi-band and lossy round trips through the one payload decoder
    (decode_payload) that every multimodal operator uses."""
    for codec in ("bmp", "pnm", "tiff", "png"):
        enc = C.ENCODERS[codec](RGB)
        assert (decode_payload(enc, 9, 15, 3) == RGB).all()
    grey = RGB[:, :, 0]
    assert (decode_payload(C.ENCODERS["gif"](grey), 9, 15, 1)
            == grey).all()
    grey2 = RGB[:, :, 1]
    jb = C.ENCODERS["jpeg"](grey2)            # lossy: same shape, near-equal
    assert decode_payload(jb, 9, 15, 1).shape == grey2.shape
    assert (decode_payload(C.ENCODERS["jp2"](grey2), 9, 15, 1)
            == grey2).all()                   # JP2 is lossless
    with pytest.raises(ValueError, match="no known codec"):
        decode_payload(b"RIFF\x00\x00\x00\x00WEBP", 1, 1, 1)  # unknown


@pytest.mark.parametrize("codec", ["bmp", "tiff", "png", "gif", "jp2",
                                   "pdf"])
def test_pipeline_over_encoded_media(spark, codec):
    """The invariant survives the codec path: spans from codec-encoded
    payloads == spans from raw payloads, byte for byte."""
    docs, media = corpus_tables(spark, 12)
    raw = extract_spans(docs, media).orderBy("doc_id", "seq").collect()
    enc = extract_spans(docs, M.reencode_media(media, codec)) \
        .orderBy("doc_id", "seq").collect()
    assert [tuple(r) for r in raw] == [tuple(r) for r in enc]
    assert len(raw) > 0


def test_codec_roundtrip_property():
    """Property: any uint8 image (odd widths exercise BMP row padding,
    1xN and Nx1 shapes, grey + RGB) survives every codec round-trip."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40),
           st.sampled_from([1, 3]), st.integers(0, 2**32 - 1))
    def check(w, h, bands, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if bands == 1 else (h, w, bands)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for codec in ("bmp", "pnm", "tiff"):
            assert (C.DECODERS[codec](C.ENCODERS[codec](img)) == img).all()
        assert (C.decode_tiff(C.encode_tiff(img, compression="packbits"))
                == img).all()

    check()


def test_jp2_codec():
    """JPEG 2000 (codecs_jp2): MQ coder / tag-tree / DWT internals plus
    whole-file round-trips across the subset's edge shapes."""
    from org_dharts_dia_tesseract_spark import codecs_jp2 as J

    # MQ coder round-trip over biased and unbiased context streams
    import random
    rng = random.Random(11)
    for p in (0.03, 0.5, 0.97):
        bits = [1 if rng.random() < p else 0 for _ in range(600)]
        ctxs = [rng.randint(0, 18) for _ in bits]
        enc = J._MQEncoder()
        for b, c in zip(bits, ctxs):
            enc.encode(b, c)
        dec = J._MQDecoder(enc.flush())
        assert [dec.decode(c) for c in ctxs] == bits

    # 5/3 lifting is exactly invertible at every length
    for n in range(1, 20):
        x = np.random.default_rng(n).integers(-500, 500, (n, 2)).astype(np.int32)
        lo, hi = J._fwd53_axis0(x)
        assert (J._inv53_axis0(lo, hi, n) == x).all()

    # whole files: flat (run-length mode everywhere), text-like sparse
    # ink, dense noise, 1-pixel, odd dims, multi-codeblock (>64px), RGB
    rng2 = np.random.default_rng(12)
    text = np.full((90, 140), 235, dtype=np.uint8)
    text[12:24, 8:120] = 20
    text[40:42, 4:136] = 15
    for img in (np.full((16, 16), 128, dtype=np.uint8),
                text,
                rng2.integers(0, 256, (33, 47)).astype(np.uint8),
                np.array([[9]], dtype=np.uint8),
                rng2.integers(0, 256, (65, 9)).astype(np.uint8),
                rng2.integers(0, 256, (130, 70)).astype(np.uint8),
                rng2.integers(0, 256, (24, 18, 3)).astype(np.uint8)):
        blob = C.encode_jp2(img)
        assert C.sniff_codec(blob[:8]) == "jp2"
        out = C.decode_jp2(blob)
        assert out.shape == img.shape and (out == img).all()

    # raw codestream (no JP2 container) decodes too
    cs = J._find_codestream(C.encode_jp2(text))
    assert C.sniff_codec(cs[:8]) == "jp2"
    assert (C.decode_jp2(cs) == text).all()

    # malformed / out-of-subset inputs raise
    with pytest.raises(ValueError):
        C.decode_jp2(b"\x00\x00\x00\x0cjP  \r\n\x87\ngarbage")
    with pytest.raises(ValueError):
        J.encode_jp2(np.zeros((4, 4), dtype=np.uint16))


def test_jp2_roundtrip_property():
    """Property: arbitrary uint8 images survive the JP2 round-trip
    losslessly (random fill exercises every coding pass; sparse fill
    exercises the cleanup run-length mode)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(st.integers(1, 80), st.integers(1, 80),
           st.sampled_from(["noise", "sparse"]),
           st.integers(0, 2**32 - 1))
    def check(w, h, kind, seed):
        rng = np.random.default_rng(seed)
        if kind == "noise":
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        else:
            img = np.full((h, w), 240, dtype=np.uint8)
            for _ in range(int(rng.integers(0, 8))):
                y, x = int(rng.integers(0, h)), int(rng.integers(0, w))
                img[y:y + 6, x:x + 6] = int(rng.integers(0, 50))
        assert (C.decode_jp2(C.encode_jp2(img)) == img).all()

    check()


def test_tiff_multipage_roundtrip():
    rng = np.random.default_rng(9)
    pages = [rng.integers(0, 256, (11 + i, 17 - i), dtype=np.uint8)
             for i in range(4)]
    for compression in ("none", "packbits"):
        blob = C.encode_tiff_multipage(pages, compression=compression)
        dec = C.decode_tiff_pages(blob)
        assert len(dec) == 4
        assert all((a == b).all() for a, b in zip(pages, dec))
        assert (C.decode_tiff(blob) == pages[0]).all()   # first page


TIFF_COMPRESSIONS = ("none", "packbits", "lzw", "deflate",
                     "g3", "t4", "t4_2d", "g4")
FAX = ("g3", "t4", "t4_2d", "g4")

# sha256 prefix of every encode_tiff output (or refusal) over the grid
# below, per compression: the bytes perfbench's TIFF pools are built from
TIFF_GOLDEN = {
    "none": "59c1d72c5d71f931",
    "packbits": "067dd40285c99f59",
    "lzw": "51490383290f0b2b",
    "deflate": "b92a3e463c18fafe",
    "g3": "472d1ad3b5b42f01",
    "t4": "868cb07049c1da3e",
    "t4_2d": "484dde2e8cef5459",
    "g4": "0cb25a5b45f0846f",
}


@pytest.mark.parametrize("compression", TIFF_COMPRESSIONS)
def test_encode_tiff_bytes_pinned(compression):
    import hashlib
    import itertools
    h = hashlib.sha256()
    for img, bits, predictor, dpi in itertools.product(
            (GREY, RGB), (1, 4, 8, 16), (False, True), (None, 300)):
        try:
            h.update(C.encode_tiff(img, compression=compression,
                                   predictor=predictor, dpi=dpi, bits=bits))
        except ValueError as e:     # an option the compression refuses
            h.update(type(e).__name__.encode())
    assert h.hexdigest()[:16] == TIFF_GOLDEN[compression]


@pytest.mark.parametrize("compression", TIFF_COMPRESSIONS)
def test_tiff_one_page_multipage_is_the_single_page_file(compression):
    bits = 1 if compression in FAX else 8
    for img in (GREY, GREY[:1]) if bits == 1 else (GREY, RGB, GREY[:1]):
        assert (C.encode_tiff_multipage([img], compression=compression,
                                        bits=bits)
                == C.encode_tiff(img, compression=compression, bits=bits))


@pytest.mark.parametrize("compression", ["g4", "t4_2d"])
def test_tiff_multipage_fax_strip_offsets_inside_file(compression):
    """Single-strip fax pages after the first: every strip offset the
    IFDs give, inline or through the offsets array, lies in the file."""
    rng = np.random.default_rng(11)
    pages = [np.where(rng.random((9 + 3 * i, 20 + i)) < 0.3, 0, 255)
             .astype(np.uint8) for i in range(3)]
    blob = C.encode_tiff_multipage(pages, compression=compression, bits=1)
    endian, ifd = C._tiff_header(blob)
    n_ifds = 0
    while ifd:
        tags = C._tiff_tags(blob, endian, ifd)
        offsets = C._tiff_values(blob, endian, tags, "strip_offsets")
        counts = C._tiff_values(blob, endian, tags, "strip_counts")
        assert all(o + c <= len(blob) for o, c in zip(offsets, counts))
        n = struct.unpack_from("<H", blob, ifd)[0]
        ifd = struct.unpack_from("<I", blob, ifd + 2 + 12 * n)[0]
        n_ifds += 1
    assert n_ifds == len(pages)
    dec = C.decode_tiff_pages(blob)
    assert all(np.array_equal(a, b) for a, b in zip(pages, dec))
    assert len(dec) == len(pages)


def test_reencode_media_refuses_option_of_another_codec(spark):
    docs, media = corpus_tables(spark, 1)
    for codec, option in [("jpeg", {"compression": "lzw"}),
                          ("tiff", {"pdf_ccitt": True}),
                          ("png", {"jpeg_progressive": True}),
                          ("gif", {"dpi": 300})]:
        name = next(iter(option))
        with pytest.raises(ValueError, match=name):
            M.reencode_media(media, codec, **option)
    with pytest.raises(TypeError, match="packbits"):
        M.reencode_media(media, "tiff", packbits=True)

def test_merge_tiff_and_split_roundtrip(spark):
    """S3 byte-level merge -> S2 split closes the loop: a document's
    pages -> one multi-page TIFF -> the same page rasters."""
    from org_dharts_dia_tesseract_spark.operators.sinks import merge_tiff
    docs, media = corpus_tables(spark, 6)
    merged = merge_tiff(docs, media).orderBy("doc_id").collect()
    assert merged and all(r["n_pages"] >= 1 for r in merged)
    row = next(r for r in merged if r["n_pages"] > 1)
    pages = C.decode_tiff_pages(bytes(row["tiff"]))
    assert len(pages) == row["n_pages"]
    # split operator recovers one row per page from a multipage payload
    h, w = pages[0].shape[:2]
    b = 1 if pages[0].ndim == 2 else pages[0].shape[2]
    mp = spark.createDataFrame(
        [("mp-doc", w, h, b, bytes(row["tiff"]))],
        "media_ref string, width int, height int, bands int, payload binary")
    got = (M.split_tiff_pages(mp).orderBy("media_ref").collect())
    assert len(got) == row["n_pages"]
    assert got[0]["media_ref"] == "mp-doc#p0"
    first = np.frombuffer(got[0]["payload"], dtype=np.uint8)
    assert (first.reshape(pages[0].shape) == pages[0]).all()
    # non-tiff rows pass through untouched
    raw = spark.createDataFrame(
        [("r", 2, 2, 1, bytes([1, 2, 3, 4]))],
        "media_ref string, width int, height int, bands int, payload binary")
    out = M.split_tiff_pages(raw).collect()
    assert len(out) == 1 and bytes(out[0]["payload"]) == bytes([1, 2, 3, 4])


class TestEmbeddedDpi:
    """S5 metadata read-back: ImageIOHelper.readImageData:379-407 reads
    DPI from image metadata with a screen-resolution fallback."""

    def test_roundtrip_per_codec(self):
        for enc, dpi, want in (
                (lambda i: C.encode_tiff(i, dpi=192), 192, 192),
                (lambda i: C.encode_tiff(i, compression="lzw",
                                         predictor=True, dpi=240), 240, 240),
                (lambda i: C.encode_png(i, dpi=300), 300, 300),
                (lambda i: C.encode_jpeg(i, dpi=150), 150, 150),
                (lambda i: C.encode_bmp(i, dpi=192), 192, 192),
                # defaults: BMP conventionally declares 72; others none
                (C.encode_tiff, None, None),
                (C.encode_png, None, None),
                (C.encode_jpeg, None, None),
                (C.encode_bmp, None, 72),
        ):
            payload = enc(GREY)
            assert C.read_dpi(payload) == want
            # metadata never perturbs the raster
            img = C.DECODERS[C.sniff_codec(payload[:8])](payload)
            assert img.shape == GREY.shape

    def test_resolution_chain(self):
        from org_dharts_dia_tesseract_spark.oracle.page import resolve_ppi
        embedded = C.encode_tiff(GREY, dpi=192)
        raw = GREY.tobytes()
        assert resolve_ppi(embedded, 300) == 192     # metadata wins
        assert resolve_ppi(raw, 300) == 300          # table column next
        assert resolve_ppi(raw, None) == 96          # screen default
        assert resolve_ppi(raw, float("nan")) == 96  # NaN column = absent

    def test_pointsize_follows_embedded_dpi(self):
        """Same raster, higher declared resolution => smaller points
        (points = px * 72 / ppi, rounded)."""
        from org_dharts_dia_tesseract_spark.oracle.page import (analyze_page,
                                                                resolve_ppi)
        from org_dharts_dia_tesseract_spark.datagen import media_row_for
        m = media_row_for("med-00000000")
        img = decode_payload(m["payload"], m["width"], m["height"],
                             m["bands"])
        sizes = {}
        for dpi in (96, 192):
            blob = C.encode_tiff(img, dpi=dpi)
            res = analyze_page(img, ppi=resolve_ppi(blob, None))
            words = [r for r in res.rows()
                     if r["level"] == "WORD" and r["font_pointsize"]]
            assert words
            w0 = words[0]
            lh = [r for r in res.rows() if r["level"] == "TEXTLINE"
                  and (r["block_id"], r["para_id"], r["line_id"])
                  == (w0["block_id"], w0["para_id"], w0["line_id"])][0]
            expected = int(round((lh["bottom"] - lh["top"]) * 72 / dpi))
            assert w0["font_pointsize"] == expected
            sizes[dpi] = words[0]["font_pointsize"]
        assert sizes[96] > sizes[192]


class TestColorJpeg:
    """3-component YCbCr JPEG (ImageIOHelper's color decode surface)."""

    def test_roundtrip_near_equal(self):
        for ss in ("444", "420"):
            dec = C.decode_jpeg(C.encode_jpeg(RGB, subsampling=ss))
            assert dec.shape == RGB.shape and dec.dtype == np.uint8

    def test_text_page_color_roundtrip_binarizes_identically(self):
        from org_dharts_dia_tesseract_spark.datagen import (colorize_page,
                                                            media_row_for)
        from org_dharts_dia_tesseract_spark.oracle.binarize import \
            otsu_binarize
        m = media_row_for("med-00000042")
        img = decode_payload(m["payload"], m["width"], m["height"],
                             m["bands"])
        rgb = colorize_page(img)
        for ss in ("444", "420"):
            dec = C.decode_jpeg(C.encode_jpeg(rgb, subsampling=ss))
            assert dec.shape == rgb.shape
            assert (otsu_binarize(dec) == otsu_binarize(img)).all(), ss

    def test_odd_dims_and_mcu_padding(self):
        for shape in ((17, 23, 3), (8, 8, 3), (1, 33, 3), (31, 1, 3)):
            img = np.random.default_rng(sum(shape)).integers(
                0, 256, shape, dtype=np.uint8)
            for ss in ("444", "420"):
                dec = C.decode_jpeg(C.encode_jpeg(img, subsampling=ss))
                assert dec.shape == shape, (shape, ss)

    def test_bad_subsampling_rejected(self):
        with pytest.raises(ValueError, match="subsampling"):
            C.encode_jpeg(RGB, subsampling="422")
        with pytest.raises(ValueError, match="1 or 3 bands"):
            C.encode_jpeg(np.zeros((4, 4, 2), np.uint8))


def test_pipeline_over_color_jpeg_media(spark):
    """Spans from colorized 4:2:0 color-JPEG payloads == raw spans."""
    docs, media = corpus_tables(spark, 8)
    raw = extract_spans(docs, media).orderBy("doc_id", "seq").collect()
    color = M.reencode_media(M.colorize_media(media), "jpeg",
                             jpeg_subsampling="420")
    enc = extract_spans(docs, color).orderBy("doc_id", "seq").collect()
    assert [tuple(r) for r in raw] == [tuple(r) for r in enc]
    assert len(raw) > 0
