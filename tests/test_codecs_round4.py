"""Round-4 codec-surface tests: progressive JPEG (SOF2), SOF1, the
widened PNG surface (palette/alpha/16-bit/sub-byte/Adam7), bilevel and
wide TIFF, 16-bit PNM.

Reference surface: the wrapper delegates decode to javax.imageio
(ImageIOHelper.java:270-327), whose stock plugins read progressive
JPEG, interlaced/palette/16-bit PNG, and bilevel TIFF — formats a real
scanned-document / web corpus is full of."""
from __future__ import annotations

import numpy as np
import pytest

from org_dharts_dia_tesseract_spark.codecs_img import (
    decode_jpeg, encode_jpeg, decode_png, encode_png, decode_tiff,
    encode_tiff, decode_pnm, encode_pnm)


def _img(shape, seed=0):
    return (np.random.default_rng(seed).random(shape) * 255).astype(np.uint8)


def _flat_with_details(shape, seed=1):
    """Mostly-flat image: long zero runs in AC coefficients -> exercises
    EOBn accumulation across blocks."""
    img = np.full(shape, 200, dtype=np.uint8)
    rng = np.random.default_rng(seed)
    h, w = shape[:2]
    for _ in range(4):
        y, x = int(rng.integers(0, h)), int(rng.integers(0, w))
        img[y, x] = 20
    return img


# -- progressive JPEG --------------------------------------------------------

class TestProgressiveJpeg:
    @pytest.mark.parametrize("shape", [(8, 8), (24, 24), (37, 53), (5, 3)])
    def test_grey_progressive_equals_baseline(self, shape):
        """Baseline and progressive encode the SAME quantized
        coefficients, so the decodes must be pixel-identical."""
        img = _img(shape, seed=11)
        base = decode_jpeg(encode_jpeg(img, 90))
        prog = decode_jpeg(encode_jpeg(img, 90, progressive=True))
        assert np.array_equal(base, prog)

    @pytest.mark.parametrize("sub", ["444", "420"])
    @pytest.mark.parametrize("shape", [(32, 32, 3), (37, 53, 3), (9, 21, 3)])
    def test_color_progressive_equals_baseline(self, shape, sub):
        img = _img(shape, seed=12)
        base = decode_jpeg(encode_jpeg(img, 85, subsampling=sub))
        prog = decode_jpeg(encode_jpeg(img, 85, subsampling=sub,
                                       progressive=True))
        assert np.array_equal(base, prog)

    def test_eobrun_accumulation(self):
        """A large flat image produces EOB runs spanning many blocks
        (the EOBn > EOB0 decode path)."""
        img = _flat_with_details((128, 128), seed=3)
        base = decode_jpeg(encode_jpeg(img, 90))
        prog = decode_jpeg(encode_jpeg(img, 90, progressive=True))
        assert np.array_equal(base, prog)
        img3 = np.stack([img, 255 - img, img], axis=2)
        base = decode_jpeg(encode_jpeg(img3, 90, subsampling="420"))
        prog = decode_jpeg(encode_jpeg(img3, 90, subsampling="420",
                                       progressive=True))
        assert np.array_equal(base, prog)

    def test_progressive_is_sof2(self):
        blob = encode_jpeg(_img((16, 16)), 90, progressive=True)
        assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob
        assert blob.count(b"\xff\xda") == 4       # DC, AC, ACr, DCr scans

    def test_sof1_extended_sequential_decodes(self):
        """SOF1 (extended sequential, Huffman) uses the identical
        entropy layout at 8-bit precision — accept it."""
        img = _img((24, 24), seed=5)
        blob = bytearray(encode_jpeg(img, 90))
        sof = blob.find(b"\xff\xc0")
        blob[sof + 1] = 0xC1
        assert np.array_equal(decode_jpeg(bytes(blob)),
                              decode_jpeg(encode_jpeg(img, 90)))

    def test_lossless_sof_still_rejected(self):
        img = _img((16, 16))
        blob = bytearray(encode_jpeg(img, 90))
        sof = blob.find(b"\xff\xc0")
        blob[sof + 1] = 0xC3
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(blob))

    def test_page_analysis_identical_raw_vs_progressive(self):
        from org_dharts_dia_tesseract_spark.datagen import fixture_page
        from org_dharts_dia_tesseract_spark.oracle.page import analyze_page
        img = fixture_page("simple_poetry")
        a = analyze_page(decode_jpeg(encode_jpeg(img, 90)))
        b = analyze_page(decode_jpeg(encode_jpeg(img, 90,
                                                 progressive=True)))
        ra = [(r["level"], r["text"], r["left"], r["top"], r["right"],
               r["bottom"]) for r in a.rows()]
        rb = [(r["level"], r["text"], r["left"], r["top"], r["right"],
               r["bottom"]) for r in b.rows()]
        assert ra == rb


# -- PNG surface -------------------------------------------------------------

class TestPngSurface:
    @pytest.mark.parametrize("depth", [1, 2, 4, 8])
    def test_palette_roundtrip_color(self, depth):
        n = 1 << depth
        rng = np.random.default_rng(depth)
        pal = (rng.random((n, 3)) * 255).astype(np.uint8)
        idx = rng.integers(0, n, size=(13, 17))
        img = pal[idx]
        out = decode_png(encode_png(img, palette=True, depth=depth))
        assert out.shape == (13, 17, 3)
        assert np.array_equal(out, img)

    def test_palette_grey_collapses_to_1band(self):
        """A grey palette (R==G==B everywhere) IS a greyscale image —
        decode keeps the 1-band shape so the media bands contract
        (operators/multimodal.decode) holds for palette-encoded pages."""
        img = np.choose(np.arange(12).reshape(3, 4) % 3,
                        [0, 128, 255]).astype(np.uint8)
        out = decode_png(encode_png(img, palette=True, depth=2))
        assert out.shape == (3, 4)
        assert np.array_equal(out, img)

    def test_palette_too_many_colors_raises(self):
        img = np.arange(16, dtype=np.uint8).reshape(4, 4)
        with pytest.raises(ValueError, match="palette"):
            encode_png(img, palette=True, depth=2)

    def test_trns_palette_alpha_composites_white(self):
        import struct
        import zlib
        # hand-build: 2-entry palette, entry 0 fully transparent
        sig = b"\x89PNG\r\n\x1a\n"

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)
                                  & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
        plte = bytes([10, 20, 30, 200, 100, 50])
        raw = b"\x00" + bytes([0, 1])
        blob = (sig + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
                + chunk(b"tRNS", bytes([0]))           # entry 0: a=0
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        out = decode_png(blob)
        assert tuple(out[0, 0]) == (255, 255, 255)      # transparent->white
        assert tuple(out[0, 1]) == (200, 100, 50)

    def test_rgba_composites_over_white(self):
        img = np.full((4, 4, 3), 0, dtype=np.uint8)
        alpha = np.full((4, 4), 0, dtype=np.uint8)
        alpha[0, 0] = 255                               # one opaque pixel
        out = decode_png(encode_png(img, alpha=alpha))
        assert tuple(out[0, 0]) == (0, 0, 0)
        assert tuple(out[1, 1]) == (255, 255, 255)

    def test_grey_alpha_composites_over_white(self):
        img = np.full((3, 3), 40, dtype=np.uint8)
        alpha = np.full((3, 3), 128, dtype=np.uint8)
        out = decode_png(encode_png(img, alpha=alpha))
        assert out.shape == (3, 3)
        # 40*128/255 + 255*127/255 = 20.07... + 127 = 147 (round half up)
        assert int(out[0, 0]) == round((40 * 128 + 255 * 127) / 255)

    def test_16bit_exact_roundtrip(self):
        g = _img((9, 7), seed=21)
        c = _img((9, 7, 3), seed=22)
        assert np.array_equal(decode_png(encode_png(g, depth=16)), g)
        assert np.array_equal(decode_png(encode_png(c, depth=16)), c)

    @pytest.mark.parametrize("depth", [1, 2, 4])
    def test_subbyte_grey_roundtrip(self, depth):
        step = 255 // ((1 << depth) - 1)
        levels = np.arange(1 << depth) * step
        rng = np.random.default_rng(depth + 7)
        img = levels[rng.integers(0, 1 << depth, size=(11, 13))].astype(
            np.uint8)
        out = decode_png(encode_png(img, depth=depth))
        assert np.array_equal(out, img)

    @pytest.mark.parametrize("shape", [(1, 1), (2, 3), (9, 7), (16, 16),
                                       (23, 31)])
    def test_adam7_grey_roundtrip(self, shape):
        img = _img(shape, seed=31)
        assert np.array_equal(decode_png(encode_png(img, interlace=True)),
                              img)

    def test_adam7_color_palette_and_16bit(self):
        c = _img((13, 10, 3), seed=32)
        assert np.array_equal(
            decode_png(encode_png(c, interlace=True)), c)
        assert np.array_equal(
            decode_png(encode_png(c, interlace=True, depth=16)), c)
        pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0],
                        [0, 0, 255]], dtype=np.uint8)
        idx = np.random.default_rng(33).integers(0, 4, size=(13, 10))
        img = pal[idx]
        assert np.array_equal(
            decode_png(encode_png(img, interlace=True, palette=True,
                                  depth=2)), img)

    def test_dpi_still_readable_on_new_surface(self):
        from org_dharts_dia_tesseract_spark.codecs_img import read_dpi
        img = _img((6, 6), seed=41)
        assert read_dpi(encode_png(img, dpi=300, interlace=True)) == 300


# -- TIFF bits-per-sample ----------------------------------------------------

class TestTiffBits:
    @pytest.mark.parametrize("compression", ["none", "packbits", "deflate"])
    def test_bilevel_roundtrip(self, compression):
        rng = np.random.default_rng(51)
        img = (rng.random((15, 21)) > 0.5).astype(np.uint8) * 255
        out = decode_tiff(encode_tiff(img, compression=compression,
                                      bits=1))
        assert np.array_equal(out, img)

    def test_bilevel_thresholds_grey(self):
        img = np.array([[0, 100, 127, 128, 200, 255]], dtype=np.uint8)
        out = decode_tiff(encode_tiff(img, bits=1))
        assert list(out[0]) == [0, 0, 0, 255, 255, 255]

    def test_4bit_roundtrip(self):
        levels = np.arange(16) * 17
        rng = np.random.default_rng(52)
        img = levels[rng.integers(0, 16, size=(9, 11))].astype(np.uint8)
        assert np.array_equal(decode_tiff(encode_tiff(img, bits=4)), img)
        odd = levels[rng.integers(0, 16, size=(3, 5))].astype(np.uint8)
        assert np.array_equal(decode_tiff(encode_tiff(odd, bits=4)), odd)

    def test_16bit_roundtrip(self):
        img = _img((7, 9), seed=53)
        assert np.array_equal(decode_tiff(encode_tiff(img, bits=16)), img)

    def test_rejections(self):
        img3 = _img((4, 4, 3))
        with pytest.raises(ValueError, match="1-band"):
            encode_tiff(img3, bits=1)
        with pytest.raises(ValueError, match="predictor"):
            encode_tiff(_img((4, 4)), compression="lzw", predictor=True,
                        bits=1)


# -- CCITT G3/G4 -------------------------------------------------------------

class TestCcitt:
    @pytest.mark.parametrize("compression", ["g3", "g4"])
    @pytest.mark.parametrize("shape", [(1, 1), (3, 7), (15, 21), (64, 100),
                                       (5, 2700)])
    def test_random_bilevel_roundtrip(self, shape, compression):
        """Random noise is the fax-codec worst case: every mode fires
        (G4 horizontal dominates), runs are short, wide rows chain
        makeup codes."""
        rng = np.random.default_rng(sum(shape))
        img = (rng.random(shape) > 0.5).astype(np.uint8) * 255
        out = decode_tiff(encode_tiff(img, compression=compression,
                                      bits=1))
        assert np.array_equal(out, img)

    @pytest.mark.parametrize("compression", ["g3", "g4"])
    def test_page_fixture_roundtrip(self, compression):
        from org_dharts_dia_tesseract_spark.datagen import fixture_page
        pg = (fixture_page("simple_poetry") >= 128).astype(np.uint8) * 255
        out = decode_tiff(encode_tiff(pg, compression=compression,
                                      bits=1))
        assert np.array_equal(out, pg)

    @pytest.mark.parametrize("compression", ["g3", "g4"])
    @pytest.mark.parametrize("value", [0, 255])
    def test_constant_pages(self, compression, value):
        img = np.full((9, 13), value, dtype=np.uint8)
        out = decode_tiff(encode_tiff(img, compression=compression,
                                      bits=1))
        assert np.array_equal(out, img)

    def test_vertical_pass_modes_fire(self):
        """Slightly shifting edges line-over-line exercises every G4
        vertical offset and the pass mode."""
        img = np.full((40, 60), 255, dtype=np.uint8)
        for y in range(40):
            x0 = 10 + (y * 3) % 7       # drifts -3..+3 per line
            img[y, x0:x0 + 20] = 0
            if y % 5 == 0:
                img[y, 40:45] = 0       # extra run that comes and goes
        out = decode_tiff(encode_tiff(img, compression="g4", bits=1))
        assert np.array_equal(out, img)

    def test_g4_beats_packbits_on_text(self):
        """The reason G4 exists: scanned text compresses far better
        under 2-D coding than byte-run coding."""
        from org_dharts_dia_tesseract_spark.datagen import fixture_page
        pg = (fixture_page("simple_poetry") >= 128).astype(np.uint8) * 255
        g4 = len(encode_tiff(pg, compression="g4", bits=1))
        pb = len(encode_tiff(pg, compression="packbits", bits=1))
        assert g4 < pb * 0.75

    def test_tables_prefix_free(self):
        """Internal consistency bar (no external CCITT stream exists in
        this sandbox): the run tables must be prefix-free, else decode
        would mis-parse self-produced streams."""
        from org_dharts_dia_tesseract_spark.codecs_img import (
            _CCITT_BLACK_ALL, _CCITT_WHITE_ALL)
        for table in (_CCITT_WHITE_ALL, _CCITT_BLACK_ALL):
            codes = [format(code, f"0{bits}b")
                     for bits, code in table.values()]
            assert len(set(codes)) == len(codes)
            for a in codes:
                for b in codes:
                    assert a == b or not b.startswith(a)

    def test_rejections(self):
        with pytest.raises(ValueError, match="bits=1"):
            encode_tiff(_img((4, 4)), compression="g4")
        with pytest.raises(ValueError, match="bits=1"):
            encode_tiff(_img((4, 4)), compression="g3", bits=4)

    @pytest.mark.parametrize("shape", [(1, 1), (7, 13), (40, 100)])
    def test_t4_eol_variant_roundtrip(self, shape):
        """TIFF compression 3: EOL-prefixed T.4 1-D lines in one
        stateless-per-line strip (classic G3 wire form)."""
        rng = np.random.default_rng(sum(shape) + 1)
        img = (rng.random(shape) > 0.4).astype(np.uint8) * 255
        out = decode_tiff(encode_tiff(img, compression="t4", bits=1))
        assert np.array_equal(out, img)

    @pytest.mark.parametrize("shape", [(1, 1), (9, 17), (40, 100)])
    def test_t4_2d_roundtrip(self, shape):
        """TIFF compression 3 with T4Options bit 0: EOL + tag bit per
        line, 1-D K-group leaders, 2-D lines via the T.6 modes."""
        rng = np.random.default_rng(sum(shape) + 3)
        img = (rng.random(shape) > 0.45).astype(np.uint8) * 255
        out = decode_tiff(encode_tiff(img, compression="t4_2d", bits=1))
        assert np.array_equal(out, img)

    def test_t4_2d_page_fixture(self):
        from org_dharts_dia_tesseract_spark.datagen import fixture_page
        pg = (fixture_page("simple_poetry") >= 128).astype(np.uint8) * 255
        out = decode_tiff(encode_tiff(pg, compression="t4_2d", bits=1))
        assert np.array_equal(out, pg)

    def test_pdf_k_positive_with_eol(self):
        """PDF CCITTFaxDecode K>0 with EndOfLine true decodes via the
        T.4 2-D line framing."""
        import re
        from org_dharts_dia_tesseract_spark.codecs_img import (
            _ccitt_encode)
        from org_dharts_dia_tesseract_spark.codecs_pdf import (decode_pdf,
                                                               encode_pdf)
        rng = np.random.default_rng(85)
        img = (rng.random((13, 29)) > 0.5).astype(np.uint8) * 255
        blob = encode_pdf(img, ccitt=True)
        t4 = _ccitt_encode(img < 128, 4, eol=True)
        m = re.search(rb"/DecodeParms << /K -1 /Columns (\d+) /Rows "
                      rb"(\d+) >> /Length (\d+) >>\nstream\n", blob)
        start, end = m.span()
        blob2 = (blob[:start]
                 + b"/DecodeParms << /K 4 /Columns %d /Rows %d "
                   b"/EndOfLine true >> /Length %d >>\nstream\n"
                 % (img.shape[1], img.shape[0], len(t4))
                 + t4 + blob[end + int(m.group(3)):])
        assert np.array_equal(decode_pdf(blob2), img)
        # K>0 without EndOfLine has no line framing -> refused
        blob3 = blob2.replace(b" /EndOfLine true", b"")
        with pytest.raises(NotImplementedError, match="EndOfLine"):
            decode_pdf(blob3)

    def test_pdf_k0_bare_stream(self):
        """PDF CCITTFaxDecode K=0 defaults: no EOLs, no byte alignment
        — a bare T.4 1-D run stream."""
        import re
        from org_dharts_dia_tesseract_spark.codecs_img import _ccitt_encode
        from org_dharts_dia_tesseract_spark.codecs_pdf import (decode_pdf,
                                                               encode_pdf)
        rng = np.random.default_rng(83)
        img = (rng.random((23, 31)) > 0.5).astype(np.uint8) * 255
        blob = encode_pdf(img, ccitt=True)
        g3 = _ccitt_encode(img < 128, 0)
        m = re.search(rb"/DecodeParms << /K -1 /Columns (\d+) /Rows "
                      rb"(\d+) >> /Length (\d+) >>\nstream\n", blob)
        start, end = m.span()
        blob2 = (blob[:start]
                 + b"/DecodeParms << /K 0 /Columns %d /Rows %d >> "
                   b"/Length %d >>\nstream\n"
                 % (img.shape[1], img.shape[0], len(g3))
                 + g3 + blob[end + int(m.group(3)):])
        assert np.array_equal(decode_pdf(blob2), img)

    def test_hypothesis_like_sweep(self):
        rng = np.random.default_rng(99)
        for _ in range(25):
            h = int(rng.integers(1, 12))
            w = int(rng.integers(1, 80))
            p = rng.random()
            img = (rng.random((h, w)) > p).astype(np.uint8) * 255
            for comp in ("g3", "g4"):
                out = decode_tiff(encode_tiff(img, compression=comp,
                                              bits=1))
                assert np.array_equal(out, img), (h, w, p, comp)


    @pytest.mark.parametrize("compression", ["g3", "t4_2d", "g4"])
    def test_multipage_fax_roundtrip(self, compression):
        """Multi-page fax TIFF: linked-IFD pages each carrying a CCITT
        strip — the classic scanned-document archive container."""
        from org_dharts_dia_tesseract_spark.codecs_img import (
            decode_tiff_pages, encode_tiff_multipage)
        rng = np.random.default_rng(86)
        pages = [(rng.random((11, 17)) > 0.5).astype(np.uint8) * 255
                 for _ in range(3)]
        blob = encode_tiff_multipage(pages, compression=compression,
                                     bits=1)
        out = decode_tiff_pages(blob)
        assert len(out) == 3
        for a, b in zip(out, pages):
            assert np.array_equal(a, b)


# -- scanned PDF (CCITTFaxDecode) ---------------------------------------------

class TestPdfCcitt:
    def test_roundtrip_page_and_noise(self):
        from org_dharts_dia_tesseract_spark.codecs_pdf import (decode_pdf,
                                                               encode_pdf)
        from org_dharts_dia_tesseract_spark.datagen import fixture_page
        img = fixture_page("simple_poetry")
        bil = (img >= 128).astype(np.uint8) * 255
        assert np.array_equal(decode_pdf(encode_pdf(img, ccitt=True)), bil)
        rng = np.random.default_rng(81)
        noise = (rng.random((17, 31)) > 0.5).astype(np.uint8) * 255
        assert np.array_equal(decode_pdf(encode_pdf(noise, ccitt=True)),
                              noise)

    def test_g4_pdf_much_smaller_than_flate(self):
        from org_dharts_dia_tesseract_spark.codecs_pdf import encode_pdf
        from org_dharts_dia_tesseract_spark.datagen import fixture_page
        img = fixture_page("simple_poetry")
        assert len(encode_pdf(img, ccitt=True)) < len(encode_pdf(img)) / 4

    def test_mixed_mode_k_positive_rejected(self):
        """K=0 (pure 1-D) and K<0 decode; K>0 (mixed 1-D/2-D Group 3)
        without EndOfLine has no line framing and is rejected (with
        EndOfLine it decodes: test_pdf_k_positive_with_eol)."""
        from org_dharts_dia_tesseract_spark.codecs_pdf import (decode_pdf,
                                                               encode_pdf)
        blob = encode_pdf(np.zeros((4, 4), dtype=np.uint8), ccitt=True)
        with pytest.raises(NotImplementedError, match="K > 0"):
            decode_pdf(blob.replace(b"/K -1", b"/K 4"))

    def test_color_rejected(self):
        from org_dharts_dia_tesseract_spark.codecs_pdf import encode_pdf
        with pytest.raises(ValueError, match="1-band"):
            encode_pdf(_img((4, 4, 3)), ccitt=True)


# -- GIF color ---------------------------------------------------------------

class TestGifColor:
    def test_color_exact_palette_roundtrip(self):
        from org_dharts_dia_tesseract_spark.codecs_img import (decode_gif,
                                                               encode_gif)
        pal = np.array([[250, 10, 10], [10, 250, 10], [10, 10, 250],
                        [0, 0, 0]], dtype=np.uint8)
        idx = np.random.default_rng(71).integers(0, 4, size=(14, 9))
        img = pal[idx]
        out = decode_gif(encode_gif(img))
        assert out.shape == (14, 9, 3)
        assert np.array_equal(out, img)

    def test_too_many_colors_raises(self):
        from org_dharts_dia_tesseract_spark.codecs_img import encode_gif
        rng = np.random.default_rng(72)
        img = rng.integers(0, 256, size=(32, 32, 3)).astype(np.uint8)
        with pytest.raises(ValueError, match="distinct"):
            encode_gif(img)


# -- property fuzz over the round-4 surfaces -----------------------------------

def test_property_ccitt_matrix_roundtrips():
    """Any bilevel image round-trips through every CCITT wire form."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(st.integers(1, 50), st.integers(1, 30),
           st.floats(0.02, 0.98), st.integers(0, 2**32 - 1))
    def check(w, h, p, seed):
        rng = np.random.default_rng(seed)
        img = (rng.random((h, w)) > p).astype(np.uint8) * 255
        for comp in ("g3", "t4", "t4_2d", "g4"):
            out = decode_tiff(encode_tiff(img, compression=comp, bits=1))
            assert np.array_equal(out, img), comp

    check()


def test_property_png_surface_roundtrips():
    """Any image round-trips through the widened PNG surface (16-bit,
    interlace, palette where the color budget allows)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40),
           st.sampled_from([1, 3]), st.booleans(),
           st.integers(0, 2**32 - 1))
    def check(w, h, bands, interlace, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if bands == 1 else (h, w, bands)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(
            decode_png(encode_png(img, depth=16, interlace=interlace)),
            img)
        pal = rng.integers(0, 256, (4, 3) if bands == 3 else (4,),
                           dtype=np.uint8)
        idx = rng.integers(0, 4, (h, w))
        pimg = pal[idx]
        out = decode_png(encode_png(pimg, palette=True, depth=2,
                                    interlace=interlace))
        # grey palettes legitimately collapse to 1-band
        if out.ndim == 2 and pimg.ndim == 3:
            assert np.array_equal(np.stack([out] * 3, axis=2), pimg)
        else:
            assert np.array_equal(out, pimg)

    check()


def test_property_progressive_equals_baseline():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_jpeg,
                                                           encode_jpeg)

    @settings(max_examples=15, deadline=None)
    @given(st.integers(1, 48), st.integers(1, 48),
           st.sampled_from([1, 3]), st.sampled_from(["444", "420"]),
           st.integers(0, 2**32 - 1))
    def check(w, h, bands, sub, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if bands == 1 else (h, w, bands)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        kw = {} if bands == 1 else {"subsampling": sub}
        base = decode_jpeg(encode_jpeg(img, 85, **kw))
        prog = decode_jpeg(encode_jpeg(img, 85, progressive=True, **kw))
        assert np.array_equal(base, prog)

    check()


def test_property_wav_roundtrips():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from org_dharts_dia_tesseract_spark.codecs_wav import (decode_wav,
                                                           encode_wav)

    @settings(max_examples=20, deadline=None)
    @given(st.integers(1, 2000), st.sampled_from([1, 2]),
           st.sampled_from([8000, 16000, 44100]),
           st.integers(0, 2**32 - 1))
    def check(n, ch, rate, seed):
        rng = np.random.default_rng(seed)
        pcm = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
        out, got_rate = decode_wav(encode_wav(pcm, rate))
        assert got_rate == rate
        assert np.array_equal(out, pcm)

    check()


# -- PNM wide samples --------------------------------------------------------

class TestPnmWide:
    def test_16bit_binary_roundtrip(self):
        g = _img((8, 5), seed=61)
        c = _img((8, 5, 3), seed=62)
        assert np.array_equal(decode_pnm(encode_pnm(g, maxval=65535)), g)
        assert np.array_equal(decode_pnm(encode_pnm(c, maxval=65535)), c)

    def test_ascii_wide_maxval_scales(self):
        blob = b"P2\n2 1\n1000\n0 1000\n"
        out = decode_pnm(blob)
        assert list(out[0]) == [0, 255]

    def test_bad_maxval_rejected(self):
        with pytest.raises(ValueError):
            decode_pnm(b"P5\n1 1\n70000\n\x00")
