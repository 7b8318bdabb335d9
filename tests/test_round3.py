"""Round-3 behaviors: TIFF DEFLATE codec, PNM \r\n headers, language-pack
algebra wired through recognition, merge max_pages guard, UNLV Latin-1
degradation, fixed-order hyperplane signatures, IVF sidecar via Spark IO.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import org_dharts_dia_tesseract_spark.operators.similarity as S
from org_dharts_dia_tesseract_spark.codecs_img import (decode_tiff,
                                                       decode_tiff_pages,
                                                       encode_tiff,
                                                       encode_tiff_multipage,
                                                       decode_pnm)
from org_dharts_dia_tesseract_spark.datagen import fixture_page
from org_dharts_dia_tesseract_spark.errors import InvalidParameterError
from org_dharts_dia_tesseract_spark.functions.config import resolve_languages
from org_dharts_dia_tesseract_spark.oracle.page import analyze_page


def _rand_img(shape, seed=7):
    return np.random.default_rng(seed).integers(
        0, 256, size=shape, dtype=np.uint8)


# -- codecs -----------------------------------------------------------------

def test_tiff_deflate_roundtrip_grey_and_rgb():
    for shape in ((23, 31), (17, 13, 3)):
        img = _rand_img(shape)
        blob = encode_tiff(img, compression="deflate")
        assert np.array_equal(decode_tiff(blob), img)
        # deflate on low-entropy data must actually compress
        flat = np.full((64, 64), 200, dtype=np.uint8)
        assert len(encode_tiff(flat, compression="deflate")) < flat.size // 2


def test_tiff_deflate_multipage_roundtrip():
    pages = [_rand_img((9, 14), 1), _rand_img((21, 6), 2)]
    blob = encode_tiff_multipage(pages, compression="deflate")
    got = decode_tiff_pages(blob)
    assert len(got) == 2
    for g, p in zip(got, pages):
        assert np.array_equal(g, p)


def test_tiff_unknown_compression_rejected():
    with pytest.raises(ValueError, match="compression"):
        encode_tiff(_rand_img((4, 4)), compression="jpeg")


def test_pnm_crlf_after_maxval_decodes():
    img = _rand_img((5, 8))
    # Windows-writer style header: \r\n after maxval
    blob = b"P5\n8 5\n255\r\n" + img.tobytes()
    assert np.array_equal(decode_pnm(blob), img)
    # a single \r separator must also work (exactly one whitespace byte)
    blob2 = b"P5\n8 5\n255\r" + img.tobytes()
    assert np.array_equal(decode_pnm(blob2), img)


# -- PNG codec --------------------------------------------------------------

def _png_with_filters(img: np.ndarray, filters: list[int]) -> bytes:
    """Hand-build a PNG whose scanline y uses filters[y], computing the
    filtered bytes with an independent straight-from-the-spec reference
    implementation (so decode_png's defiltering is tested against the
    spec, not against itself)."""
    import struct
    import zlib
    h, w = img.shape[:2]
    bands = 1 if img.ndim == 2 else img.shape[2]
    rows = img.reshape(h, w * bands).astype(int)
    stride = w * bands
    out = bytearray()
    prev = [0] * stride
    for y in range(h):
        f = filters[y]
        out.append(f)
        rec = list(rows[y])
        for x in range(stride):
            a = rec[x - bands] if x >= bands else 0
            b = prev[x]
            c = prev[x - bands] if x >= bands else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((rec[x] - pred) & 255)
        prev = rec

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if bands == 1 else 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b""))


def test_png_roundtrip_grey_and_rgb():
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_png,
                                                           encode_png,
                                                           sniff_codec)
    for shape in ((11, 7), (6, 9, 3)):
        img = _rand_img(shape, seed=5)
        blob = encode_png(img)
        assert sniff_codec(blob[:8]) == "png"
        assert np.array_equal(decode_png(blob), img)


def test_png_all_filters_decode_per_spec():
    from org_dharts_dia_tesseract_spark.codecs_img import decode_png
    img = _rand_img((10, 6), seed=9)
    blob = _png_with_filters(img, [0, 1, 2, 3, 4, 4, 3, 2, 1, 0])
    assert np.array_equal(decode_png(blob), img)
    rgb = _rand_img((5, 4, 3), seed=11)
    blob = _png_with_filters(rgb, [4, 3, 2, 1, 0])
    assert np.array_equal(decode_png(blob), rgb)


def test_png_unsupported_variants_rejected():
    from org_dharts_dia_tesseract_spark.codecs_img import decode_png
    import struct
    import zlib

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
    # 16-bit grey decodes since round 4 (high byte kept)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + chunk(b"IEND", b""))
    assert decode_png(blob).shape == (2, 2)
    # an invalid color type is still rejected
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        decode_png(blob)
    with pytest.raises(ValueError):
        decode_png(b"nonsense")


# -- GIF codec --------------------------------------------------------------

def test_gif_roundtrip_random_and_patterned():
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_gif,
                                                           encode_gif,
                                                           sniff_codec)
    img = _rand_img((37, 53), seed=13)
    blob = encode_gif(img)
    assert sniff_codec(blob[:8]) == "gif"
    assert np.array_equal(decode_gif(blob), img)
    # low entropy: long LZW matches, code-width growth, KwKwK pattern case
    pat = np.zeros((40, 80), dtype=np.uint8)
    pat[::3] = 7
    pat[:, ::5] = 255
    assert np.array_equal(decode_gif(encode_gif(pat)), pat)
    # big random forces 12-bit width + dictionary reset (>4096 entries)
    big = _rand_img((120, 150), seed=17)
    assert np.array_equal(decode_gif(encode_gif(big)), big)


def test_gif_interlaced_and_color_palette_decode():
    from org_dharts_dia_tesseract_spark.codecs_img import (_lzw_encode,
                                                           decode_gif)
    import struct
    # hand-build: 4-entry COLOR palette, interlaced 8x4 image
    h, w = 8, 4
    idx = np.arange(h * w, dtype=np.uint8).reshape(h, w) % 4
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    order = [y for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))
             for y in range(s, h, st)]
    stored = idx[order]                      # rows in interlace pass order
    lzw = _lzw_encode(stored.tobytes(), 2, "gif")   # 4 colors
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", w, h, 0x81, 0, 0) + pal
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)   # interlaced
    out += bytes([2])
    for i in range(0, len(lzw), 255):
        c = lzw[i:i + 255]
        out += bytes([len(c)]) + c
    out += b"\x00\x3b"
    got = decode_gif(bytes(out))
    assert got.shape == (h, w, 3)            # color palette -> RGB
    exp = np.frombuffer(pal, np.uint8).reshape(4, 3)[idx]
    assert np.array_equal(got, exp)


def test_gif_rgb_encode_surface():
    """RGB encode is exact-palette since round 4: <=256 distinct colors
    round-trip; beyond that GIF's palette model is exceeded and the
    encoder refuses rather than quantize lossily."""
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_gif,
                                                           encode_gif)
    small = _rand_img((4, 4, 3), seed=9)          # <= 16 distinct colors
    assert np.array_equal(decode_gif(encode_gif(small)), small)
    rng = np.random.default_rng(10)
    big = rng.integers(0, 256, size=(40, 40, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="distinct"):
        encode_gif(big)


# -- JPEG codec (lossy) -----------------------------------------------------

def test_jpeg_near_lossless_on_smooth_and_bounded_on_noise():
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_jpeg,
                                                           encode_jpeg,
                                                           sniff_codec)
    x = np.tile(np.linspace(0, 255, 64).astype(np.uint8), (40, 1))
    blob = encode_jpeg(x, 95)
    assert sniff_codec(blob[:8]) == "jpeg"
    assert np.array_equal(decode_jpeg(blob), x)      # smooth: exact
    noisy = _rand_img((60, 80), seed=23)
    err = np.abs(decode_jpeg(encode_jpeg(noisy, 90)).astype(int)
                 - noisy.astype(int))
    assert err.max() < 60                            # far inside the margin


def test_jpeg_page_analysis_identical_to_raw():
    """The whole point: a JPEG'd page binarizes and recognizes EXACTLY
    like the raw raster (pixel error << ink/background gap)."""
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_jpeg,
                                                           encode_jpeg)
    from org_dharts_dia_tesseract_spark.datagen import fixture_page
    img = fixture_page("simple_poetry")
    dec = decode_jpeg(encode_jpeg(img, 90))
    a, b = analyze_page(img), analyze_page(dec)
    ra = [(r["level"], r["text"], r["left"], r["top"], r["right"],
           r["bottom"], r["confidence"]) for r in a.rows()]
    rb = [(r["level"], r["text"], r["left"], r["top"], r["right"],
           r["bottom"], r["confidence"]) for r in b.rows()]
    assert ra == rb


def test_jpeg_restart_markers_and_rejections():
    from org_dharts_dia_tesseract_spark.codecs_img import (decode_jpeg,
                                                           encode_jpeg)
    import struct
    img = _rand_img((24, 24), seed=29)
    blob = bytearray(encode_jpeg(img, 90))
    # splice a DRI segment before SOS and verify the parser tolerates it
    # (interval 0 => no restarts; exercises the DRI branch)
    sos = blob.find(b"\xff\xda")
    blob[sos:sos] = struct.pack(">HHH", 0xFFDD, 4, 0)
    assert np.array_equal(decode_jpeg(bytes(blob)),
                          decode_jpeg(encode_jpeg(img, 90)))
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # color (3-band) encode is real since round 4 — decode round-trips
    # within the lossy margin instead of raising the old "greyscale"
    # rejection (tests/test_codecs.py pins the full color surface)
    color = _rand_img((8, 8, 3))
    err = np.abs(decode_jpeg(encode_jpeg(color, 90)).astype(int)
                 - color.astype(int))
    assert err.max() < 80
    # lossless (SOF3) still rejected; progressive (SOF2) is real since
    # round 4 — tests/test_codecs_round4.py pins that surface
    prog = bytearray(encode_jpeg(img))
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC3
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))


# -- language packs through recognition -------------------------------------

def test_resolve_languages_algebra():
    assert resolve_languages("eng") == ("eng",)
    assert resolve_languages("hin+eng") == ("hin", "eng")
    assert resolve_languages("eng+hin+~hin") == ("eng",)
    with pytest.raises(InvalidParameterError):
        resolve_languages("eng+~eng")        # empty load set
    with pytest.raises(InvalidParameterError):
        resolve_languages("fra")             # pack not installed


def test_language_pack_changes_recognition():
    img = fixture_page("simple_poetry")
    eng = analyze_page(img, langs=("eng",)).page_text()
    hin = analyze_page(img, langs=("hin",)).page_text()
    assert eng != hin                        # different templates, diff text
    assert len(eng) == len(hin)              # same layout, same symbol count
    # pages render with eng glyphs, so eng templates match at distance ~0
    # and win every tie in the union -> eng+hin reproduces eng exactly
    both = analyze_page(img, langs=("eng", "hin")).page_text()
    assert both == eng
    # ... and the algebra makes '~hin' a true no-op on output
    spec = resolve_languages("eng+hin+~hin")
    assert analyze_page(img, langs=spec).page_text() == eng


def test_extract_spans_languages_spec(spark):
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    from org_dharts_dia_tesseract_spark.sources import corpus_tables
    docs, media = corpus_tables(spark, 8, partitions=8)
    eng = extract_spans(docs, media).orderBy("doc_id", "seq").collect()
    hin = extract_spans(docs, media, languages="hin") \
        .orderBy("doc_id", "seq").collect()
    assert [(r.doc_id, r.seq, r.kind) for r in eng] == \
        [(r.doc_id, r.seq, r.kind) for r in hin]   # same structure
    assert any(a.text != b.text for a, b in zip(eng, hin)
               if a.kind == "text")                # different recognition


# -- merge page-count guard -------------------------------------------------

def _tiny_doc(spark, n_pages):
    from org_dharts_dia_tesseract_spark.sources.tables import (
        DOCUMENTS_SCHEMA, MEDIA_SCHEMA)
    img = np.full((4, 5), 255, dtype=np.uint8)
    spans = [{"kind": "image", "text": None, "media_ref": f"m{i}",
              "offset": i} for i in range(n_pages)]
    docs = spark.createDataFrame([{"doc_id": "d0", "spans": spans}],
                                 DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(
        [{"media_ref": f"m{i}", "width": 5, "height": 4, "bands": 1,
          "dpi": None, "payload": img.tobytes()} for i in range(n_pages)],
        MEDIA_SCHEMA)
    return docs, media


def test_merge_pages_max_pages_guard(spark):
    from org_dharts_dia_tesseract_spark.operators.sinks import (merge_pages,
                                                                merge_tiff)
    docs, media = _tiny_doc(spark, 3)
    assert merge_pages(docs, media, max_pages=3).count() == 1
    with pytest.raises(Exception, match="max_pages"):
        merge_pages(docs, media, max_pages=2).count()
    with pytest.raises(Exception, match="max_pages"):
        merge_tiff(docs, media, max_pages=2).count()
    assert merge_tiff(docs, media).count() == 1   # default cap is generous


def test_merge_tiff_kernel_typed_error(spark):
    """merge_tiff enforces the cap in its encode kernel with the TYPED
    InvalidParameterError (surfacing through Spark as a PythonException
    that names the type, the doc and the limit)."""
    from org_dharts_dia_tesseract_spark.operators.sinks import merge_tiff
    docs, media = _tiny_doc(spark, 3)
    with pytest.raises(Exception) as ei:
        merge_tiff(docs, media, max_pages=2).count()
    msg = str(ei.value)
    assert "InvalidParameterError" in msg and "max_pages=2" in msg \
        and "d0" in msg


# -- UNLV Latin-1 degradation -----------------------------------------------

def test_unlv_latin1_degradation(spark):
    from org_dharts_dia_tesseract_spark.operators.sinks import unlv_text
    rows = []
    for i, (ch, conf) in enumerate([("A", 95.0), ("é", 95.0),
                                    ("€", 95.0), ("B", 40.0)]):
        rows.append({"doc_id": "d", "media_ref": "m", "level": "SYMBOL",
                     "block_id": 0, "para_id": 0, "line_id": 0,
                     "word_id": 0, "sym_id": i, "seq": i, "text": ch,
                     "confidence": conf})
    h = spark.createDataFrame(rows)
    out = unlv_text(h).collect()[0]["unlv_text"]
    # é (U+00E9) is Latin-1 -> kept; € (U+20AC) -> '~'; conf<50 -> '~';
    # word contains a <80 symbol -> '^' prefix
    assert out == "^Aé~~"


# -- hyperplane signature: fixed-order reduction ----------------------------

def test_hyperplane_signature_matches_left_to_right_fold(spark):
    import pandas as pd
    dim, n_planes = 16, 8
    rng = np.random.default_rng(3)
    vecs = [rng.standard_normal(dim).astype(np.float32) for _ in range(50)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "embedding": [list(map(float, v))
                                                         for v in vecs]}))
    got = {r["vec_id"]: r["sig"] for r in df.select(
        "vec_id", S.hyperplane_signature("embedding", n_planes).alias("sig")
    ).collect()}
    W = S._plane_matrix(n_planes, dim)
    for i, v in enumerate(vecs):
        exp = ""
        for p in range(n_planes):
            acc = 0.0
            for j in range(dim):       # strict left-to-right float64 fold
                acc += float(v[j]) * W[p, j]
            exp += "1" if acc >= 0 else "0"
        assert got[i] == exp


# -- round-3b: corpus hygiene additions -------------------------------------

def test_connected_components_transitive_chain(spark):
    from org_dharts_dia_tesseract_spark.operators.dedup import \
        connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 11)], ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    # chain 1-2-3-4 collapses to one component even though (1,4) was
    # never a pair — the transitivity pairwise loser-dropping misses
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 10}


def test_connected_components_converges_on_star(spark):
    from org_dharts_dia_tesseract_spark.operators.dedup import \
        connected_components
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], ["id_a", "id_b"])
    rows = connected_components(pairs).collect()
    assert all(r["cluster_id"] == 0 for r in rows)
    assert len(rows) == 9


def _crafted_corpus(spark, tmp_path):
    rows = [
        (1, "a b a b a b a b a b a b a b a b", "en", "s", 31),
        (2, "q w e r t y u i o p", "en", "s", 19),
        (7, "z z z z z z z z x x x x x x x x", "en", "s", 31),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    df.coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_repetition_quality_crafted(spark, tmp_path):
    from org_dharts_dia_tesseract_spark.queries import spark_queries
    sf = _crafted_corpus(spark, tmp_path)
    out = {r["doc_id"]: r for r in
           spark_queries()["repetition_quality"](spark, sf).collect()}
    # doc 1: 16 words, both 8-word chunks identical -> dup frac 0.5;
    # top bigram 'a b' covers 8 of 15 bigrams
    assert out[1]["n_words"] == 16
    assert out[1]["dup_chunk_frac"] == 0.5
    assert out[1]["top_bigram_frac"] == round(8 / 15, 6)
    # doc 2: all-distinct words -> no repetition at all
    assert out[2]["dup_chunk_frac"] == 0.0
    assert out[2]["top_bigram_frac"] == round(1 / 9, 6)
    # doc 7: 'z z' x7 of 15 bigrams, chunks distinct
    assert out[7]["dup_chunk_frac"] == 0.0
    assert out[7]["top_bigram_frac"] == round(7 / 15, 6)


def test_line_dedup_global_strikes_injected_boilerplate(spark):
    from org_dharts_dia_tesseract_spark.queries import spark_queries
    out = spark_queries()["line_dedup_global"](
        spark, "/root/testdata/sf0.001")
    hit = (out.where(F.col("doc_id") % 7 == 0)
           .agg(F.sum((F.col("n_dropped") > 0).cast("int")).alias("h"),
                F.count("*").alias("n")).collect()[0])
    # every doc_id % 7 == 0 doc carries the injected boilerplate chunk,
    # shared across all of them -> each must have dropped chunks
    assert hit["h"] == hit["n"] > 0
    # and no cleaned text may still contain the boilerplate tail
    from org_dharts_dia_tesseract_spark.queries import _BOILER
    assert out.where(F.col("clean_text").contains(_BOILER)).count() == 0
