"""From-scratch PDF codec (codecs_pdf.py): image XObject round-trips,
text-layer Tj/TJ parsing with full string-escape handling, DCTDecode
(JPEG-in-PDF) interop, malformed payloads, and the Spark sink/source
operator pair (operators/pdf.py).

The reference rejects PDF media (ImageIOHelper.java:278-282); this
surface exists because the north rule names PDF parse as a
main-content-extraction tier.
"""

from __future__ import annotations

import numpy as np
import pytest

from org_dharts_dia_tesseract_spark import codecs_pdf as P
from org_dharts_dia_tesseract_spark.codecs_img import (encode_jpeg,
                                                       sniff_codec)
from org_dharts_dia_tesseract_spark.operators.pdf import (docs_to_pdf,
                                                          pdf_extract_text)
from org_dharts_dia_tesseract_spark.sources import corpus_tables

GREY = np.random.default_rng(11).integers(0, 256, (37, 53), dtype=np.uint8)
RGB = np.random.default_rng(12).integers(0, 256, (21, 33, 3), dtype=np.uint8)


@pytest.mark.parametrize("img", [GREY, RGB], ids=["grey", "rgb"])
def test_image_roundtrip(img):
    enc = P.encode_pdf(img)
    assert sniff_codec(enc) == "pdf"
    dec = P.decode_pdf(enc)
    assert dec.shape == img.shape and (dec == img).all()


def test_text_roundtrip_with_escapes():
    lines = ["hello world", "a(b)c\\d and () nested (x(y)z)", "",
             "tab\tand\nnewline", "percent % bracket [ ] angle < >"]
    assert P.extract_pdf_text(P.encode_pdf_text(lines)) == lines
    assert P.extract_pdf_text(P.encode_pdf_text([])) == []


def test_text_octal_and_tj_array():
    """Hand-built content stream: octal escapes, TJ arrays with kerning
    numbers, nested parens, line-continuation backslash."""
    content = (b"BT (A\\101\\60) Tj "
               b"[(ke) -120 (rn) 30 (ed)] TJ "
               b"(cont\\\ninued) Tj ET")
    objs = P._page_objects(612, 792, b"", [b"<< /Type /Font >>"])
    objs.append(P._stream_obj(b"", content))
    got = P._shown_strings(content)
    assert got == ["AA0", "kerned", "continued"]
    assert P.extract_pdf_text(P._assemble(objs)) == got


def test_dctdecode_image():
    """JPEG-in-PDF (the common scanned-page wrapping in the wild) routes
    through the in-repo baseline JPEG decoder; lossy but tight."""
    img = (np.indices((40, 60)).sum(0) % 2 * 255).astype(np.uint8)
    obj = P._stream_obj(
        b"/Type /XObject /Subtype /Image /Width 60 /Height 40 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode",
        encode_jpeg(img))
    objs = P._page_objects(60, 40, b"/XObject << /Im0 4 0 R >>", [obj])
    objs.append(P._stream_obj(b"", b"q 60 0 0 40 0 0 cm /Im0 Do Q"))
    out = P.decode_pdf(P._assemble(objs))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 32


def test_malformed_payloads():
    with pytest.raises(ValueError, match="missing %PDF- header"):
        P.decode_pdf(b"not a pdf")
    with pytest.raises(ValueError, match="no image XObject"):
        P.decode_pdf(P.encode_pdf_text(["text only"]))
    with pytest.raises(NotImplementedError, match="BitsPerComponent"):
        bad = P.encode_pdf(GREY).replace(b"/BitsPerComponent 8",
                                         b"/BitsPerComponent 1")
        P.decode_pdf(bad)
    with pytest.raises(NotImplementedError, match="filter"):
        bad = P.encode_pdf(GREY).replace(b"/Filter /FlateDecode",
                                         b"/Filter /LZWDecode")
        P.decode_pdf(bad)
    for array, name in ((b"[/LZWDecode]", "LZWDecode"),
                        (b"[ /RunLengthDecode ]", "RunLengthDecode")):
        # a filter array names its first filter
        with pytest.raises(NotImplementedError, match=name):
            P.decode_pdf(P.encode_pdf(GREY).replace(b"/FlateDecode", array))
    with pytest.raises(ValueError, match="names no filter"):
        P.decode_pdf(P.encode_pdf(GREY).replace(b"/FlateDecode", b"7"))


@pytest.mark.parametrize("key,value", [(b"/Width", b"53"),
                                       (b"/Height", b"37")])
def test_image_dimension_not_integer(key, value):
    """An image dict whose /Width or /Height is not an integer is a
    ValueError naming the key, not an AttributeError."""
    blob = P.encode_pdf(GREY)
    assert blob.count(key + b" " + value) == 1
    bad = blob.replace(key + b" " + value, key + b" /X")
    with pytest.raises(ValueError, match="no integer " + key.decode()):
        P.decode_pdf(bad)


def test_spark_pdf_sink_source_roundtrip(spark):
    """docs_to_pdf -> pdf_extract_text reproduces exactly the raw text
    spans in offset order, per document."""
    docs, _ = corpus_tables(spark, 24)
    got = {r["doc_id"]: (r["n_lines"], r["text"])
           for r in pdf_extract_text(docs_to_pdf(docs)).collect()}
    for d in docs.collect():
        lines = [s["text"]
                 for s in sorted(d["spans"], key=lambda s: s["offset"])
                 if s["kind"] == "text"]
        assert got[d["doc_id"]] == (len(lines), "\n".join(lines))
    assert len(got) == 24
