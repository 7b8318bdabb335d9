"""Minimal from-scratch PDF codec — stdlib ``zlib`` + numpy only.

Two layers, both REAL coders (no external PDF/imaging library):

- **Scanned-page layer**: ``encode_pdf(img)`` writes a deterministic
  single-page PDF whose page is one full-bleed FlateDecode Image
  XObject (8-bit DeviceGray or DeviceRGB); ``decode_pdf(payload)``
  parses the object graph back to the pixel array. The round-trip is
  lossless, so OCR spans over PDF-encoded media equal the raw run's.
  The decoder also accepts ``/DCTDecode`` image streams (JPEG-in-PDF,
  the most common scanned-page encoding in the wild) by handing the
  stream to the in-repo baseline JPEG decoder, and 1-bit
  ``/CCITTFaxDecode`` streams (any ``/K``; K > 0 needs ``/EndOfLine``)
  through the TIFF fax coder.
- **Text layer**: ``encode_pdf_text(lines)`` writes a PDF with a
  Helvetica ``BT/Td/Tj`` content stream; ``extract_pdf_text(payload)``
  tokenizes every non-image content stream for ``Tj``/``TJ`` show
  operators (full PDF string-escape handling: ``\\( \\) \\\\ \\n \\r
  \\t \\b \\f``, octal ``\\ddd``, line continuations, nested balanced
  parens) and returns the shown strings in order.

The reference *rejects* PDF media (``ImageIOHelper.java:278-282``
throws "PDF is not supported"); this module goes beyond it because the
north rule names "PDF/layout parse" as a main-content-extraction tier.
Strings are Latin-1 (PDFDocEncoding superset is out of scope; the
corpus is ASCII); images are 8-bit grey/RGB.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b(.*?)endobj", re.S)
_IMAGE_RE = re.compile(rb"/Subtype\s*/Image\b")
_INT_KEY = {k: re.compile(rb"/" + k + rb"\s+(\d+)")
            for k in (b"Width", b"Height", b"BitsPerComponent", b"Length")}
_REF_LEN_RE = re.compile(rb"/Length\s+(\d+)\s+0\s+R")


# ---------------------------------------------------------------------------
# writer plumbing
# ---------------------------------------------------------------------------

def _assemble(objects: list[bytes]) -> bytes:
    """Serialize 1-indexed object bodies into a PDF with a valid xref."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objects) + 1, xref_at))
    return bytes(out)


def _stream_obj(dict_entries: bytes, data: bytes) -> bytes:
    return (b"<< " + dict_entries + b" /Length %d >>\nstream\n" % len(data)
            + data + b"\nendstream")


def _page_objects(w: int, h: int, resources: bytes,
                  extra: list[bytes]) -> list[bytes]:
    """Catalog/Pages/Page skeleton; `extra` objects start at number 4."""
    return [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
         b"/Resources << %s >> /Contents %d 0 R >>"
         % (w, h, resources, 4 + len(extra))),
        *extra,
    ]


# ---------------------------------------------------------------------------
# scanned-page layer: image XObject embed / extract
# ---------------------------------------------------------------------------

def encode_pdf(img: np.ndarray, ccitt: bool = False) -> bytes:
    """Single-page PDF with the image as a full-bleed XObject —
    FlateDecode 8-bit by default; ``ccitt=True`` embeds a 1-band image
    as a CCITT Group 4 fax stream (/CCITTFaxDecode, K=-1, threshold
    128 — the scanned-PDF archival form). Deterministic for a given
    zlib build (the OCR gates compare spans, not payload bytes)."""
    if img.dtype != np.uint8:
        raise ValueError("PDF image encoder takes uint8 arrays")
    if img.ndim == 2:
        h, w = img.shape
        cs = b"/DeviceGray"
    elif img.ndim == 3 and img.shape[2] == 3:
        h, w = img.shape[:2]
        cs = b"/DeviceRGB"
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    if ccitt:
        if img.ndim != 2:
            raise ValueError("PDF CCITT embed is 1-band only")
        from .codecs_img import _ccitt_encode   # lazy: avoids cycle
        pixels = _ccitt_encode(img < 128, -1)
        # BlackIs1 stays at its default (false): decoded black = sample
        # 0 = DeviceGray ink, the form real viewers display correctly
        image_obj = _stream_obj(
            b"/Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
            b"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns %d "
            b"/Rows %d >>" % (w, h, w, h), pixels)
    else:
        pixels = zlib.compress(np.ascontiguousarray(img).tobytes(), 6)
        image_obj = _stream_obj(
            b"/Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace %s /BitsPerComponent 8 /Filter /FlateDecode"
            % (w, h, cs), pixels)
    content = zlib.compress(b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h), 6)
    objs = _page_objects(w, h, b"/XObject << /Im0 4 0 R >>", [image_obj])
    objs.append(_stream_obj(b"/Filter /FlateDecode", content))
    return _assemble(objs)


def _objects_of(payload: bytes) -> dict[int, bytes]:
    if payload[:5] != b"%PDF-":
        raise ValueError("not a PDF payload (missing %PDF- header)")
    return {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(payload)}


def _stream_of(body: bytes, objects: dict[int, bytes]) -> bytes | None:
    """Raw stream bytes of an object body, honouring /Length (direct or
    indirect) and tolerating writers that rely on endstream alone."""
    at = body.find(b"stream")
    if at < 0:
        return None
    at += len(b"stream")
    if body[at:at + 2] == b"\r\n":
        at += 2
    elif body[at:at + 1] in (b"\n", b"\r"):
        at += 1
    m = _INT_KEY[b"Length"].search(body)
    n = None
    if m:
        n = int(m.group(1))
    else:
        mr = _REF_LEN_RE.search(body)
        if mr and int(mr.group(1)) in objects:
            ref_body = objects[int(mr.group(1))].strip()
            if ref_body.isdigit():
                n = int(ref_body)
    if n is not None and body[at + n:].lstrip()[:9] == b"endstream":
        return body[at:at + n]
    end = body.rfind(b"endstream")
    if end < 0:
        raise ValueError("PDF stream object missing endstream")
    return body[at:end].rstrip(b"\r\n")


def decode_pdf(payload: bytes) -> np.ndarray:
    """Extract the first image XObject back to its pixel array."""
    objects = _objects_of(payload)
    for _, body in sorted(objects.items()):
        if not _IMAGE_RE.search(body):
            continue
        w_m = _INT_KEY[b"Width"].search(body)
        h_m = _INT_KEY[b"Height"].search(body)
        if w_m is None or h_m is None:
            raise ValueError("PDF image XObject has no integer "
                             + ("/Width" if w_m is None else "/Height"))
        w, h = int(w_m.group(1)), int(h_m.group(1))
        data = _stream_of(body, objects)
        if data is None:
            raise ValueError("PDF image XObject has no stream")
        if b"/CCITTFaxDecode" in body:
            from .codecs_img import _ccitt_decode   # lazy: avoids cycle
            k_m = re.search(rb"/K\s+(-?\d+)", body)
            k = int(k_m.group(1)) if k_m else 0
            cols_m = re.search(rb"/Columns\s+(\d+)", body)
            cols = int(cols_m.group(1)) if cols_m else 1728
            eol = b"/EndOfLine true" in body     # PDF defaults: no EOLs,
            if k > 0 and not eol:                # no byte alignment
                raise NotImplementedError(
                    "PDF CCITTFaxDecode K > 0 without EndOfLine "
                    "unsupported (no line framing to parse)")
            decoded = _ccitt_decode(data, h, cols, k, eol,
                                    b"/EncodedByteAlign true" in body)
            packed = np.frombuffer(decoded, dtype=np.uint8)
            bits = np.unpackbits(packed.reshape(h, -1), axis=1)[:, :w]
            # CCITT black is ink: return 0 where the fax stream coded
            # black (the BlackIs1/Decode sample-inversion subtleties
            # cancel in every correctly-displaying file)
            return ((1 - bits) * 255).astype(np.uint8)
        bpc_m = _INT_KEY[b"BitsPerComponent"].search(body)
        if bpc_m and int(bpc_m.group(1)) != 8:
            raise NotImplementedError(
                f"PDF image BitsPerComponent {int(bpc_m.group(1))} "
                "unsupported (8 for Flate/DCT; 1 via CCITTFaxDecode)")
        if b"/DCTDecode" in body:
            from .codecs_img import decode_jpeg   # lazy: avoids cycle
            return decode_jpeg(data)
        if b"/DeviceRGB" in body:
            bands = 3
        elif b"/DeviceGray" in body:
            bands = 1
        else:
            raise NotImplementedError("PDF image ColorSpace unsupported "
                                      "(DeviceGray/DeviceRGB only)")
        if b"/FlateDecode" in body:
            from .codecs_img import _inflate   # lazy: avoids cycle
            data = _inflate(data, w * h * bands, "PDF image stream")
        elif b"/Filter" in body:
            # a name, or the first name of a filter array
            m = re.search(rb"/Filter\s*(?:\[\s*)?/(\w+)", body)
            if m is None:
                raise ValueError("PDF image /Filter names no filter")
            raise NotImplementedError(
                f"PDF image filter {m.group(1).decode()} unsupported")
        arr = np.frombuffer(data, dtype=np.uint8)
        if arr.size != w * h * bands:
            raise ValueError(
                f"PDF image stream holds {arr.size} samples, dict says "
                f"{w}x{h}x{bands}")
        return arr.reshape((h, w) if bands == 1 else (h, w, bands))
    raise ValueError("PDF contains no image XObject")


# ---------------------------------------------------------------------------
# text layer: Tj/TJ content streams
# ---------------------------------------------------------------------------

def _escape_string(s: str) -> bytes:
    b = s.encode("latin-1")   # corpus text is ASCII; latin-1 is PDF-safe
    return (b.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
            .replace(b")", b"\\)"))


def encode_pdf_text(lines: list[str]) -> bytes:
    """Single-page text PDF: one Tj per line, 14pt leading."""
    parts = [b"BT /F1 12 Tf 14 TL 72 756 Td"]
    for i, line in enumerate(lines):
        if i:
            parts.append(b"T*")
        parts.append(b"(" + _escape_string(line) + b") Tj")
    parts.append(b"ET")
    content = zlib.compress(b" ".join(parts), 6)
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Name /F1 >>")
    objs = _page_objects(612, 792, b"/Font << /F1 4 0 R >>", [font])
    objs.append(_stream_obj(b"/Filter /FlateDecode", content))
    return _assemble(objs)


_ESCAPES = {ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
            ord("b"): b"\b", ord("f"): b"\f", ord("("): b"(",
            ord(")"): b")", ord("\\"): b"\\"}


def _parse_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at the '(' — returns (bytes,
    index past the closing paren). Handles escapes, octal, continuation
    lines and nested balanced parentheses."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:                      # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:        # \ddd octal, 1-3 digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (0x0A, 0x0D):        # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:                          # unknown escape: literal char
                out.append(e)
                i += 1
            continue
        if c == 0x28:                      # nested (
            depth += 1
        elif c == 0x29:                    # )
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c)
        i += 1
    return bytes(out), i


def _shown_strings(content: bytes) -> list[str]:
    """All Tj/TJ-shown strings of one content stream, in show order."""
    shown: list[str] = []
    pending: list[bytes] = []
    in_array = False
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:                      # (
            s, i = _parse_string(content, i)
            pending.append(s)
            if not in_array:
                # look ahead for the operator ending this show
                m = re.match(rb"\s*(Tj|')", content[i:])
                if m:
                    shown.append(b"".join(pending).decode("latin-1"))
                    i += m.end()
                pending = []
            continue
        if c == 0x5B:                      # [
            in_array = True
            pending = []
        elif c == 0x5D:                    # ]
            m = re.match(rb"\s*TJ", content[i + 1:])
            if in_array and m:
                shown.append(b"".join(pending).decode("latin-1"))
                i += 1 + m.end()
                in_array = False
                pending = []
                continue
            in_array = False
            pending = []
        i += 1
    return shown


def extract_pdf_text(payload: bytes) -> list[str]:
    """Shown text strings of every non-image content stream, in object
    then show order (our writer emits exactly one content stream)."""
    objects = _objects_of(payload)
    out: list[str] = []
    for _, body in sorted(objects.items()):
        if _IMAGE_RE.search(body):
            continue
        data = _stream_of(body, objects)
        if data is None:
            continue
        if b"/FlateDecode" in body[:body.find(b"stream")]:
            from .codecs_img import _inflate   # lazy: avoids cycle
            data = _inflate(data, None, "PDF text stream")
        out.extend(_shown_strings(data))
    return out
