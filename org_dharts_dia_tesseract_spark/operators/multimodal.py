"""Multimodal column operators: decode / feature-extract / resize /
frame-sample over opaque binary payloads with typed metadata.

Every payload decodes through `oracle.page.decode_payload`: raw
row-major uint8 (zero-copy byte-buffer handoff, the reference's
ImageIOHelper.convertImageData:249-257) plus REAL pure-numpy codecs for
BMP / PNM / TIFF (PackBits / LZW / DEFLATE / CCITT strips) / PNG (zlib
IDAT, all 5 scanline filters) / GIF (real LZW both directions, interlace) / JPEG
(real Huffman+DCT; lossy, but the binarization margin keeps spans
identical) / JPEG 2000 (MQ coder + EBCOT + reversible 5/3 wavelet;
lossless) — the reference's FULL ImageIO decode surface
(ImageIOHelper.java:263-327), every format a real coder. PDF — which
the reference rejects (ImageIOHelper.java:278-282 throws) — is decoded
too (codecs_pdf: FlateDecode/DCTDecode image XObjects), since the north
rule names PDF parse as a main-content-extraction tier.

All operators run on the shared per-row Arrow stage (stage.row_stage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs_avi import avi_frame_features, decode_avi_mjpeg
from ..codecs_img import ENCODERS, decode_tiff_pages, sniff_codec
from ..codecs_wav import wav_features
from ..datagen import colorize_page
from ..oracle.binarize import otsu_binarize, to_grey
from ..oracle.cc import connected_components
from ..oracle.page import DEFAULT_PPI, decode_payload
from .extract import image_spans
from .stage import row_stage

CODECS_REAL = ("bmp", "pnm", "tiff", "png", "gif", "jpeg", "jp2", "pdf")

_MEDIA_COLS = ("media_ref", "width", "height", "bands", "payload")


def _raster(r) -> np.ndarray:
    return decode_payload(r.payload, r.width, r.height, r.bands)


def colorize_media(media: DataFrame) -> DataFrame:
    """Deterministic synthetic colorization of grey pages (datagen.
    colorize_page): raw 1-band payloads become raw 3-band RGB rows with
    real chroma content — the input surface for the color codec paths
    (e.g. the 4:2:0 color-JPEG gate)."""
    def emit(r):
        yield (r.media_ref, r.width, r.height, 3,
               colorize_page(_raster(r)).tobytes())

    return row_stage(media.select(*_MEDIA_COLS), RESIZE_SCHEMA, emit)


#: reencode_media option -> (the codecs it applies to, their encoder's
#: keyword). An option given to another codec is a caller bug: it fails
#: loudly so a miswired gate can't silently test the wrong surface.
_ENCODE_OPTIONS = {
    "compression": (("tiff",), "compression"),
    "tiff_bits": (("tiff",), "bits"),
    "dpi": (("bmp", "tiff", "png", "jpeg"), "dpi"),
    "jpeg_subsampling": (("jpeg",), "subsampling"),
    "jpeg_progressive": (("jpeg",), "progressive"),
    "png_palette": (("png",), "palette"),
    "png_interlace": (("png",), "interlace"),
    "pdf_ccitt": (("pdf",), "ccitt"),
}


def reencode_media(media: DataFrame, codec: str, **options) -> DataFrame:
    """Re-encode raw media payloads with a real codec —
    the inverse of decode, used as a sink format and to drive the codec
    decode path end-to-end through the OCR pipeline. width/height/bands
    metadata is preserved. Options (each for the codecs
    `_ENCODE_OPTIONS` names): for tiff, `compression` picks 'none' |
    'packbits' | 'lzw' | 'deflate' | a CCITT fax form and `tiff_bits`
    the bits-per-sample (1 = bilevel threshold-128, the fax/scan
    staple); for jpeg, `jpeg_subsampling` and `jpeg_progressive` (an
    SOF2 scan script); for png, `png_palette`/`png_interlace` pick
    indexed color and Adam7; for pdf, `pdf_ccitt` embeds a G4 fax
    stream. `dpi` embeds the physical resolution in the output metadata
    (TIFF XResolution, PNG pHYs, JFIF density, BMP ppm) — read back on
    decode by the S5 resolution chain (oracle.page.resolve_ppi)."""
    if codec not in CODECS_REAL:
        raise ValueError(f"encodable codecs are {CODECS_REAL}, got {codec!r}")
    kw = {}
    for name, value in options.items():
        if name not in _ENCODE_OPTIONS:
            raise TypeError(f"reencode_media() got an unexpected keyword "
                            f"argument {name!r}")
        owners, keyword = _ENCODE_OPTIONS[name]
        if codec not in owners:
            raise ValueError(f"{name} applies to codec "
                             f"{' / '.join(owners)}, not {codec!r}")
        kw[keyword] = value
    encode = ENCODERS[codec]

    def emit(r):
        yield (r.media_ref, r.width, r.height, r.bands,
               encode(_raster(r), **kw))

    return row_stage(media.select(*_MEDIA_COLS), RESIZE_SCHEMA, emit)


FEATURES_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("dpi", T.IntegerType(), False),
    T.StructField("ink_ratio", T.FloatType(), False),
    T.StructField("mean_luma", T.FloatType(), False),
    T.StructField("row_profile_var", T.FloatType(), False),
    T.StructField("n_components", T.IntegerType(), False),
])


def extract_features(media: DataFrame) -> DataFrame:
    """Per-image features (decode -> binarize -> CC count) with the DPI
    fallback of S5 (ImageIOHelper.readImageData:379-407: missing metadata
    -> default resolution)."""
    def emit(r):
        grey = to_grey(_raster(r))
        ink = otsu_binarize(grey)
        yield (r.media_ref, r.width, r.height,
               int(r.dpi) if pd.notna(r.dpi) else DEFAULT_PPI,
               float(ink.mean()), float(grey.mean()),
               float(np.var(ink.sum(axis=1))), len(connected_components(ink)))

    return row_stage(media, FEATURES_SCHEMA, emit)


RESIZE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("bands", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), False),
])


def resize(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (pure numpy fancy indexing — vectorized)."""
    def emit(r):
        ys = np.arange(out_h) * r.height // out_h
        xs = np.arange(out_w) * r.width // out_w
        yield (r.media_ref, out_w, out_h, r.bands,
               _raster(r)[np.ix_(ys, xs)].tobytes())

    return row_stage(media, RESIZE_SCHEMA, emit)


def split_tiff_pages(media: DataFrame) -> DataFrame:
    """Multi-page TIFF split (ImageIOHelper.createTiffFiles:74-123:
    1 file -> N page files, index=-1 => all): rows whose payload is a
    multi-page TIFF explode into one row per page (media_ref gains a
    '#p<i>' suffix, payload becomes the page's raw raster); every other
    row passes through unchanged (1:N per row)."""
    def emit(r):
        pay = bytes(r.payload)
        if (len(pay) != r.width * r.height * r.bands
                and sniff_codec(pay[:8]) == "tiff"):
            pages = decode_tiff_pages(pay)
            if len(pages) > 1:
                for i, img in enumerate(pages):
                    h, w = img.shape[:2]
                    yield (f"{r.media_ref}#p{i}", w, h,
                           1 if img.ndim == 2 else img.shape[2],
                           img.tobytes())
                return
        yield r.media_ref, r.width, r.height, r.bands, r.payload

    return row_stage(media.select(*_MEDIA_COLS), RESIZE_SCHEMA, emit)


def frame_sample(documents: DataFrame, media: DataFrame,
                 every_k: int = 2) -> DataFrame:
    """Video-style frame sampling: a document's image spans are its frame
    sequence (multi-page model, ImageIOHelper.createTiffFiles:74-123);
    keep every k-th frame per document. Pure DataFrame ops — the filter is
    on the span position, pushed before the media join so dropped frames'
    payloads are never read."""
    w = Window.partitionBy("doc_id").orderBy("offset")
    frames = image_spans(documents).withColumn(
        "frame_idx", F.row_number().over(w) - 1)
    kept = frames.where(F.col("frame_idx") % every_k == 0)
    return kept.join(media, "media_ref")


VIDEO_FEATURES_SCHEMA = T.StructType([
    T.StructField("video_ref", T.StringType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("n_frames", T.IntegerType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("fps", T.IntegerType(), False),
    T.StructField("mean_luma", T.DoubleType(), False),
    T.StructField("ink_ratio", T.DoubleType(), False),
])


#: Observation from the most recent 'drop'-policy feature plan (per
#: driver process): after an action, `.get` exposes {'dropped_payloads'}
#: — the logged evidence of how many corrupt clips the job skipped.
last_decode_error_observation = None


def _payload_features(df: DataFrame, ref_col: str, schema: T.StructType,
                      features_of, on_error: str) -> DataFrame:
    """One row per feature dict in `features_of(payload)`, keyed by the
    row's `ref_col`. on_error: 'fail' raises on an undecodable payload
    (strict); 'drop' skips it and counts it in
    `last_decode_error_observation` — corrupt clips at 10^12 rows are a
    data-quality fact to surface, not an exception to die on (same
    policy as extract's dead-letter spans and the LSH cap's
    dropped-bucket observation)."""
    from pyspark.sql import Observation
    global last_decode_error_observation
    if on_error not in ("fail", "drop"):
        raise ValueError(f"on_error must be 'fail' or 'drop', "
                         f"got {on_error!r}")
    cols = schema.fieldNames()[1:]
    drop = on_error == "drop"
    ok = (0,) if drop else ()

    def emit(r):
        ref = getattr(r, ref_col)
        return [(ref, *(f[c] for c in cols), *ok)
                for f in features_of(r.payload)]

    def marker(r, e):         # one `__err` row per undecodable payload
        return (getattr(r, ref_col), *[0] * len(cols), 1)

    if drop:
        schema = T.StructType(
            list(schema) + [T.StructField("__err", T.IntegerType(), False)])
    feats = row_stage(df.select(ref_col, "payload"), schema, emit,
                      error_row=marker if drop else None)
    if not drop:
        return feats
    obs = Observation()
    observed = feats.observe(
        obs, F.sum(F.col("__err")).alias("dropped_payloads"))
    last_decode_error_observation = obs
    return observed.where(F.col("__err") == 0).drop("__err")


def video_frame_features(video: DataFrame, every_k: int = 1,
                         on_error: str = "fail") -> DataFrame:
    """Per-sampled-frame features over opaque MJPEG-in-AVI payloads
    (the task-brief video tier, real container path next to
    frame_sample's span-sequence model): decode the RIFF/AVI container
    + its JPEG frames with the from-scratch codecs (codecs_avi ->
    codecs_img), keep every k-th frame, emit luma/ink stats — the same
    avi_frame_features kernel the single-process oracle runs, so
    values are bit-identical. One narrow stage, zero shuffles; payloads
    never leave their scan partition — the shape that holds at 100 TB
    of video.

    on_error: 'fail' raises on an undecodable payload (strict,
    default); 'drop' skips it and counts it in
    `last_decode_error_observation` — one corrupt clip must not kill a
    10^12-row job, and the skip count stays visible."""
    return _payload_features(
        video, "video_ref", VIDEO_FEATURES_SCHEMA,
        lambda payload: avi_frame_features(payload, every_k), on_error)


def split_video_frames(media: DataFrame, every_k: int = 1) -> DataFrame:
    """AVI container split (the video analog of split_tiff_pages): rows
    whose payload sniffs as RIFF/AVI explode into one RAW row per
    sampled frame (media_ref gains '#f<i>', payload becomes the decoded
    raster), ready for the OCR/feature stages; every other row passes
    through unchanged (1:N per row)."""
    if every_k < 1:       # fail on the driver, not deep in an executor
        raise ValueError("every_k must be >= 1")

    def emit(r):
        pay = bytes(r.payload)
        if pay[:4] == b"RIFF" and pay[8:12] == b"AVI ":
            frames, w, h, _fps = decode_avi_mjpeg(pay)
            for i, img in enumerate(frames):
                if i % every_k == 0:
                    yield (f"{r.media_ref}#f{i}", w, h,
                           1 if img.ndim == 2 else img.shape[2],
                           img.tobytes())
            return
        yield r.media_ref, r.width, r.height, r.bands, r.payload

    return row_stage(media.select(*_MEDIA_COLS), RESIZE_SCHEMA, emit)


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("audio_ref", T.StringType(), False),
    T.StructField("n_samples", T.IntegerType(), False),
    T.StructField("channels", T.IntegerType(), False),
    T.StructField("sample_rate", T.IntegerType(), False),
    T.StructField("duration_s", T.DoubleType(), False),
    T.StructField("rms", T.DoubleType(), False),
    T.StructField("peak", T.DoubleType(), False),
    T.StructField("zero_crossing_rate", T.DoubleType(), False),
])


def audio_features(audio: DataFrame, on_error: str = "fail") -> DataFrame:
    """Signal features over opaque WAV payloads (the task-brief audio
    tier): per-clip duration / RMS / peak / zero-crossing-rate via the
    from-scratch RIFF/PCM codec (codecs_wav.wav_features — the same
    kernel the single-process oracle runs, so values are bit-identical).
    One narrow stage, zero shuffles; payloads never leave their scan
    partition — the shape that holds at 100 TB of audio.

    on_error: 'fail' raises on an undecodable payload (strict,
    default); 'drop' skips it and counts it in
    `last_decode_error_observation` (see video_frame_features)."""
    return _payload_features(audio, "audio_ref", AUDIO_FEATURES_SCHEMA,
                             lambda payload: [wav_features(payload)],
                             on_error)
