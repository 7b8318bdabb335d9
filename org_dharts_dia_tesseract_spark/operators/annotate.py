"""Annotated-image sink: draw the analyzed layout back onto page rasters.

Rebuilds the examples layer's rendered output (BlockAnalysis draws block
outlines onto a JPEG, /root/reference/examples/.../BlockAnalysis.java:99;
golden outputs res/examples/output/*.jpg). Output is a raw row-major
uint8 payload (any input codec decodes through oracle.page.decode_payload)
with box outlines burned in at configurable grey levels per level.

Implementation: one per-row Arrow stage (stage.row_stage) over hierarchy
boxes joined back to their page payload; outlines are drawn with numpy
slice assignments (vectorized, no per-pixel Python).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle.page import decode_payload
from .stage import row_stage

LEVEL_GREY = {"BLOCK": 0, "PARA": 64, "TEXTLINE": 96, "WORD": 128}

ANNOTATED_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("bands", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("n_boxes", T.IntegerType(), False),
])


def draw_box(img: np.ndarray, left: int, top: int, right: int, bottom: int,
             value: int) -> None:
    """1px rectangle outline, clipped to the raster (in place)."""
    h, w = img.shape[:2]
    l, t = max(left, 0), max(top, 0)
    r, b = min(right, w), min(bottom, h)
    if r <= l or b <= t:
        return
    img[t, l:r] = value
    img[b - 1, l:r] = value
    img[t:b, l] = value
    img[t:b, r - 1] = value


def annotate_pages(hierarchy: DataFrame, media: DataFrame,
                   levels: tuple[str, ...] = ("BLOCK", "TEXTLINE", "WORD")
                   ) -> DataFrame:
    """Per page: payload with outlines of the requested levels burned in."""
    boxes = (hierarchy
             .where(F.col("level").isin(*levels))
             .groupBy("media_ref")
             .agg(F.collect_list(
                 F.struct("level", "left", "top", "right", "bottom"))
                 .alias("boxes")))

    def emit(r):
        img = np.array(decode_payload(r.payload, r.width, r.height, r.bands))
        for bx in r.boxes:
            draw_box(img, bx["left"], bx["top"], bx["right"], bx["bottom"],
                     LEVEL_GREY.get(bx["level"], 0))
        yield (r.media_ref, r.width, r.height, r.bands, img.tobytes(),
               len(r.boxes))

    return row_stage(media.join(boxes, "media_ref"), ANNOTATED_SCHEMA, emit)
