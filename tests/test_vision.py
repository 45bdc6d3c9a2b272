"""Real-pixel preprocessing (operators/vision.py) against constructed
images with KNOWN structure — binarization finds the ink, regions find
the planted bands."""

from __future__ import annotations

import numpy as np

from dd_ops_ocr_spark.operators.vision import (
    DEBUG_COLOR,
    binarize_adaptive_px,
    draw_debug_px,
    media_binarize,
    media_debug_draw,
    media_upscale,
    regions_px,
    upscale_2x_px,
)


def _page(h: int = 64, w: int = 96) -> np.ndarray:
    return np.full((h, w, 3), 255, dtype=np.uint8)


def _stamp_rows(img: np.ndarray, rows: range, x0: int, x1: int) -> None:
    img[rows.start:rows.stop, x0:x1] = 20


def test_binarize_finds_planted_ink():
    img = _page()
    _stamp_rows(img, range(10, 14), 8, 80)
    bw = binarize_adaptive_px(img)
    assert set(np.unique(bw)) <= {0, 255}
    # dark stamp rows are ink; far-away background rows are clean
    assert (bw[11, 20:70] == 0).all()
    assert (bw[40:60] == 255).all()


def test_regions_find_planted_bands():
    img = _page()
    _stamp_rows(img, range(10, 15), 8, 60)
    _stamp_rows(img, range(30, 37), 20, 90)
    regs = regions_px(img)
    assert len(regs) == 2
    a, b = regs
    assert (a["y0"], a["y1"]) == (10, 14)
    assert (b["y0"], b["y1"]) == (30, 36)
    assert a["x0"] == 8 and a["x1"] == 59
    assert b["x0"] == 20 and b["x1"] == 89


def test_upscale_2x_exact_bilinear():
    """Planted horizontal gradient: even samples copy the source, odd
    samples are the exact floor-average of their neighbors (edge rows/
    cols clamp)."""
    img = np.zeros((2, 4, 3), dtype=np.uint8)
    img[:, :, 0] = [0, 10, 20, 255]
    img[1, :, 0] = [100, 110, 120, 130]
    up = upscale_2x_px(img)
    assert up.shape == (4, 8, 3)
    # row 0 horizontal: copies at even x, neighbor means at odd x
    assert list(up[0, :, 0]) == [0, 5, 10, 15, 20, 137, 255, 255]
    # odd row 1 = floor-mean of horizontal rows 0 and 1 of the source
    assert list(up[1, :, 0]) == [50, 55, 60, 65, 70, 131, 192, 192]
    # last row clamps (duplicate of row 2's horizontal pass)
    assert (up[3] == up[2]).all()


def test_upscale_flat_stays_flat():
    img = np.full((5, 7, 3), 123, dtype=np.uint8)
    up = upscale_2x_px(img)
    assert up.shape == (10, 14, 3)
    assert (up == 123).all()


def test_debug_draw_marker_and_boxes():
    """Marker square at (1,1) of size min(w,h)//20; each planted band
    gets a 1-px red outline; interior pixels away from ink stay put."""
    img = _page()  # 64 x 96
    _stamp_rows(img, range(10, 15), 8, 60)
    _stamp_rows(img, range(30, 37), 20, 90)
    drawn, n = draw_debug_px(img)
    assert n == 2
    m = min(96, 64) // 20  # = 3
    assert (drawn[1:1 + m, 1:1 + m] == DEBUG_COLOR).all()
    # band 1 outline: top/bottom edges and left/right verticals
    assert (drawn[10, 8:60] == DEBUG_COLOR).all()
    assert (drawn[14, 8:60] == DEBUG_COLOR).all()
    assert (drawn[10:15, 8] == DEBUG_COLOR).all()
    assert (drawn[10:15, 59] == DEBUG_COLOR).all()
    # band interior keeps the stamped ink value
    assert (drawn[12, 30] == (20, 20, 20)).all()
    # far background untouched
    assert (drawn[50:60, 10:80] == 255).all()
    # geometry unchanged
    assert drawn.shape == img.shape


def test_debug_draw_tiny_image_no_overflow():
    img = np.full((6, 8, 3), 255, dtype=np.uint8)
    img[2, 2:6] = 0
    drawn, n = draw_debug_px(img)
    assert drawn.shape == img.shape
    assert n >= 1


def test_upscale_and_debug_draw_over_spark(spark):
    """mapInPandas plumbing: upscale doubles geometry, debug draw keeps
    it; both emit decodable BMPs of the exact padded size."""
    from tests.conftest import SF_SMOKE
    from dd_ops_ocr_spark.operators.multimodal import (
        _media_with_payload,
        decode_image,
        synth_geometry,
    )

    media = _media_with_payload(spark, SF_SMOKE)
    some = media.limit(20).cache()

    up = media_upscale(some).toPandas()
    assert len(up) == 20
    for _, r in up.head(5).iterrows():
        w, h = synth_geometry(r["media_ref"])
        assert (r["width"], r["height"]) == (2 * w, 2 * h)
        img = decode_image(bytes(r["payload"]))
        assert img.shape == (2 * h, 2 * w, 3)

    dd = media_debug_draw(some).toPandas()
    assert len(dd) == 20
    for _, r in dd.head(5).iterrows():
        w, h = synth_geometry(r["media_ref"])
        assert (r["width"], r["height"]) == (w, h)
        img = decode_image(bytes(r["payload"]))
        assert img.shape == (h, w, 3)
        assert r["n_regions"] >= 0


def test_vision_operators_over_spark(spark):
    """The mapInPandas plumbing end-to-end over real synthetic payloads:
    binarize keeps geometry and emits valid BMPs."""
    from tests.conftest import SF_SMOKE
    from dd_ops_ocr_spark.operators.multimodal import (
        _media_with_payload,
        synth_geometry,
    )

    media = _media_with_payload(spark, SF_SMOKE)
    some = media.limit(40).cache()

    bz = media_binarize(some).toPandas()
    assert len(bz) == 40
    for _, r in bz.head(5).iterrows():
        assert synth_geometry(r["media_ref"]) == (r["width"], r["height"])
        assert 0 <= r["ink_px"] <= r["width"] * r["height"]
