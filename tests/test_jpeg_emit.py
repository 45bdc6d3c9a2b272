"""The vectorized baseline-JPEG scan emitter must be byte-identical to
the serial reference procedure it replaced (r6 optimization: the
per-coefficient emit/put loop was the encoder's hot spot; the numpy
emitter computes the same T.81 F.1 symbol stream with whole-array ops).
"""

import numpy as np
import pytest

from dd_ops_ocr_spark.operators import jpeg as J
from tests.jpeg_reference import emit_scan_serial


def _images():
    rng = np.random.default_rng(20260821)
    for trial in range(60):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        q = int(rng.choice([10, 50, 75, 95, 100]))
        sub = str(rng.choice(["4:4:4", "4:2:0"]))
        kind = trial % 3
        if kind == 0:  # noise: dense AC symbols
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        elif kind == 1:  # flat: EOB-only blocks, zero-diff DC chains
            px = np.full((h, w, 3), int(rng.integers(0, 256)), np.uint8)
        else:  # smooth gradient: long zero runs (ZRL coverage)
            px = (
                np.add.outer(np.arange(h), np.arange(w))[:, :, None]
                * np.array([3, 5, 7]) % 256
            ).astype(np.uint8)
        yield px, q, sub


def test_vector_emitter_matches_serial_reference():
    n = 0
    for px, q, sub in _images():
        comps_q, my, mx, hs, vs, _, _ = J._prep_components(px, q, sub)
        ser = emit_scan_serial(comps_q, my, mx, hs, vs)
        vec = J._emit_scan_vector(comps_q, my, mx, hs, vs)
        assert ser == vec, (px.shape, q, sub)
        n += 1
    assert n == 60


def test_encode_roundtrips_through_decoder():
    # encode (vector emitter) -> decode must still be the exact inverse
    # of the quantized coefficients: pin via a second encode of the
    # decoded pixels being deterministic, and dims surviving.
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    enc = J.encode_jpeg(px, quality=95, subsampling="4:2:0")
    dec = J.decode_jpeg(enc)
    assert dec.shape == (23, 31, 3)
    assert J.encode_jpeg(dec, quality=95, subsampling="4:2:0") == \
        J.encode_jpeg(dec.copy(), quality=95, subsampling="4:2:0")


def test_oversize_dc_category_still_raises():
    # the serial path raised KeyError via dc_codes[size] on a category
    # the table does not define; the vector path must do the same
    qz = np.zeros((1, 64), dtype=np.int64)
    qz[0, 0] = 1 << 13  # DC diff bit_length 14 > table max 11
    comps = [(qz, np.zeros(1, np.int64), 1)] * 3
    with pytest.raises(KeyError):
        J._emit_scan_vector(comps, 1, 1, 1, 1)
    with pytest.raises(KeyError):
        emit_scan_serial(comps, 1, 1, 1, 1)
