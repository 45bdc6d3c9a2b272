"""MJPEG-AVI container codec + video frame-sampling operator tests.

The container layer (operators/video.py) is pure struct parsing and runs
without Spark; the operator e2e runs q_media_video_frames at the smoke
scale and checks the decoded pixels against the deterministic synth
frames (the oracle covers the SQL-statable surface; this file covers the
bytes the oracle can't state)."""

from __future__ import annotations

import numpy as np
import pytest

from dd_ops_ocr_spark.operators.video import (
    avi_frames,
    avi_geometry,
    encode_avi_mjpeg,
    is_avi,
    sample_indices,
    _chunk,
    _list,
)

from tests.conftest import SF_SMOKE

SF = SF_SMOKE


def _fake_frames(n: int) -> list[bytes]:
    return [b"\xff\xd8" + bytes([i]) * (10 + i) + b"\xff\xd9" for i in range(n)]


def test_avi_roundtrip_and_geometry():
    frames = _fake_frames(5)
    avi = encode_avi_mjpeg(frames, 32, 24, fps=10)
    assert is_avi(avi)
    assert avi_frames(avi) == frames
    assert avi_geometry(avi) == (32, 24, 5)


def test_avi_odd_sized_frames_word_align():
    # odd chunk bodies get a pad byte; the reader must not absorb it
    frames = [b"\xff\xd8" + b"x" * 7 + b"\xff\xd9", b"\xff\xd8" + b"\xff\xd9"]
    avi = encode_avi_mjpeg(frames, 8, 8)
    assert avi_frames(avi) == frames


def test_avi_tolerant_reader_variants():
    """Real-world AVIs vary: frames inside 'rec ' grouping LISTs, 00db
    (uncompressed-named) chunks, and unknown chunks interleaved — the
    reader takes all frame chunks and ignores the rest."""
    frames = _fake_frames(3)
    movi_body = (
        _chunk(b"00dc", frames[0])
        + _chunk(b"JUNK", b"\x00" * 11)
        + _list(b"rec ", _chunk(b"00db", frames[1]))
        + _chunk(b"00dc", frames[2])
    )
    avi = _chunk(
        b"RIFF", b"AVI " + _list(b"hdrl", b"") + _list(b"movi", movi_body)
    )
    assert avi_frames(avi) == frames


def test_avi_error_paths():
    with pytest.raises(ValueError):
        avi_frames(b"RIFF\x00\x00\x00\x00WAVE")  # not AVI
    with pytest.raises(ValueError):
        avi_geometry(_chunk(b"RIFF", b"AVI "))  # no avih
    # chunk overrunning its parent must raise, not over-read
    bad_movi = _list(b"movi", b"00dc\xff\xff\xff\x0fAB")
    bad = _chunk(b"RIFF", b"AVI " + bad_movi)
    with pytest.raises(ValueError):
        avi_frames(bad)
    with pytest.raises(ValueError):
        encode_avi_mjpeg([], 8, 8)


def test_sample_indices_properties():
    # endpoints included, strictly increasing, k > n dedupes to n
    for n in range(1, 30):
        for k in range(1, 10):
            idx = sample_indices(n, k)
            kk = min(k, n)
            assert len(idx) == kk
            assert idx[0] == 0
            if kk > 1:
                assert idx[-1] == n - 1
                assert all(a < b for a, b in zip(idx, idx[1:]))
            assert all(0 <= i < n for i in idx)
    assert sample_indices(0, 3) == []
    # integer round-half-up, NOT banker's: n=6, k=3 midpoint 2.5 -> 3
    assert sample_indices(6, 3) == [0, 3, 5]


def test_sample_indices_matches_sql_arithmetic():
    """The DuckDB oracle restates the sampling formula; run the SQL
    spelling over a grid and require bit-equality with the Python one."""
    import duckdb

    rows = duckdb.sql(
        """
        SELECT n, kk, t.i,
               CASE WHEN kk <= 1 THEN 0
                    ELSE (2 * t.i * (n - 1) + (kk - 1)) // (2 * (kk - 1))
               END AS idx
        FROM (SELECT n, LEAST(5, n) AS kk FROM UNNEST(range(1, 30)) AS s(n)),
             UNNEST(range(0, kk)) AS t(i)
        ORDER BY n, t.i
        """
    ).fetchall()
    got: dict[int, list[int]] = {}
    for n, _kk, _i, idx in rows:
        got.setdefault(n, []).append(idx)
    for n in range(1, 30):
        assert got[n] == sample_indices(n, 5), n


def test_media_video_frames_end_to_end(spark):
    """Spark e2e at smoke scale: the sampled frames decode to exactly the
    row-shifted synth pixels (MJPEG frames are q95 baseline JPEGs — same
    tolerance as the JPEG codec tests), and the SQL-visible columns obey
    the md5-derived frame count and geometry."""
    from dd_ops_ocr_spark.operators.multimodal import (
        _media_with_payload,
        _synth_pixels,
        media_video_frames,
        synth_frame_count,
        synth_geometry,
    )
    from dd_ops_ocr_spark.operators.jpeg import decode_jpeg

    media = _media_with_payload(spark, SF, fmt="avi").limit(40)
    out = media_video_frames(media).toPandas()
    assert len(out) > 0
    by_ref = dict(tuple(out.groupby("media_ref")))
    for ref, grp in by_ref.items():
        n_src = synth_frame_count(ref)
        w, h = synth_geometry(ref)
        assert set(grp["n_src_frames"]) == {n_src}
        assert set(grp["width"]) == {w} and set(grp["height"]) == {h}
        assert sorted(grp["src_idx"]) == sample_indices(n_src, 3)
        px = _synth_pixels(ref)
        for _, row in grp.iterrows():
            img = decode_jpeg(bytes(row["frame"]))
            want = np.roll(px, int(row["src_idx"]), axis=0)
            assert img.shape == want.shape
            # q95 4:4:4 noise bound, matching
            # test_jpeg_noise_q95_tight_bound's envelope
            err = np.abs(
                img.astype(np.int32) - want.astype(np.int32)
            ).mean()
            assert err < 8.0, (ref, int(row["src_idx"]), err)


def test_avi_geometry_ignores_avih_bytes_in_frame_data():
    """avi_geometry walks the chunk tree — an 'avih' byte pattern inside
    entropy-coded frame data must not be mistaken for the header."""
    decoy = b"\xff\xd8" + b"avih" + b"\x00" * 60 + b"\xff\xd9"
    # container with frames but NO hdrl/avih: must raise, not return
    # garbage parsed out of the decoy frame bytes
    avi = _chunk(b"RIFF", b"AVI " + _list(b"movi", _chunk(b"00dc", decoy)))
    with pytest.raises(ValueError):
        avi_geometry(avi)
    # and a well-formed container with the same decoy frame still reads
    # the real header
    full = encode_avi_mjpeg([decoy], 17, 13, fps=5)
    assert avi_geometry(full) == (17, 13, 1)


def test_media_metadata_quarantine_mixed_batch(spark):
    """Warn-and-continue media decode: in a batch mixing clean payloads,
    pure garbage, and a truncated image, the good rows decode normally
    and each bad row becomes a quarantine row with its exception
    recorded — never a task failure."""
    import pandas as pd
    from dd_ops_ocr_spark.operators.multimodal import (
        encode_bmp,
        media_metadata_quarantined,
        _synth_pixels,
    )

    good = encode_bmp(_synth_pixels("ok_ref"))
    rows = [
        ("good", good),
        ("garbage", b"\x00\x01\x02 not an image at all"),
        ("truncated", good[:10]),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_ref", "payload"])
    )
    out = {
        r["media_ref"]: r
        for r in media_metadata_quarantined(df).collect()
    }
    g = out["good"]
    assert g["error"] is None and g["width"] is not None
    assert out["garbage"]["error"] is not None
    assert out["garbage"]["width"] is None
    assert out["garbage"]["format"] == "unknown"
    t = out["truncated"]
    assert t["error"] is not None and t["format"] == "bmp"
    assert t["n_bytes"] == 10


def test_media_metadata_quarantine_infra_error_raises(spark):
    """Decoder INFRASTRUCTURE breakage (a missing native lib raising
    RuntimeError — outside the DECODE_ERRORS payload contract) must fail
    the task on the first payload, even a single-row batch: quarantining
    the corpus behind a broken decoder is silent data loss. Payload-level
    corruption (DECODE_ERRORS classes) quarantines no matter how much of
    the batch is corrupt."""
    import pandas as pd
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from dd_ops_ocr_spark.operators.multimodal import (
        media_metadata_quarantined,
    )

    def broken_decoder(payloads):
        raise RuntimeError("libfoo.so: cannot open shared object file")

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": [f"r{i}" for i in range(6)],
                "payload": [bytes([i]) for i in range(6)],
            }
        )
    ).coalesce(1)
    with _pytest.raises((Py4JJavaError, PythonException)):
        media_metadata_quarantined(df, decoder=broken_decoder).collect()
    # infra errors raise even on a single-row batch — never quarantined
    one = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["solo"], "payload": [b"zz"]})
    ).coalesce(1)
    with _pytest.raises((Py4JJavaError, PythonException)):
        media_metadata_quarantined(one, decoder=broken_decoder).collect()
    # whereas an all-corrupt batch through the REAL decoder quarantines
    rows = media_metadata_quarantined(df).collect()
    assert len(rows) == 6 and all(r["error"] is not None for r in rows)


def test_media_video_frames_quarantine_mixed_and_partial(spark):
    """Warn-and-continue video decode: a clean container emits its
    sampled frame rows; a corrupt container emits exactly ONE
    quarantine row; a container whose RIFF is valid but whose FRAME
    bytes are garbage also collapses to one quarantine row with no
    orphan frame rows (per-payload buffering)."""
    import pandas as pd

    from dd_ops_ocr_spark.operators.jpeg import encode_jpeg
    from dd_ops_ocr_spark.operators.multimodal import (
        _synth_pixels,
        media_video_frames_quarantined,
    )
    from dd_ops_ocr_spark.operators.video import encode_avi_mjpeg

    px = _synth_pixels("vq_ref")
    h, w, _ = px.shape
    frame = encode_jpeg(px, quality=95, subsampling="4:4:4")
    good = encode_avi_mjpeg([frame, frame], w, h, fps=10)
    bad_frame = encode_avi_mjpeg([frame, b"\x00garbage not a jpeg"], w, h,
                                 fps=10)
    rows = [
        ("good", good),
        ("truncated", good[:10]),
        ("bad_frame", bad_frame),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_ref", "payload"])
    )
    out = media_video_frames_quarantined(df).collect()
    by_ref: dict[str, list] = {}
    for r in out:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert len(by_ref["good"]) == 2  # n=2 sources, k=min(3, 2)
    assert all(r["error"] is None and r["width"] == w
               for r in by_ref["good"])
    for ref in ("truncated", "bad_frame"):
        (q,) = by_ref[ref]  # exactly one row — no orphan frames
        assert q["error"] is not None
        assert q["frame_idx"] is None and q["frame"] is None


def test_media_video_quarantine_all_corrupt_batch_still_quarantines(spark):
    """An all-corrupt multi-row batch is legitimate clustered corruption
    and must quarantine row-by-row, not kill the task; infra errors
    (non-DECODE_ERRORS from the injected frame decoder) must raise."""
    import pandas as pd
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from dd_ops_ocr_spark.operators.multimodal import (
        media_video_frames_quarantined,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": [f"r{i}" for i in range(5)],
                "payload": [b"not an avi"] * 5,
            }
        )
    ).coalesce(1)
    rows = media_video_frames_quarantined(df).collect()
    assert len(rows) == 5
    assert all(r["error"] is not None and r["frame"] is None for r in rows)
    one = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["solo"], "payload": [b"zz"]})
    ).coalesce(1)
    rows = media_video_frames_quarantined(one).collect()
    assert len(rows) == 1 and rows[0]["error"] is not None

    # a broken injected frame decoder = infrastructure -> task failure
    def broken_frame_decoder(frame_payload):
        raise RuntimeError("codec lib failed to load")

    from dd_ops_ocr_spark.operators.jpeg import encode_jpeg

    frame = encode_jpeg(np.full((8, 8, 3), 128, dtype=np.uint8))
    avi = encode_avi_mjpeg([frame, frame], 8, 8, fps=10)
    good = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": ["v0", "v1"],
                "payload": [avi, avi],
            }
        )
    ).coalesce(1)
    with _pytest.raises((Py4JJavaError, PythonException)):
        media_video_frames_quarantined(
            good, decoder=broken_frame_decoder
        ).collect()



def test_media_video_frames_raises_in_sequential_payload_order(spark):
    """A corrupt frame in payload 0 and a corrupt container in payload 1
    of one Arrow batch: the loop "walk payload, decode its frames" hits
    payload 0's frame error first, so that is what the task raises."""
    import pandas as pd
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from dd_ops_ocr_spark.operators.jpeg import encode_jpeg
    from dd_ops_ocr_spark.operators.multimodal import (
        _synth_pixels,
        media_video_frames,
    )
    from dd_ops_ocr_spark.operators.video import encode_avi_mjpeg

    px = _synth_pixels("vo_ref")
    h, w, _ = px.shape
    frame = encode_jpeg(px, quality=95, subsampling="4:2:0")
    bad_frame = encode_avi_mjpeg([frame[: len(frame) // 2]], w, h, fps=10)
    good = encode_avi_mjpeg([frame], w, h, fps=10)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"media_ref": ["v0", "v1"], "payload": [bad_frame, good[:10]]}
        )
    ).coalesce(1)
    with _pytest.raises((Py4JJavaError, PythonException)) as err:
        media_video_frames(df).collect()
    msg = str(err.value)
    assert "EOFError: truncated JPEG scan" in msg  # payload 0's frame
    assert "not an AVI payload" not in msg

# ------------------------------------------------- inter-frame delta codec

def _shifted_frames(n: int, seed: int = 3, shape=(24, 16)):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, (*shape, 3)).astype(np.uint8)
    return [np.roll(base, i, axis=0) for i in range(n)]


def test_delta_avi_bit_exact_all_frames():
    """Every reconstruction path — keyframe hit, forward delta chain,
    cache reuse between consecutive samples — reproduces the source
    pixels bit-for-bit (mod-256 deltas + lossless PNG)."""
    from dd_ops_ocr_spark.operators.video import (
        avi_frame_index,
        decode_sampled_delta_frames,
        encode_avi_png_delta,
    )

    frames = _shifted_frames(8)
    p = encode_avi_png_delta(frames, kf_interval=4)
    assert [k for _, _, k in avi_frame_index(p)] == [
        True, False, False, False, True, False, False, False
    ]
    for i, key, px in decode_sampled_delta_frames(p, 5):
        assert key == i - i % 4
        assert (px == frames[i]).all(), i
    # k >= n decodes every frame
    got = decode_sampled_delta_frames(p, 99)
    assert [i for i, _, _ in got] == list(range(8))
    for i, _, px in got:
        assert (px == frames[i]).all()


def test_delta_avi_kf_interval_one_is_all_keyframes():
    from dd_ops_ocr_spark.operators.video import (
        avi_frame_index,
        decode_sampled_delta_frames,
        encode_avi_png_delta,
    )

    frames = _shifted_frames(3)
    p = encode_avi_png_delta(frames, kf_interval=1)
    assert all(k for _, _, k in avi_frame_index(p))
    for i, key, px in decode_sampled_delta_frames(p, 3):
        assert key == i and (px == frames[i]).all()


def test_delta_avi_compresses_smooth_content():
    """The reason inter-frame coding exists: deltas of similar frames
    are near-constant images PNG filters crush — the delta container
    must be materially smaller than all-keyframes on smooth motion."""
    from dd_ops_ocr_spark.operators.video import encode_avi_png_delta

    y, x = np.mgrid[0:64, 0:48]
    sm = ((y * 3 + x) % 256).astype(np.uint8)
    frames = [
        np.roll(np.repeat(sm[:, :, None], 3, 2), i, axis=0) for i in range(8)
    ]
    delta = encode_avi_png_delta(frames, kf_interval=4)
    allkey = encode_avi_png_delta(frames, kf_interval=1)
    assert len(delta) < 0.6 * len(allkey)


def test_delta_avi_error_contract():
    from dd_ops_ocr_spark.operators.video import (
        avi_frame_index,
        decode_sampled_delta_frames,
        encode_avi_png_delta,
    )

    frames = _shifted_frames(4)
    p = encode_avi_png_delta(frames, kf_interval=2)
    # strip idx1 -> the seek surface is gone and the decoder must say so
    idx_at = p.rindex(b"idx1")
    stripped = bytearray(p[:idx_at])
    import struct

    struct.pack_into("<I", stripped, 4, len(stripped) - 8)
    with pytest.raises(ValueError):
        avi_frame_index(bytes(stripped))
    with pytest.raises(ValueError):
        decode_sampled_delta_frames(bytes(stripped), 2)
    with pytest.raises(ValueError):
        encode_avi_png_delta(frames, kf_interval=0)
    with pytest.raises(ValueError):
        encode_avi_png_delta([], kf_interval=2)
    # no keyframe at/before a sampled frame: flip frame 0's key flag off
    broken = bytearray(p)
    entry0 = broken.rindex(b"idx1") + 8
    struct.pack_into("<I", broken, entry0 + 4, 0)
    with pytest.raises(ValueError):
        decode_sampled_delta_frames(bytes(broken), 1)


def test_delta_avi_absolute_offset_index_fallback():
    """Some muxers write idx1 offsets from the file start instead of the
    movi base; the reader resolves either convention."""
    import struct

    from dd_ops_ocr_spark.operators.video import (
        avi_frame_index,
        encode_avi_png_delta,
    )

    frames = _shifted_frames(3)
    p = bytearray(encode_avi_png_delta(frames, kf_interval=2))
    rel = avi_frame_index(bytes(p))
    # rewrite offsets as absolute (entry offset points at chunk header)
    idx_at = p.rindex(b"idx1") + 8
    for k in range(3):
        pos = idx_at + 16 * k
        (off,) = struct.unpack_from("<I", p, pos + 8)
        body_start = rel[k][0]
        struct.pack_into("<I", p, pos + 8, body_start - 8)
    assert avi_frame_index(bytes(p)) == rel


def test_media_video_delta_frames_end_to_end(spark):
    """Spark operator over synthesized delta containers: sampled frames
    reconstruct the shifted synth pixels exactly and the emitted
    key_idx matches the writer's cadence."""
    import pandas as pd

    from dd_ops_ocr_spark.operators.multimodal import (
        DELTA_KF_INTERVAL,
        media_video_delta_frames,
        synth_avi_delta_payload,
        synth_frame_count,
    )

    refs = [f"dv{i}" for i in range(4)]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": refs,
                "payload": [synth_avi_delta_payload(r) for r in refs],
            }
        )
    ).coalesce(1)
    rows = media_video_delta_frames(df).collect()
    by_ref: dict[str, list] = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref in refs:
        n = synth_frame_count(ref)
        got = sorted(by_ref[ref], key=lambda r: r["frame_idx"])
        assert len(got) == min(3, n)
        for r in got:
            assert r["n_src_frames"] == n
            assert r["key_idx"] == r["src_idx"] - r["src_idx"] % DELTA_KF_INTERVAL


def test_zero_frame_avi_keeps_one_row_accounting(spark):
    """A structurally valid AVI with no frame chunks must surface as ONE
    quarantine-style row (n_src_frames=0, error set), not vanish from
    the per-source accounting."""
    from dd_ops_ocr_spark.operators.multimodal import (
        media_video_frames_quarantined,
    )
    import numpy as np

    from dd_ops_ocr_spark.operators.jpeg import encode_jpeg
    from dd_ops_ocr_spark.operators.video import avi_frames, encode_avi_mjpeg

    # the writer (correctly) refuses zero frames, so surgically remove
    # the single frame chunk + idx1 entry from a 1-frame container —
    # structurally valid RIFF, zero '00dc' chunks
    frame = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    raw = bytearray(encode_avi_mjpeg([frame], 8, 8, fps=10))
    i = raw.find(b"00dc")
    size = int.from_bytes(raw[i + 4:i + 8], "little")
    chunk_len = 8 + size + (size & 1)
    k = raw.find(b"movi") - 8  # its LIST header
    msz = int.from_bytes(raw[k + 4:k + 8], "little")
    raw[k + 4:k + 8] = (msz - chunk_len).to_bytes(4, "little")
    del raw[i:i + chunk_len]
    j = raw.find(b"idx1")
    isz = int.from_bytes(raw[j + 4:j + 8], "little")
    raw[j + 4:j + 8] = (isz - 16).to_bytes(4, "little")
    del raw[j + 8:j + 24]
    rsz = int.from_bytes(raw[4:8], "little")
    raw[4:8] = (rsz - chunk_len - 16).to_bytes(4, "little")
    empty_avi = bytes(raw)
    assert avi_frames(empty_avi) == []  # parseable, zero frames
    df = spark.createDataFrame(
        [("m0", bytearray(empty_avi))], "media_ref string, payload binary"
    )
    rows = media_video_frames_quarantined(df).collect()
    assert len(rows) == 1
    assert rows[0]["n_src_frames"] == 0
    assert rows[0]["error"] is not None and "no frame" in rows[0]["error"]
