"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata, exactly
as a 100 TB interleaved corpus stores them (the reference's equivalent is
JPEG page images on disk, step1/03_image_converter.py). The Spark-side
plumbing — schema, Arrow batch shape, mapInPandas signatures, partition
behavior — is real and tested, and so are TWO full pure-numpy codecs
through which real pixels flow end to end (decode -> nearest-neighbor
resample -> re-encode -> average-hash):

  * 24-bit **BMP** (lossless, below), and
  * baseline **JPEG** (operators/jpeg.py — the reference's actual media
    format, q95 per step1/03_image_converter.py:42-57).

plus pure-python **PNG** (operators/png.py, incl. Adam7) and lossless
**WebP/VP8L** (operators/webp.py). Format tails that DO still need an
external codec (lossy VP8, video containers beyond the MJPEG/delta AVI
codecs, 16-bit PNG) raise NotImplementedError at ``decode_image``, and
``media_metadata_quarantined`` routes such payloads to its quarantine.
"""

from __future__ import annotations

import struct
import zlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from dd_ops_ocr_spark.corpus import mix64

MEDIA_META_DDL = (
    "media_ref string, n_bytes long, format string, width int, height int,"
    " phash long"
)

# The decoder error contract for warn-and-continue operators: these
# classes mean "THIS payload is corrupt/unsupported" and become
# quarantine rows; anything else (RuntimeError from a missing native
# lib, ImportError, OSError, MemoryError, ...) means the decode
# INFRASTRUCTURE is broken and propagates immediately — quarantining a
# whole corpus behind a broken decoder would be data loss wearing a
# success status. Injected decoders (media_metadata(decoder=...), the
# native shims) must raise one of these for payload-level failures;
# native/__init__.py and native/webp.py do (ValueError/EOFError for
# payloads, RuntimeError when the shim itself can't load). Failure
# counting is per-payload by exception CLASS, never by "how much of the
# batch failed": corruption clusters in real corpora (one bad producer
# shard lands contiguously), so an all-corrupt batch is legitimate data
# and must quarantine, not kill the task.
DECODE_ERRORS = (
    ValueError,
    EOFError,
    NotImplementedError,
    IndexError,
    KeyError,
    OverflowError,
    struct.error,
    zlib.error,
)


def _quarantine_scan(media_refs, payloads, per_payload, null_row):
    """Shared warn-and-continue scaffold: run ``per_payload(ref,
    payload) -> list[row dict]`` for each payload; a DECODE_ERRORS
    failure emits ``null_row(ref, payload, exc)`` instead (one row per
    source, no orphan partial output); any other exception class
    propagates (see DECODE_ERRORS)."""
    rows: list[dict] = []
    for r, p in zip(media_refs, payloads):
        try:
            rows.extend(per_payload(r, p))
        except DECODE_ERRORS as exc:
            rows.append(null_row(r, p, exc))
    return rows


# ---------------------------------------------------------------- BMP codec
# 24-bit uncompressed BMP: 14-byte file header + 40-byte BITMAPINFOHEADER +
# bottom-up BGR rows padded to 4 bytes. Real, library-free, lossless.

def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit BMP bytes."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, row_size), dtype=np.uint8)
    bgr = pixels[::-1, :, ::-1]  # bottom-up scan order, BGR channel order
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BMP bytes -> (h, w, 3) uint8 RGB. Raises ValueError on a
    non-BMP payload, NotImplementedError on compressed/other-depth BMPs."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    _, w, h = struct.unpack_from("<Iii", payload, 14)
    _, bpp = struct.unpack_from("<HH", payload, 26)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit uncompressed BMP (got {bpp}/{comp})")
    top_down = h < 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_off
    ).reshape(h, row_size)
    img = arr[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def detect_format(payload: bytes) -> str:
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "avi"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    return "unknown"


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a media payload to (h, w, 3) uint8 RGB. BMP, baseline JPEG
    (operators/jpeg.py — the reference's page media is JPEG q95), PNG
    (operators/png.py — stdlib zlib + numpy unfiltering), and lossless
    WebP (operators/webp.py — VP8L literal subset) all decode natively;
    video / lossy-VP8 / transform-coded VP8L raise NotImplementedError
    (the integration points the native codec seams close:
    native/__init__.py for JPEG, native/webp.py for WebP)."""
    fmt = detect_format(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "jpeg":
        from dd_ops_ocr_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if fmt == "png":
        from dd_ops_ocr_spark.operators.png import decode_png

        return decode_png(payload)
    if fmt == "webp":
        from dd_ops_ocr_spark.operators.webp import decode_webp

        return decode_webp(payload)
    raise NotImplementedError(
        f"no native {fmt} decoder; inject one into media_metadata(decoder=...)"
    )


def decode_images_batch(payloads) -> list[np.ndarray]:
    """``[decode_image(p) for p in payloads]``, batched: JPEG payloads
    ride the vectorized multi-lane decoder (operators/jpeg.
    decode_jpeg_batch — pixel-exact and exception-exact vs decode_jpeg,
    test-pinned); every other format decodes per payload. Error behavior
    matches the sequential loop: the first failing payload's exception
    propagates, in payload order."""
    plist = list(payloads)
    out: list = [None] * len(plist)
    jidx = [i for i, p in enumerate(plist) if detect_format(p) == "jpeg"]
    if jidx:
        from dd_ops_ocr_spark.operators.jpeg import decode_jpeg_batch

        for i, r in zip(
            jidx, decode_jpeg_batch([plist[i] for i in jidx])
        ):
            out[i] = r
    for i, p in enumerate(plist):
        r = out[i]
        if r is None:
            out[i] = decode_image(p)
        elif isinstance(r, BaseException):
            raise r
    return out


def _batch_decode_list(payloads, decoder):
    """Batch twin of ``[decoder(p) for p in payloads]`` for the known
    pure decoders (the injection-seam defaults); None when the decoder
    has no batch equivalent, so callers fall back to the loop."""
    if decoder is decode_image:
        return decode_images_batch(payloads)
    from dd_ops_ocr_spark.operators import jpeg as _jpeg

    if decoder is _jpeg.decode_jpeg:
        out = _jpeg.decode_jpeg_batch(list(payloads))
        for r in out:
            if isinstance(r, BaseException):
                raise r
        return out
    return None


def resize_nn(img: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resample to (th, tw)."""
    h, w, _ = img.shape
    ys = np.arange(th) * h // th
    xs = np.arange(tw) * w // tw
    return img[ys][:, xs]


def ahash64(img: np.ndarray) -> int:
    """Real 64-bit average hash: 8x8 grayscale downsample, bit = cell >
    mean. Clamped to 63 bits so it fits a Spark LongType."""
    small = resize_nn(img, 8, 8).mean(axis=2)
    bits = (small > small.mean()).reshape(-1).astype(np.uint64)
    val = int(bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64)))
    return val & ((1 << 63) - 1)


def ahash64_cells(img: np.ndarray) -> np.ndarray:
    """The (8, 8, 3) nearest-neighbour cells ``ahash64`` averages, as
    one fancy index indexed [x, y]: C order here is the x-major memory
    order ahash64's ``resize_nn`` leaves its samples in. A batch decoder
    keeps these 192 bytes per image instead of the image."""
    h, w, _ = img.shape
    g = np.arange(8)
    return img[g * h // 8, (g * w // 8)[:, None]]


def ahash64_batch(cells) -> np.ndarray:
    """``[ahash64(im) for im in imgs]`` as an int64 array, from
    ``[ahash64_cells(im) for im in imgs]`` of uint8 RGB images: the
    channel means and thresholds of all of them in one pass each. The
    threshold sums each image's 64 cell means in memory order, x-major
    like ahash64's; summing in another order rounds differently on some
    images and flips bits. ``ahash64`` stays the single-image
    authority."""
    n = len(cells)
    if not n:
        return np.zeros(0, dtype=np.int64)
    stack = np.stack(cells)
    if stack.dtype != np.uint8 or stack.shape[1:] != (8, 8, 3):
        raise ValueError("ahash64_batch takes ahash64_cells of uint8 RGB")
    small = stack.mean(axis=3)
    bits = small > small.reshape(n, 64).mean(axis=1)[:, None, None]
    bits = bits.transpose(0, 2, 1).reshape(n, 64).astype(np.uint64)
    val = bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64))
    return (val & np.uint64((1 << 63) - 1)).astype(np.int64)


# ------------------------------------------------------ payload synthesis

def synth_geometry(media_ref: str) -> tuple[int, int]:
    """Deterministic (w, h) for a synthetic payload, derived via md5 so
    the SAME arithmetic is statable in DuckDB SQL — this is what lets the
    driver hash-check the media queries' dimensions/sizes instead of
    recording them rows-only (md5 exists in both engines; the old mix64
    seed did not)."""
    import hashlib

    hx = hashlib.md5(media_ref.encode()).hexdigest()
    w = 8 + int(hx[:2], 16) % 24
    h = 6 + int(hx[2:4], 16) % 20
    return w, h


def _synth_pixels(media_ref: str) -> np.ndarray:
    seed = mix64(int.from_bytes(media_ref.encode()[:8].ljust(8, b"\0"), "little"))
    w, h = synth_geometry(media_ref)
    idx = np.arange(h * w * 3, dtype=np.uint64)
    vals = idx * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed)
    px = ((vals >> np.uint64(32)) & np.uint64(0xFF)).astype(np.uint8)
    return px.reshape(h, w, 3)


def synth_bmp_payload(media_ref: str) -> bytes:
    """Deterministic small REAL BMP derived from the ref string: the
    image content is synthetic (no image libs to rasterize anything
    else), but the bytes are a spec-correct 24-bit BMP that any decoder
    can open."""
    return encode_bmp(_synth_pixels(media_ref))


def synth_jpeg_payload(media_ref: str) -> bytes:
    """Deterministic small REAL baseline JPEG (4:2:0, q95 — the
    reference's render setting) via the pure-numpy encoder."""
    from dd_ops_ocr_spark.operators.jpeg import encode_jpeg

    return encode_jpeg(_synth_pixels(media_ref), quality=95, subsampling="4:2:0")


def synth_png_payload(media_ref: str) -> bytes:
    """Deterministic small REAL PNG (8-bit truecolor, lossless)."""
    from dd_ops_ocr_spark.operators.png import encode_png

    return encode_png(_synth_pixels(media_ref))


def synth_png_interlaced_payload(media_ref: str) -> bytes:
    """Deterministic Adam7-interlaced PNG — same pixels as
    synth_png_payload, seven-pass byte layout."""
    from dd_ops_ocr_spark.operators.png import encode_png

    return encode_png(_synth_pixels(media_ref), interlace=True)


def synth_webp_payload(media_ref: str) -> bytes:
    """Deterministic small REAL lossless WebP (VP8L literal subset,
    operators/webp.py) — same md5-geometry pixels as every other
    format's synth, so the dims oracle is shared."""
    from dd_ops_ocr_spark.operators.webp import encode_webp_lossless

    return encode_webp_lossless(_synth_pixels(media_ref))


def synth_page_pixels(w: int = 816, h: int = 1056) -> np.ndarray:
    """The canonical deterministic 'document page' image (stripes of
    text-like dark runs on a light ground) used by bench.py's
    single-core codec-rate probes and tests/test_native_codec.py's
    cross-decoder comparisons — ONE definition so the side-by-side
    numbers always measure the same pixels."""
    y, x = np.mgrid[0:h, 0:w]
    page = np.full((h, w), 235, np.uint8)
    page[(y // 40 % 2 == 0) & (x % 13 < 8)] = 40
    return np.repeat(page[:, :, None], 3, axis=2)


def synth_audio_params(media_ref: str) -> tuple[int, int, int, int, int]:
    """Deterministic (rate, n_samples, amplitude, half_period, channels)
    for a synthetic audio clip, md5-derived so every field — and the
    square wave's exact RMS/peak/zero-crossing count — is statable in
    DuckDB (fixtures.media_audio_features_oracle_sql)."""
    import hashlib

    hx = hashlib.md5(media_ref.encode()).hexdigest()
    rate = (8000, 16000, 22050, 44100)[int(hx[6:8], 16) % 4]
    n_samples = 500 + int(hx[8:10], 16) * 7
    amp = 1000 + int(hx[10:12], 16) * 8
    half = 8 + int(hx[12:14], 16) % 24
    channels = 1 + int(hx[14:16], 16) % 2
    return rate, n_samples, amp, half, channels


def synth_wav_payload(media_ref: str) -> bytes:
    """Deterministic REAL PCM WAV: a square wave at md5-derived
    amplitude/period (so RMS == peak == amplitude exactly and the
    sign-flip count is a closed-form integer), replicated across the
    md5-derived channel count."""
    from dd_ops_ocr_spark.operators.audio import encode_wav

    rate, n, amp, half, ch = synth_audio_params(media_ref)
    i = np.arange(n)
    s = np.where((i // half) % 2 == 0, amp, -amp).astype(np.int16)
    return encode_wav(np.repeat(s[:, None], ch, axis=1), rate)


_AUDIO_CODECS = ("pcm16", "pcm24", "float32", "extensible/pcm16")


def synth_audio_codec(media_ref: str) -> str:
    """Deterministic per-ref WAV codec pick for the mixed-codec corpus,
    md5-derived so the same CASE is statable in DuckDB
    (fixtures.media_audio_formats_oracle_sql)."""
    import hashlib

    hx = hashlib.md5(media_ref.encode()).hexdigest()
    return _AUDIO_CODECS[int(hx[16:18], 16) % 4]


def synth_wav_codec_payload(media_ref: str) -> bytes:
    """The synth_wav_payload square wave re-encoded in the md5-chosen
    codec. Every codec here is exact for int16 sources (24-bit stores
    value<<8, float32 stores value/32767 whose rounding error is far
    inside the +-0.5 window, EXTENSIBLE wraps plain PCM16), so all four
    share the closed-form feature arithmetic — the audio analog of the
    image formats sharing one dims oracle."""
    from dd_ops_ocr_spark.operators import audio

    rate, n, amp, half, ch = synth_audio_params(media_ref)
    i = np.arange(n)
    s = np.where((i // half) % 2 == 0, amp, -amp).astype(np.int16)
    stereo = np.repeat(s[:, None], ch, axis=1)
    enc = {
        "pcm16": audio.encode_wav,
        "pcm24": audio.encode_wav_pcm24,
        "float32": audio.encode_wav_float32,
        "extensible/pcm16": audio.encode_wav_extensible,
    }[synth_audio_codec(media_ref)]
    return enc(stereo, rate)


def synth_audio_g711_params(media_ref: str) -> tuple[str, int, int, int]:
    """Deterministic (law, exponent, mantissa, amplitude) for a G.711
    clip. The amplitude is constructed as an EXACT reconstruction level
    of the md5-chosen law — mu-law ((8m+132) << e) - 132, A-law
    16m+8 / (16m+264) << (e-1) — so the lossy 8-bit codec decodes the
    square wave bit-exactly and the closed-form feature arithmetic
    survives companding. m is kept in 1..15: m=0 at e=0 would be a
    zero-amplitude mu-law wave with no sign flips, breaking the shared
    zero-crossing formula."""
    import hashlib

    hx = hashlib.md5(media_ref.encode()).hexdigest()
    law = ("ulaw", "alaw")[int(hx[18:20], 16) % 2]
    e = int(hx[20:22], 16) % 8
    m = 1 + int(hx[22:24], 16) % 15
    if law == "ulaw":
        amp = ((8 * m + 132) << e) - 132
    else:
        amp = (16 * m + 8) if e == 0 else ((16 * m + 264) << (e - 1))
    return law, e, m, amp


def synth_wav_g711_payload(media_ref: str) -> bytes:
    """The square wave of synth_audio_params at a G.711-exact amplitude
    (synth_audio_g711_params), companded through the md5-chosen law."""
    from dd_ops_ocr_spark.operators import audio

    rate, n, _amp, half, ch = synth_audio_params(media_ref)
    law, _e, _m, amp = synth_audio_g711_params(media_ref)
    i = np.arange(n)
    s = np.where((i // half) % 2 == 0, amp, -amp).astype(np.int16)
    stereo = np.repeat(s[:, None], ch, axis=1)
    enc = audio.encode_wav_ulaw if law == "ulaw" else audio.encode_wav_alaw
    return enc(stereo, rate)


def synth_audio_adpcm_params(
    media_ref: str,
) -> tuple[int, int, int, int, int]:
    """Deterministic (rate, block_align, n_blocks, amplitude, channels)
    for an IMA ADPCM clip — md5-derived like synth_audio_params
    (sharing its rate and amplitude nibbles) so the block arithmetic —
    including the per-channel budget block_align/ch that sets
    samples_per_block — is statable in DuckDB."""
    import hashlib

    hx = hashlib.md5(media_ref.encode()).hexdigest()
    rate = (8000, 16000, 22050, 44100)[int(hx[6:8], 16) % 4]
    amp = 1000 + int(hx[10:12], 16) * 8
    block_align = (64, 128, 256)[int(hx[16:18], 16) % 3]
    n_blocks = 2 + int(hx[18:20], 16) % 5
    channels = 1 + int(hx[24:26], 16) % 2
    return rate, block_align, n_blocks, amp, channels


def synth_wav_adpcm_payload(media_ref: str) -> bytes:
    """Deterministic REAL IMA ADPCM WAV that decodes EXACTLY: the signal
    is constant +-amp per block, flipping sign at every block boundary.
    Each block's stored predictor carries its first sample verbatim and
    all in-block differences are zero (nibble 0 at step 7 decodes to
    +0), so the lossy codec reproduces the input bit-for-bit — which
    pins peak == rms == amp and zero_crossings == n_blocks - 1 in
    closed form for the oracle. Stereo clips replicate the wave across
    channels, exercising the 4-byte channel interleave."""
    from dd_ops_ocr_spark.operators.audio import encode_wav_adpcm

    rate, block_align, n_blocks, amp, ch = synth_audio_adpcm_params(
        media_ref
    )
    spb = (block_align // ch - 4) * 2 + 1
    b = np.arange(n_blocks)
    sig = np.repeat(np.where(b % 2 == 0, amp, -amp).astype(np.int16), spb)
    return encode_wav_adpcm(
        np.repeat(sig[:, None], ch, axis=1), rate, block_align=block_align
    )


DELTA_KF_INTERVAL = 3


def synth_avi_delta_payload(media_ref: str) -> bytes:
    """Deterministic inter-frame-coded AVI: the same cyclically
    row-shifted synth frames as synth_avi_payload, but keyframes only
    every DELTA_KF_INTERVAL frames and mod-256 PNG deltas between —
    lossless end to end, so decode must reproduce the shifted pixels
    bit-exactly (pytest) while the keyframe-seek arithmetic is statable
    in DuckDB."""
    from dd_ops_ocr_spark.operators.video import encode_avi_png_delta

    px = _synth_pixels(media_ref)
    frames = [
        np.roll(px, i, axis=0) for i in range(synth_frame_count(media_ref))
    ]
    return encode_avi_png_delta(frames, kf_interval=DELTA_KF_INTERVAL)


def synth_frame_count(media_ref: str) -> int:
    """Deterministic per-ref video frame count in [2, 8], md5-derived
    like synth_geometry so the same arithmetic is statable in DuckDB
    (fixtures.media_video_frames_oracle_sql)."""
    import hashlib

    hx = hashlib.md5(media_ref.encode()).hexdigest()
    return 2 + int(hx[4:6], 16) % 7


def synth_avi_payload(media_ref: str) -> bytes:
    """Deterministic small REAL MJPEG AVI: synth_frame_count(ref) JPEG
    frames (q95 4:4:4 — the synth pixels are high-frequency noise, where
    chroma subsampling would swamp the lossy envelope), frame i = the
    synth pixels cyclically row-shifted by i, in a spec-correct RIFF/AVI
    container (operators/video.py)."""
    from dd_ops_ocr_spark.operators.jpeg import encode_jpeg
    from dd_ops_ocr_spark.operators.video import encode_avi_mjpeg

    px = _synth_pixels(media_ref)
    h, w, _ = px.shape
    frames = [
        encode_jpeg(np.roll(px, i, axis=0), quality=95, subsampling="4:4:4")
        for i in range(synth_frame_count(media_ref))
    ]
    return encode_avi_mjpeg(frames, w, h, fps=10)


# ------------------------------------------------------------- operators

def real_decode_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL metadata extraction: detect the format, decode each payload
    (BMP / JPEG / PNG / lossless WebP, all pure numpy — see
    ``decode_image``), and derive true dimensions plus a real
    average-hash from the pixels."""
    imgs = decode_images_batch(payloads)
    return pd.DataFrame(
        {
            "n_bytes": np.asarray([len(p) for p in payloads], dtype=np.int64),
            "format": np.asarray(
                [detect_format(p) for p in payloads], dtype=object
            ),
            "width": np.asarray([im.shape[1] for im in imgs], dtype=np.int32),
            "height": np.asarray([im.shape[0] for im in imgs], dtype=np.int32),
            "phash": ahash64_batch([ahash64_cells(im) for im in imgs]),
        }
    )


def media_metadata(
    media_df: DataFrame,
    decoder: Callable[[pd.Series], pd.DataFrame] = real_decode_batch,
) -> DataFrame:
    """(media_ref, payload:binary) -> typed metadata via mapInPandas.

    The decode is per-Arrow-batch; at scale this is the standard shape
    for feature extraction / resize / frame-sample UDFs: binary in,
    struct out, no shuffle. Default decoder is the REAL BMP path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = decoder(pdf["payload"])
            meta.insert(0, "media_ref", pdf["media_ref"].to_numpy())
            yield meta

    return media_df.mapInPandas(run, schema=MEDIA_META_DDL)


def media_metadata_quarantined(
    media_df: DataFrame,
    decoder: Callable[[pd.Series], pd.DataFrame] = real_decode_batch,
) -> DataFrame:
    """media_metadata with warn-and-continue semantics (the reference's
    X1 posture, applied to media): a corrupt payload must never kill a
    100 TB task. Optimistic two-tier decode — the whole Arrow batch goes
    through ``decoder`` first (clean batches pay zero overhead over
    media_metadata), and only a failing batch falls back to per-row
    decode, where each failure becomes a quarantine row (null metrics +
    the exception class/message in ``error``) instead of a task failure.
    Cost honesty: a failing batch re-decodes the rows the batch pass got
    through before raising (sequential decoders stop at the first bad
    payload, so that's ~1/corruption-rate rows, not the whole batch).

    Quarantine is for PER-PAYLOAD corruption only, discriminated by
    exception CLASS (see DECODE_ERRORS): decoder infrastructure
    breakage (a missing native lib, an import error — RuntimeError and
    friends) propagates on the FIRST failing payload instead of being
    quarantined, because silently quarantining the corpus behind a
    broken decoder would be data loss wearing a success status. Format
    detection is header-only, so even quarantined rows keep their
    sniffed format for triage aggregations."""

    cols = ["n_bytes", "format", "width", "height", "phash"]

    def per_payload(r, p) -> list[dict]:
        m = decoder(pd.Series([p]))
        return [
            {"media_ref": r}
            | {c: m[c].iloc[0] for c in cols}
            | {"error": None}
        ]

    def null_row(r, p, exc) -> dict:
        return {
            "media_ref": r,
            "n_bytes": len(p),
            "format": detect_format(p),
            "width": None,
            "height": None,
            "phash": None,
            "error": f"{type(exc).__name__}: {exc}",
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                meta = decoder(pdf["payload"])  # whole-batch fast path
                meta["error"] = None
                meta.insert(0, "media_ref", pdf["media_ref"].to_numpy())
                yield meta
                continue
            except DECODE_ERRORS:
                pass  # some payload is bad — per-row fallback below
            rows = _quarantine_scan(
                pdf["media_ref"], pdf["payload"], per_payload, null_row
            )
            out = pd.DataFrame(rows, columns=["media_ref", *cols, "error"])
            out["width"] = out["width"].astype("Int32")
            out["height"] = out["height"].astype("Int32")
            out["phash"] = out["phash"].astype("Int64")
            yield out

    return media_df.mapInPandas(run, schema=MEDIA_META_DDL + ", error string")


def media_resize(
    media_df: DataFrame,
    target_w: int = 1024,
    target_h: int = 1280,
    decoder: Callable[[bytes], np.ndarray] = decode_image,
    encoder: Callable[[np.ndarray], bytes] = encode_bmp,
) -> DataFrame:
    """(media_ref, payload) -> resized payload + dims, Arrow-batched:
    REAL decode -> nearest-neighbor resample -> re-encode. The
    reference's equivalent is the 2x re-render + scaled-DPI path
    (step2/02_image_reprocessor.py:68-133).

    ``decoder``/``encoder`` are the same injection seam as
    media_metadata(decoder=...): defaults are the dependency-free numpy
    codecs; production injects the native libjpeg pair
    (native.decode_jpeg_native / native.encode_jpeg_native) so the bulk
    media path never runs Python-side entropy coding."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = _batch_decode_list(pdf["payload"], decoder)
            if imgs is None:
                imgs = [decoder(p) for p in pdf["payload"]]
            out_payload = [
                encoder(resize_nn(img, target_w, target_h))
                for img in imgs
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"].to_numpy(),
                    "payload": out_payload,
                    "width": np.full(len(pdf), target_w, dtype=np.int32),
                    "height": np.full(len(pdf), target_h, dtype=np.int32),
                }
            )

    return media_df.mapInPandas(
        run, schema="media_ref string, payload binary, width int, height int"
    )


def media_frame_sample(
    media_df: DataFrame,
    n_frames: int = 4,
    decoder: Callable[[bytes], np.ndarray] = decode_image,
    encoder: Callable[[np.ndarray], bytes] = encode_bmp,
) -> DataFrame:
    """Video-style frame sampling: one binary payload -> n_frames rows of
    (frame_idx, frame payload). One-to-many Arrow-batched expansion — the
    multimodal analogue of posexplode. A real deployment plugs pyAV/
    ffmpeg in here; without a video codec, each "frame" is the REAL
    decoded image cyclically row-shifted by the frame index and
    re-encoded (deterministic, and every frame is a valid image).
    ``decoder``/``encoder`` are the same injection seam as media_resize
    (native libjpeg pair in production, numpy defaults here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            imgs = _batch_decode_list(pdf["payload"], decoder)
            if imgs is None:
                imgs = [decoder(p) for p in pdf["payload"]]
            refs, idxs, frames = [], [], []
            for r, img in zip(pdf["media_ref"], imgs):
                for i in range(n_frames):
                    refs.append(r)
                    idxs.append(i)
                    frames.append(encoder(np.roll(img, i, axis=0)))
            yield pd.DataFrame(
                {
                    "media_ref": np.asarray(refs, dtype=object),
                    "frame_idx": np.asarray(idxs, dtype=np.int32),
                    "frame": frames,
                }
            )

    return media_df.mapInPandas(
        run, schema="media_ref string, frame_idx int, frame binary"
    )


def media_video_frames(
    media_df: DataFrame,
    n_frames: int = 3,
    decoder: Callable[[bytes], np.ndarray] = decode_image,
) -> DataFrame:
    """REAL video frame sampling over MJPEG-AVI payloads: walk the RIFF
    container (operators/video.py — pure struct parsing, no pixel work),
    pick ``n_frames`` evenly spaced frames, and decode ONLY those. That
    selectivity is the 100 TB design point: a video corpus at scale is
    dominated by pixel decode, so the container walk (O(bytes memcpy))
    enumerates frames and the expensive decode touches k of n_src.

    One-to-many Arrow-batched expansion like media_frame_sample, but the
    frames are genuinely distinct images from the container, not
    synthetic shifts. ``decoder`` is the usual injection seam (the
    native libjpeg shim decodes MJPEG frames unchanged — MJPEG *is*
    baseline JPEG per frame). Emits per sampled frame: its output
    position, the source frame index chosen, the container's total
    frame count, the decoded dimensions, and the frame payload."""
    from dd_ops_ocr_spark.operators.video import avi_frames, sample_indices

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # container walk first (cheap struct parsing), then ONE
            # batch decode over every sampled frame of the whole Arrow
            # batch — frames are where the pixel work is, so they get
            # the multi-lane decoder's full width. Errors surface in the
            # order of the loop "walk payload, decode its frames": the
            # walk stops at the first corrupt container, the frames of
            # the payloads before it decode (raising the first bad
            # frame), and only then does the walk error propagate.
            refs, fidx, sidx, nsrc, frames = [], [], [], [], []
            walk_error = None
            for r, p in zip(pdf["media_ref"], pdf["payload"]):
                try:
                    payload_frames = avi_frames(p)
                except Exception as exc:
                    walk_error = exc
                    break
                n = len(payload_frames)
                for i, src in enumerate(sample_indices(n, n_frames)):
                    refs.append(r)
                    fidx.append(i)
                    sidx.append(src)
                    nsrc.append(n)
                    frames.append(payload_frames[src])
            imgs = _batch_decode_list(frames, decoder)
            if imgs is None:
                imgs = [decoder(f) for f in frames]
            if walk_error is not None:
                raise walk_error
            hs = [img.shape[0] for img in imgs]
            ws = [img.shape[1] for img in imgs]
            yield pd.DataFrame(
                {
                    "media_ref": np.asarray(refs, dtype=object),
                    "frame_idx": np.asarray(fidx, dtype=np.int32),
                    "src_idx": np.asarray(sidx, dtype=np.int32),
                    "n_src_frames": np.asarray(nsrc, dtype=np.int32),
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                    "frame": frames,
                }
            )

    return media_df.mapInPandas(
        run,
        schema=(
            "media_ref string, frame_idx int, src_idx int, "
            "n_src_frames int, width int, height int, frame binary"
        ),
    )


def media_video_frames_quarantined(
    media_df: DataFrame,
    n_frames: int = 3,
    decoder: Callable[[bytes], np.ndarray] = decode_image,
) -> DataFrame:
    """media_video_frames with warn-and-continue semantics (the
    reference's X1 posture applied to video): a corrupt container or a
    corrupt frame inside it must never kill a 100 TB task. Unlike
    media_metadata_quarantined there is no batch-level fast path to
    protect — the container walk is already per-payload — so each
    payload runs inside its own guard, and its frame rows are buffered
    until the WHOLE container succeeds: a failure after k good frames
    emits one quarantine row (null frame columns + the exception
    class/message in ``error``) instead of k orphan rows plus an error,
    preserving one-row-per-source accounting for triage aggregations.
    Failure discrimination matches the metadata operator: DECODE_ERRORS
    quarantine per payload (clustered corruption never kills the task),
    infrastructure errors propagate on the first failing payload."""
    from dd_ops_ocr_spark.operators.video import avi_frames, sample_indices

    int_cols = ("frame_idx", "src_idx", "n_src_frames", "width", "height")

    def per_payload(r, p) -> list[dict]:
        payload_frames = avi_frames(p)
        n = len(payload_frames)
        if n == 0:
            # a structurally VALID container with zero frame chunks:
            # without this the source emits neither frame rows nor a
            # quarantine row and vanishes from the one-row-per-source
            # accounting the docstring promises
            return [{
                "media_ref": r,
                "frame_idx": None,
                "src_idx": None,
                "n_src_frames": 0,
                "width": None,
                "height": None,
                "frame": None,
                "error": "ValueError: AVI contains no frame chunks",
            }]
        prows = []
        for i, src in enumerate(sample_indices(n, n_frames)):
            img = decoder(payload_frames[src])
            prows.append(
                {
                    "media_ref": r,
                    "frame_idx": i,
                    "src_idx": src,
                    "n_src_frames": n,
                    "width": img.shape[1],
                    "height": img.shape[0],
                    "frame": payload_frames[src],
                    "error": None,
                }
            )
        return prows

    def null_row(r, p, exc) -> dict:
        return {
            "media_ref": r,
            **{c: None for c in int_cols},
            "frame": None,
            "error": f"{type(exc).__name__}: {exc}",
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = _quarantine_scan(
                pdf["media_ref"], pdf["payload"], per_payload, null_row
            )
            out = pd.DataFrame(
                rows, columns=["media_ref", *int_cols, "frame", "error"]
            )
            for c in int_cols:
                out[c] = out[c].astype("Int32")
            yield out

    return media_df.mapInPandas(
        run,
        schema=(
            "media_ref string, frame_idx int, src_idx int, "
            "n_src_frames int, width int, height int, frame binary, "
            "error string"
        ),
    )


def media_audio_features_quarantined(media_df: DataFrame) -> DataFrame:
    """media_audio_features with warn-and-continue semantics: a corrupt
    clip becomes one quarantine row (null features + the exception in
    ``error``); infrastructure errors propagate per the DECODE_ERRORS
    contract shared by every quarantine operator."""
    from dd_ops_ocr_spark.operators.audio import audio_features

    feat_cols = (
        "sample_rate", "n_channels", "n_samples", "duration_ms",
        "peak", "rms", "zero_crossings",
    )

    def per_payload(r, p) -> list[dict]:
        return [{"media_ref": r, **audio_features(p), "error": None}]

    def null_row(r, p, exc) -> dict:
        return {
            "media_ref": r,
            **{c: None for c in feat_cols},
            "error": f"{type(exc).__name__}: {exc}",
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = _quarantine_scan(
                pdf["media_ref"], pdf["payload"], per_payload, null_row
            )
            out = pd.DataFrame(
                rows, columns=["media_ref", *feat_cols, "error"]
            )
            for c in feat_cols:
                out[c] = out[c].astype("Int32")
            yield out

    return media_df.mapInPandas(
        run,
        schema=(
            "media_ref string, sample_rate int, n_channels int, "
            "n_samples int, duration_ms int, peak int, rms int, "
            "zero_crossings int, error string"
        ),
    )


def media_audio_features(media_df: DataFrame) -> DataFrame:
    """Audio feature extraction over PCM WAV payloads: decode the RIFF
    container (operators/audio.py) and reduce each clip to typed
    metadata — geometry (rate/channels/samples/duration) plus channel-0
    signal statistics (peak, RMS, zero-crossing count). Arrow-batched
    mapInPandas like every media operator; all outputs are integers so
    the reduction is bit-deterministic across hosts and the whole
    surface hash-checks against the md5 oracle. The decode-and-reduce
    shape (never materialize raw samples into the plan) is the 100 TB
    point: features are ~30 bytes/row out of ~100 KB/row in."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dd_ops_ocr_spark.operators.audio import audio_features

        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = [audio_features(p) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_ref", pdf["media_ref"].to_numpy())
            yield out.astype(
                {c: np.int32 for c in out.columns if c != "media_ref"}
            )

    return media_df.mapInPandas(
        run,
        schema=(
            "media_ref string, sample_rate int, n_channels int, "
            "n_samples int, duration_ms int, peak int, rms int, "
            "zero_crossings int"
        ),
    )


def media_video_delta_frames(
    media_df: DataFrame, n_frames: int = 3
) -> DataFrame:
    """Frame sampling over INTER-FRAME-coded AVI (PNG keyframes +
    mod-256 PNG deltas): resolve each sampled frame to its governing
    keyframe through the idx1 AVIIF_KEYFRAME flags, decode the keyframe,
    and accumulate deltas forward. The scale property this buys: work
    per sampled frame is bounded by the keyframe interval, never by the
    sample's position in the stream — the same reason seeking a 2-hour
    H.264 file is O(GOP), not O(file). Emits the keyframe index actually
    used, so the oracle hash-checks the seek logic itself."""
    from dd_ops_ocr_spark.operators.video import (
        avi_geometry,
        decode_sampled_delta_frames,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            refs, fidx, sidx, kidx, nsrc, ws, hs = [], [], [], [], [], [], []
            for r, p in zip(pdf["media_ref"], pdf["payload"]):
                geo = avi_geometry(p)
                n = geo[2]
                for i, (src, key, px) in enumerate(
                    decode_sampled_delta_frames(p, n_frames, geometry=geo)
                ):
                    refs.append(r)
                    fidx.append(i)
                    sidx.append(src)
                    kidx.append(key)
                    nsrc.append(n)
                    hs.append(px.shape[0])
                    ws.append(px.shape[1])
            yield pd.DataFrame(
                {
                    "media_ref": np.asarray(refs, dtype=object),
                    "frame_idx": np.asarray(fidx, dtype=np.int32),
                    "src_idx": np.asarray(sidx, dtype=np.int32),
                    "key_idx": np.asarray(kidx, dtype=np.int32),
                    "n_src_frames": np.asarray(nsrc, dtype=np.int32),
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                }
            )

    return media_df.mapInPandas(
        run,
        schema=(
            "media_ref string, frame_idx int, src_idx int, key_idx int, "
            "n_src_frames int, width int, height int"
        ),
    )


def media_audio_codec_features(media_df: DataFrame) -> DataFrame:
    """media_audio_features plus the parsed container facts (codec
    label including EXTENSIBLE wrapping, samples-per-block geometry) —
    the operator for MIXED-codec audio corpora, where the byte-level
    format dispatch itself is part of the checkable surface. Same
    Arrow-batched decode-and-reduce shape: features out, samples never
    materialized into the plan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dd_ops_ocr_spark.operators.audio import (
            audio_codec_features_batch,
        )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = audio_codec_features_batch(list(pdf["payload"]))
            out = pd.DataFrame(feats)
            out.insert(0, "media_ref", pdf["media_ref"].to_numpy())
            ints = [c for c in out.columns if c not in ("media_ref", "codec")]
            yield out.astype({c: np.int32 for c in ints})

    return media_df.mapInPandas(
        run,
        schema=(
            "media_ref string, codec string, samples_per_block int, "
            "sample_rate int, n_channels int, n_samples int, "
            "duration_ms int, peak int, rms int, zero_crossings int"
        ),
    )


def _media_with_payload(
    spark: SparkSession, sf_dir: str, fmt: str = "bmp"
) -> DataFrame:
    from dd_ops_ocr_spark import corpus

    spans = corpus.build_spans_df_cached(spark, sf_dir)
    media = (
        spans.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
    )
    if fmt == "jpeg_progressive":
        # pure-numpy progressive encoder: deterministic on every worker,
        # no shim probe needed (jpeg.py encodes AND decodes SOF2 now;
        # the native shim remains the production fast path)
        def synth(ref: str) -> bytes:
            from dd_ops_ocr_spark.operators.jpeg import (
                encode_jpeg_progressive,
            )

            return encode_jpeg_progressive(
                _synth_pixels(ref), quality=95, subsampling="4:2:0"
            )
    else:
        synth = {
            "jpeg": synth_jpeg_payload,
            "png": synth_png_payload,
            "png_interlaced": synth_png_interlaced_payload,
            "avi": synth_avi_payload,
            "avi_delta": synth_avi_delta_payload,
            "wav": synth_wav_payload,
            "wav_multi": synth_wav_codec_payload,
            "wav_adpcm": synth_wav_adpcm_payload,
            "wav_g711": synth_wav_g711_payload,
            "webp": synth_webp_payload,
        }.get(fmt, synth_bmp_payload)

    def add_payload(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [synth(r) for r in pdf["media_ref"]]
            yield pdf

    return media.mapInPandas(
        add_payload, schema="media_ref string, payload binary"
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: synthesize real BMP payloads from the corpus
    generator's media spans, run the REAL decode path, and emit the
    SQL-statable surface (ref, format, byte size, true decoded
    dimensions — all derivable from the md5 geometry, so the driver
    hash-checks them). The pixel hash (phash) is not SQL-expressible and
    is verified by pytest (test_media_metadata_plumbing)."""
    out = media_metadata(_media_with_payload(spark, sf_dir))
    return out.select("media_ref", "format", "n_bytes", "width", "height")


def q_media_metadata_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same metadata path over REAL baseline-JPEG payloads (q95 4:2:0 —
    the reference's render setting): the decoder must recover the true
    dimensions, which the oracle re-derives from the md5 geometry. JPEG
    byte size depends on entropy coding and is checked by pytest, not
    SQL."""
    out = media_metadata(_media_with_payload(spark, sf_dir, fmt="jpeg"))
    return out.select("media_ref", "format", "width", "height")


def q_media_metadata_jpeg_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_media_metadata_jpeg surface driven through the NATIVE codec
    injection seam (native/jpegshim.c via ctypes — libjpeg-turbo, ~100x
    the pure-numpy decode rate, bench.py media block): same payloads,
    same oracle (the true md5-geometry dimensions are decoder-independent,
    so a hash-match proves the native decoder recovers them too). Falls
    back to the pure-numpy decoder when no toolchain/libjpeg exists —
    probed PER WORKER (native_decode_batch_or_numpy), not on the driver,
    so the query stays runnable on any host and on heterogeneous
    clusters where only some machines carry the shim."""
    from dd_ops_ocr_spark import native

    out = media_metadata(_media_with_payload(spark, sf_dir, fmt="jpeg"),
                         decoder=native.native_decode_batch_or_numpy)
    return out.select("media_ref", "format", "width", "height")


def q_media_metadata_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The metadata path over PROGRESSIVE JPEG payloads. The pure-numpy
    codec covers SOF2 in BOTH directions now (encode_jpeg_progressive /
    _decode_progressive_scan, each bit-identical to the baseline path
    on the same coefficients), so every worker synthesizes genuinely
    progressive bytes with no shim probe; decode still prefers the
    native shim per worker when present. The dims oracle is shared with
    the baseline-JPEG query (progressive reorders coefficients, never
    re-quantizes)."""
    from dd_ops_ocr_spark import native

    out = media_metadata(
        _media_with_payload(spark, sf_dir, fmt="jpeg_progressive"),
        decoder=native.native_decode_batch_or_numpy,
    )
    return out.select("media_ref", "format", "width", "height")


def q_media_metadata_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same metadata path over REAL PNG payloads (stdlib-zlib codec,
    operators/png.py): lossless, so beyond the oracle-checked dimensions
    the pytest also asserts pixel-exact round-trip. Byte size depends on
    the deflate stream and stays out of the SQL oracle."""
    out = media_metadata(_media_with_payload(spark, sf_dir, fmt="png"))
    return out.select("media_ref", "format", "width", "height")


def q_media_metadata_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same metadata path over REAL lossless WebP payloads (VP8L literal
    subset, operators/webp.py): the decoder must recover the true
    md5-geometry dimensions, shared with the other formats' dims
    oracle. Byte size depends on the prefix-code framing and stays out
    of the SQL oracle; lossless round-trip (pure->pure AND pure->
    libwebp) is pytest-verified (tests/test_webp.py)."""
    out = media_metadata(_media_with_payload(spark, sf_dir, fmt="webp"))
    return out.select("media_ref", "format", "width", "height")


def q_media_metadata_webp_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_media_metadata_webp surface driven through the NATIVE
    libwebp binding (native/webp.py, ctypes over the stock shared
    library — no compile step): same payloads, same decoder-independent
    dims oracle, so a hash-match proves libwebp recovers the same
    geometry the pure VP8L decoder does. Workers without libwebp
    degrade per-payload to the pure decoder inside
    native.native_decode_batch_or_numpy, keeping the query runnable on
    heterogeneous clusters."""
    from dd_ops_ocr_spark import native

    out = media_metadata(_media_with_payload(spark, sf_dir, fmt="webp"),
                         decoder=native.native_decode_batch_or_numpy)
    return out.select("media_ref", "format", "width", "height")


def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: synthesize REAL MJPEG-AVI payloads (2-8 md5-seeded
    JPEG frames each), walk the container, sample 3 frames evenly, and
    decode only those. SQL-statable surface: which source frames get
    picked (the integer round-half-up sampling arithmetic), the
    container's frame count, and the decoded dimensions — all
    re-derivable from md5 in DuckDB. Frame payload bytes are
    entropy-coded and pytest-checked instead (test_video.py asserts the
    decoded pixels are the expected row-shifted synth image)."""
    out = media_video_frames(_media_with_payload(spark, sf_dir, fmt="avi"))
    return out.select(
        "media_ref", "frame_idx", "src_idx", "n_src_frames", "width", "height"
    )


def q_media_metadata_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for the warn-and-continue media path: payloads whose
    md5 leading nibble is '0' (~1/16 of the corpus) are truncated to 10
    bytes IN SPARK SQL (so the corruption rule is restatable in DuckDB),
    then decoded through media_metadata_quarantined. Good rows carry the
    md5-geometry dims; corrupt rows carry the sniffed format, the
    truncated byte count, null dims, and ok=false — all statable, so
    the driver hash-checks that quarantine fires on exactly the right
    rows and nothing else degrades."""
    media = _corrupt_md5_nibble0(_media_with_payload(spark, sf_dir))
    out = media_metadata_quarantined(media)
    return out.select(
        "media_ref", "format", "n_bytes", "width", "height",
        F.col("error").isNull().alias("ok"),
    )


def _corrupt_md5_nibble0(media: DataFrame) -> DataFrame:
    """The shared quarantine-query corruption rule: payloads whose md5
    leading nibble is '0' (~1/16 of the corpus) are truncated to 10
    bytes IN SPARK SQL, so the exact quarantine boundary is restatable
    in DuckDB."""
    corrupt = F.substring(F.md5(F.col("media_ref")), 1, 1) == F.lit("0")
    return media.withColumn(
        "payload",
        F.when(corrupt, F.expr("substring(payload, 1, 10)"))
        .otherwise(F.col("payload")),
    )


def q_media_video_frames_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warn-and-continue over MJPEG-AVI containers: md5-nibble-0 payloads
    are truncated in Spark SQL (the RIFF walk then fails), so the oracle
    states exactly which refs collapse to a single null-frame quarantine
    row (ok=false) and which emit their normal sampled-frame rows —
    the whole surface hash-checks."""
    media = _corrupt_md5_nibble0(_media_with_payload(spark, sf_dir, fmt="avi"))
    out = media_video_frames_quarantined(media)
    return out.select(
        "media_ref", "frame_idx", "src_idx", "n_src_frames",
        "width", "height", F.col("error").isNull().alias("ok"),
    )


def q_media_audio_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warn-and-continue over PCM WAV clips: corrupt (truncated) clips
    carry null features + ok=false, clean clips the exact closed-form
    md5 feature surface — both statable, so the driver hash-checks the
    quarantine boundary and that nothing else degrades."""
    media = _corrupt_md5_nibble0(_media_with_payload(spark, sf_dir, fmt="wav"))
    out = media_audio_features_quarantined(media)
    return out.select(
        "media_ref", "sample_rate", "n_channels", "n_samples",
        "duration_ms", "peak", "rms", "zero_crossings",
        F.col("error").isNull().alias("ok"),
    )


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: synthesize REAL PCM WAV payloads (md5-seeded square
    waves) and run the decode-and-reduce path. Every output column is an
    integer with a closed-form md5 twin in DuckDB — including RMS and
    the zero-crossing count, which the square-wave synthesis pins
    exactly — so the driver hash-checks the entire feature surface."""
    out = media_audio_features(_media_with_payload(spark, sf_dir, fmt="wav"))
    return out.select(
        "media_ref", "sample_rate", "n_channels", "n_samples",
        "duration_ms", "peak", "rms", "zero_crossings",
    )


def q_media_video_delta_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query over inter-frame-coded AVIs (PNG keyframes every
    DELTA_KF_INTERVAL, mod-256 PNG deltas between): sample 3 frames,
    seek each to its governing keyframe via the idx1 flags, accumulate
    deltas. SQL-statable surface: the sampling arithmetic (shared with
    media_video_frames), the keyframe index the seek must land on
    (src_idx - src_idx % interval), and the decoded dimensions. The
    reconstructed pixels are bit-exact vs the shifted synth frames —
    pytest-verified (test_video.py)."""
    out = media_video_delta_frames(
        _media_with_payload(spark, sf_dir, fmt="avi_delta")
    )
    return out.select(
        "media_ref", "frame_idx", "src_idx", "key_idx", "n_src_frames",
        "width", "height",
    )


def q_media_audio_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query over a MIXED-codec WAV corpus: each ref's square
    wave is encoded in its md5-chosen codec (16/24-bit PCM, IEEE
    float32, EXTENSIBLE-wrapped PCM16 — all exact for int16 sources),
    decoded through the format-dispatching container parser, and
    reduced to codec label + features. The oracle restates the codec
    CASE and the shared closed-form feature arithmetic, so a hash match
    proves the byte-level dispatch AND every decoder's sample-exactness
    at once."""
    out = media_audio_codec_features(
        _media_with_payload(spark, sf_dir, fmt="wav_multi")
    )
    return out.select(
        "media_ref", "codec", "sample_rate", "n_channels", "n_samples",
        "duration_ms", "peak", "rms", "zero_crossings",
    )


def q_media_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query over IMA ADPCM clips built to decode EXACTLY (see
    synth_wav_adpcm_payload): constant +-amp per block, sign flipping at
    block boundaries. The statable surface covers the compressed
    format's real arithmetic — samples_per_block from block_align, the
    fact-chunk sample count, duration, and the exact feature triple
    (peak == rms == amp, zero_crossings == n_blocks - 1)."""
    out = media_audio_codec_features(
        _media_with_payload(spark, sf_dir, fmt="wav_adpcm")
    )
    return out.select(
        "media_ref", "codec", "samples_per_block", "sample_rate",
        "n_channels", "n_samples", "duration_ms", "peak", "rms",
        "zero_crossings",
    )


def q_media_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query over G.711 telephony clips: each ref's square wave
    rides at an amplitude that IS a reconstruction level of its
    md5-chosen law (synth_audio_g711_params), so the 8-bit logarithmic
    codec — mu-law's biased inverted byte, A-law's XOR-0x55 segments —
    decodes it bit-exactly and the closed-form features survive the
    compander. The oracle restates the level arithmetic itself, so a
    hash match proves the segment/mantissa construction in BOTH
    directions, not just the container plumbing."""
    out = media_audio_codec_features(
        _media_with_payload(spark, sf_dir, fmt="wav_g711")
    )
    return out.select(
        "media_ref", "codec", "sample_rate", "n_channels", "n_samples",
        "duration_ms", "peak", "rms", "zero_crossings",
    )


def q_media_metadata_png_interlaced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The metadata path over Adam7-INTERLACED PNG payloads — the PNG
    codec's last documented seam (operators/png.py decodes the seven
    independently filtered sub-images and scatters them back on the
    pass grid). Same pixels as media_metadata_png, different byte
    layout, so the dims oracle is shared; lossless round-trip is
    pytest-verified (test_png_adam7_roundtrip_exact)."""
    out = media_metadata(_media_with_payload(spark, sf_dir, fmt="png_interlaced"))
    return out.select("media_ref", "format", "width", "height")


RESIZE_W, RESIZE_H = 16, 20  # small target keeps the sf0.01 query light


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = media_resize(
        _media_with_payload(spark, sf_dir), target_w=RESIZE_W, target_h=RESIZE_H
    )
    return out.select(
        "media_ref", "width", "height",
        F.length("payload").cast("long").alias("payload_bytes"),
    )


def q_media_resize_native_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_resize over REAL JPEG payloads with the DCT-domain scaled
    decoder injected: libjpeg reconstructs only ceil(dim*M/8) pixels per
    axis (native.scaled_resize_decoder picks the coarsest M that still
    covers the resize target), so the resample never sees the full pixel
    grid — at 100 TB of page images this decodes ~1-2% of the pixels the
    full-decode path touches. Output geometry and payload bytes are
    decoder-independent (every rung yields >= target pixels for the NN
    pass to reduce), so the query shares media_resize's oracle; workers
    without the shim degrade to pure-numpy full decode, same output."""
    from dd_ops_ocr_spark import native

    out = media_resize(
        _media_with_payload(spark, sf_dir, fmt="jpeg"),
        target_w=RESIZE_W,
        target_h=RESIZE_H,
        decoder=native.scaled_resize_decoder(RESIZE_W, RESIZE_H),
    )
    return out.select(
        "media_ref", "width", "height",
        F.length("payload").cast("long").alias("payload_bytes"),
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = media_frame_sample(_media_with_payload(spark, sf_dir))
    return out.select(
        "media_ref", "frame_idx",
        F.length("frame").cast("long").alias("frame_bytes"),
    )


QUERIES = {
    "media_metadata": q_media_metadata,
    "media_metadata_jpeg": q_media_metadata_jpeg,
    "media_metadata_jpeg_native": q_media_metadata_jpeg_native,
    "media_metadata_jpeg_progressive": q_media_metadata_jpeg_progressive,
    "media_metadata_png": q_media_metadata_png,
    "media_metadata_png_interlaced": q_media_metadata_png_interlaced,
    "media_metadata_webp": q_media_metadata_webp,
    "media_metadata_webp_native": q_media_metadata_webp_native,
    "media_resize": q_media_resize,
    "media_resize_native_scaled": q_media_resize_native_scaled,
    "media_frame_sample": q_media_frame_sample,
    "media_video_frames": q_media_video_frames,
    "media_video_delta_frames": q_media_video_delta_frames,
    "media_video_frames_quarantine": q_media_video_frames_quarantine,
    "media_audio_features": q_media_audio_features,
    "media_audio_formats": q_media_audio_formats,
    "media_audio_adpcm": q_media_audio_adpcm,
    "media_audio_g711": q_media_audio_g711,
    "media_audio_quarantine": q_media_audio_quarantine,
    "media_metadata_quarantine": q_media_metadata_quarantine,
}
# SQL oracles for these need the materialized spans fixture path —
# registered by registry.register_flagship_oracles via fixtures.py.
ORACLE_SQL: dict[str, str] = {}
