"""Native codec bindings for the multimodal injection seam.

``operators/multimodal.py`` keeps a pure-numpy JPEG/PNG codec as the
dependency-free default; this module provides the PRODUCTION path the
seam was designed for: libjpeg(-turbo) driven through a ~150-line C shim
(``jpegshim.c``) and ctypes — ~20x the pure-numpy decode rate, measured
side-by-side in bench.py's ``media`` block.

Deployment model
----------------
* The shim compiles on demand (gcc + libjpeg-dev, both stock on the
  build hosts) into ``_jpegshim_v{ABI}.so`` next to this file; the
  build is atomic (compile to a pid-suffixed temp, ``os.rename``) so
  concurrent executors on one host cannot race. The artifact name
  carries the ABI version because dlopen caches by path string — a
  same-path rebuild in a process that already loaded the old .so would
  silently keep the stale handle.
* On a real cluster, build once and ship the ``.so`` with
  ``spark-submit --files _jpegshim_v3.so``; the loader checks the
  task's working directory before attempting a local compile, so
  executors without a toolchain still work (an old-ABI artifact under
  the legacy unversioned name is accepted last, with the optional
  newer entry points degraded).
* ``available()`` is the capability probe: every consumer (tests, bench,
  the injected batch decoder) degrades to the pure-numpy codec when the
  shim cannot load, so the library never hard-requires a native lib.

Reference: the payloads this decodes are the q95 page renders of
src/modules/step1/03_image_converter.py:42-57.
"""

from __future__ import annotations

import ctypes
import os
import subprocess
import tempfile

import numpy as np

_HERE = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_HERE, "jpegshim.c")

ABI_VERSION = 3  # keep in sync with ddops_abi_version() in jpegshim.c

# The build artifact is named by ABI version: dlopen caches loaded
# libraries by PATH STRING, so recompiling over the same filename in a
# process that already loaded the old one silently returns the stale
# handle. A new ABI means a new filename — never a same-path reload.
_SO_NAME = f"_jpegshim_v{ABI_VERSION}.so"
_SO_LEGACY = "_jpegshim.so"  # pre-versioning artifact: baseline-only ABI

_lib = None
_load_error: str | None = None


def _compile_shim(target: str) -> None:
    """gcc-compile the shim atomically (temp + rename): concurrent
    builders each produce a complete .so and the last rename wins."""
    fd, tmp = tempfile.mkstemp(
        suffix=".so", prefix="_jpegshim_build_", dir=os.path.dirname(target)
    )
    os.close(fd)
    try:
        subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", "-o", tmp, _SRC, "-ljpeg"],
            check=True,
            capture_output=True,
            text=True,
        )
        os.rename(tmp, target)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _abi_of(lib: ctypes.CDLL) -> int:
    """0 for a v1 .so (predates the version export)."""
    try:
        fn = lib.ddops_abi_version
    except AttributeError:
        return 0
    fn.restype = ctypes.c_int
    fn.argtypes = []
    return int(fn())


def _bind(lib: ctypes.CDLL) -> ctypes.CDLL:
    lib.ddops_jpeg_header.restype = ctypes.c_int
    lib.ddops_jpeg_header.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.c_int),
    ]
    lib.ddops_jpeg_decode_rgb.restype = ctypes.c_int
    lib.ddops_jpeg_decode_rgb.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_void_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    lib.ddops_jpeg_encode_rgb.restype = ctypes.c_int
    lib.ddops_jpeg_encode_rgb.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int,
        ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
        ctypes.POINTER(ctypes.c_ulong),
    ]
    lib.ddops_free.restype = None
    lib.ddops_free.argtypes = [ctypes.c_void_p]
    # optional (ABI v2+): progressive encode. A shipped v1 .so still
    # serves baseline decode/encode; only progressive degrades.
    try:
        lib.ddops_jpeg_encode_rgb_prog.restype = ctypes.c_int
        lib.ddops_jpeg_encode_rgb_prog.argtypes = (
            lib.ddops_jpeg_encode_rgb.argtypes
        )
    except AttributeError:
        pass
    # optional (ABI v3+): DCT-domain scaled decode. Older .so degrades
    # to full-scale decode (scaled_resize_decoder falls back).
    try:
        lib.ddops_jpeg_decode_rgb_scaled.restype = ctypes.c_int
        lib.ddops_jpeg_decode_rgb_scaled.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.c_int, ctypes.c_int,
            ctypes.c_void_p, ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ]
    except AttributeError:
        pass
    return lib


def _load() -> ctypes.CDLL | None:
    """Load order: already-loaded -> current-ABI .so in the package dir
    or the task working dir (spark-submit --files lands there) ->
    compile locally -> OLDER versioned .so, newest first, then the
    legacy unversioned name (every post-v1 symbol is optional in _bind,
    so a cluster that shipped _jpegshim_v2.so keeps its 60-120x native
    decode after an ABI bump — only the newer entry points degrade)."""
    global _lib, _load_error
    if _lib is not None:
        return _lib
    if _load_error is not None:
        return None
    dirs = [_HERE, os.getcwd()]
    for path in [os.path.join(d, _SO_NAME) for d in dirs]:
        if os.path.exists(path):
            try:
                _lib = _bind(ctypes.CDLL(path))
                return _lib
            except (OSError, AttributeError):
                # half-shipped, wrong-arch, or symbol-less file (a stale
                # or foreign .so dlopens fine but fails _bind): try next
                continue
    try:
        target = os.path.join(_HERE, _SO_NAME)
        _compile_shim(target)
        _lib = _bind(ctypes.CDLL(target))
        return _lib
    except (OSError, AttributeError, subprocess.CalledProcessError,
            FileNotFoundError) as e:
        older = [f"_jpegshim_v{v}.so" for v in range(ABI_VERSION - 1, 1, -1)]
        for name in older + [_SO_LEGACY]:
            for path in [os.path.join(d, name) for d in dirs]:
                if os.path.exists(path):
                    try:  # no toolchain: run with the older ABI
                        _lib = _bind(ctypes.CDLL(path))
                        return _lib
                    except (OSError, AttributeError):
                        continue
        _load_error = f"{type(e).__name__}: {e}"
        return None


def available() -> bool:
    return _load() is not None


def scaled_decode_available() -> bool:
    """True when the LOADED shim exports the ABI-v3 scaled entry point —
    an accepted older .so serves the baseline codec with this capability
    degraded, and graded consumers (bench rows, tests) must distinguish
    the rungs rather than silently relabel full-decode throughput."""
    lib = _load()
    return lib is not None and hasattr(lib, "ddops_jpeg_decode_rgb_scaled")


def load_error() -> str | None:
    _load()
    return _load_error


MAX_DIM = 32768  # defense against forged headers claiming huge frames


def decode_jpeg_native(payload: bytes) -> np.ndarray:
    """JPEG bytes -> (h, w, 3) uint8 RGB via libjpeg. Same contract as
    operators.jpeg.decode_jpeg (which remains the correctness oracle:
    tests assert the two decoders agree to within IDCT rounding)."""
    lib = _load()
    if lib is None:
        raise RuntimeError(f"native jpeg shim unavailable: {_load_error}")
    w = ctypes.c_int()
    h = ctypes.c_int()
    nc = ctypes.c_int()
    rc = lib.ddops_jpeg_header(payload, len(payload),
                               ctypes.byref(w), ctypes.byref(h),
                               ctypes.byref(nc))
    if rc != 0:
        raise ValueError("not a decodable JPEG payload")
    if not (0 < w.value <= MAX_DIM and 0 < h.value <= MAX_DIM):
        raise ValueError(f"implausible JPEG dimensions {w.value}x{h.value}")
    out = np.empty((h.value, w.value, 3), dtype=np.uint8)
    rc = lib.ddops_jpeg_decode_rgb(
        payload, len(payload),
        out.ctypes.data_as(ctypes.c_void_p), out.nbytes,
        ctypes.byref(w), ctypes.byref(h),
    )
    if rc == -2:
        raise ValueError("JPEG scan dimensions disagree with header")
    if rc != 0:
        # libjpeg longjmp'd: truncated/corrupt scan, or a conversion it
        # refuses (JCS_RGB output from CMYK/YCCK sources raises
        # JERR_CONVERSION_NOTIMPL — CMYK is a documented seam, not
        # auto-converted)
        raise EOFError("truncated, corrupt, or unconvertible JPEG scan")
    return out


_SAMP = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def encode_jpeg_native(
    img: np.ndarray,
    quality: int = 95,
    subsampling: str = "4:2:0",
    progressive: bool = False,
) -> bytes:
    """(h, w, 3) uint8 RGB -> JPEG bytes via libjpeg. Same signature as
    operators.jpeg.encode_jpeg plus ``progressive``: a progressive scan
    script carries the SAME DCT coefficients reordered across scans, so
    it decodes bit-identically to the baseline encoding — this is the
    closure of the pure-numpy decoder's documented progressive seam
    (operators/jpeg.py raises NotImplementedError there; libjpeg decodes
    both transparently)."""
    lib = _load()
    if lib is None:
        raise RuntimeError(f"native jpeg shim unavailable: {_load_error}")
    if progressive and not hasattr(lib, "ddops_jpeg_encode_rgb_prog"):
        raise RuntimeError(
            "loaded jpeg shim predates progressive support (ABI "
            f"{_abi_of(lib)} < 2); rebuild _jpegshim.so"
        )
    hs, vs = _SAMP[subsampling]
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("expected (h, w, 3) RGB")
    buf = ctypes.POINTER(ctypes.c_ubyte)()
    buflen = ctypes.c_ulong()
    fn = (
        lib.ddops_jpeg_encode_rgb_prog
        if progressive
        else lib.ddops_jpeg_encode_rgb
    )
    rc = fn(
        img.ctypes.data_as(ctypes.c_void_p), w, h,
        int(quality), hs, vs, ctypes.byref(buf), ctypes.byref(buflen),
    )
    if rc != 0:
        raise ValueError("JPEG encode failed")
    try:
        return ctypes.string_at(buf, buflen.value)
    finally:
        lib.ddops_free(buf)


def decode_jpeg_native_scaled(
    payload: bytes,
    scale_num: int,
    scale_denom: int = 8,
    src_dims: "tuple[int, int] | None" = None,
) -> np.ndarray:
    """JPEG bytes -> (h', w', 3) uint8 RGB decoded at scale_num/8 of the
    coded size, reconstructed in the DCT domain — the full pixel grid is
    never materialized, so IDCT cost and memory traffic drop with the
    square of the scale. Output dims are ceil(dim * scale_num / 8)
    (jpeg_calc_output_dimensions). libjpeg-turbo supports scale_num
    1..16 over a fixed denominator of 8; this binding keeps the 8."""
    lib = _load()
    if lib is None:
        raise RuntimeError(f"native jpeg shim unavailable: {_load_error}")
    if not hasattr(lib, "ddops_jpeg_decode_rgb_scaled"):
        raise RuntimeError(
            "loaded jpeg shim predates scaled decode (ABI "
            f"{_abi_of(lib)} < 3); rebuild _jpegshim.so"
        )
    if scale_denom != 8 or not (1 <= scale_num <= 16):
        raise ValueError(
            f"unsupported scale {scale_num}/{scale_denom}: libjpeg "
            "accepts M/8 with M in 1..16"
        )
    if src_dims is None:
        w = ctypes.c_int()
        h = ctypes.c_int()
        nc = ctypes.c_int()
        rc = lib.ddops_jpeg_header(payload, len(payload),
                                   ctypes.byref(w), ctypes.byref(h),
                                   ctypes.byref(nc))
        if rc != 0:
            raise ValueError("not a decodable JPEG payload")
        src_w, src_h = w.value, h.value
    else:  # caller already probed the header (hot-path: skip a re-parse)
        src_w, src_h = src_dims
        w = ctypes.c_int()
        h = ctypes.c_int()
    if not (0 < src_w <= MAX_DIM and 0 < src_h <= MAX_DIM):
        raise ValueError(f"implausible JPEG dimensions {src_w}x{src_h}")
    exp_w = (src_w * scale_num + scale_denom - 1) // scale_denom
    exp_h = (src_h * scale_num + scale_denom - 1) // scale_denom
    if exp_w > MAX_DIM or exp_h > MAX_DIM:
        # scale_num > 8 upscales: keep the forged-header allocation cap
        # on the OUTPUT grid too, not just the coded dims
        raise ValueError(
            f"scaled output {exp_w}x{exp_h} exceeds MAX_DIM={MAX_DIM}"
        )
    out = np.empty((exp_h, exp_w, 3), dtype=np.uint8)
    rc = lib.ddops_jpeg_decode_rgb_scaled(
        payload, len(payload), scale_num, scale_denom,
        out.ctypes.data_as(ctypes.c_void_p), out.nbytes,
        ctypes.byref(w), ctypes.byref(h),
    )
    if rc == -2 or (rc == 0 and (h.value, w.value) != (exp_h, exp_w)):
        raise ValueError(
            f"scaled decode produced {w.value}x{h.value}, expected "
            f"{exp_w}x{exp_h} — libjpeg disagreed on the scaled geometry"
        )
    if rc != 0:
        raise EOFError("truncated, corrupt, or unconvertible JPEG scan")
    return out


def pick_dct_scale(w: int, h: int, target_w: int, target_h: int) -> int:
    """Smallest M in 1..8 such that a DCT-domain M/8 decode still covers
    the resample target in BOTH dimensions (ceil(dim*M/8) >= target), so
    the nearest-neighbor pass downsamples — never invents pixels the
    scaled decode dropped. Returns 8 (full decode) when even the full
    image is smaller than the target (the resample then upscales, same
    as the pure-numpy path)."""
    for m in range(1, 8):
        if (w * m + 7) // 8 >= target_w and (h * m + 7) // 8 >= target_h:
            return m
    return 8


def scaled_resize_decoder(target_w: int, target_h: int):
    """Decoder closure for media_resize(decoder=...): per-payload, pick
    the coarsest DCT-domain scale that still covers the resize target
    and decode ONLY that many pixels. Probes run at call time in each
    Python worker (same rationale as native_decode_batch_or_numpy):
    no scaled symbol -> full native decode; no shim at all or a
    non-JPEG payload -> pure-numpy decode. Every rung yields an image
    >= target (or the full image when the source is smaller), so the
    downstream nearest-neighbor resample produces identically-shaped
    output on every rung — the query oracle is decoder-independent."""

    def dec(payload: bytes) -> np.ndarray:
        from dd_ops_ocr_spark.operators.multimodal import (
            decode_image,
            detect_format,
        )

        if detect_format(payload) != "jpeg" or not available():
            return decode_image(payload)
        if not scaled_decode_available():
            return decode_jpeg_native(payload)
        lib = _load()
        w = ctypes.c_int()
        h = ctypes.c_int()
        nc = ctypes.c_int()
        rc = lib.ddops_jpeg_header(payload, len(payload),
                                   ctypes.byref(w), ctypes.byref(h),
                                   ctypes.byref(nc))
        if rc != 0:
            raise ValueError("not a decodable JPEG payload")
        m = pick_dct_scale(w.value, h.value, target_w, target_h)
        if m == 8:
            return decode_jpeg_native(payload)
        try:
            return decode_jpeg_native_scaled(
                payload, m, src_dims=(w.value, h.value)
            )
        except ValueError:
            # a libjpeg built without M/8 scaling (pre-v7 IJG supports
            # only 1/2, 1/4, 1/8) silently rounds the ratio UP to a
            # supported one; the geometry check then rejects the decode.
            # That is a capability gap, not a corrupt payload — take the
            # full-decode rung (a genuinely bad payload fails there too,
            # with the error type the quarantine layers classify).
            return decode_jpeg_native(payload)

    return dec


def native_decode_batch(payloads) -> "pd.DataFrame":  # noqa: F821
    """Injectable batch decoder for media_metadata(decoder=...): the
    PRODUCTION twin of multimodal.real_decode_batch — identical output
    columns, libjpeg for JPEG payloads, libwebp for WebP payloads (each
    probed independently: a host can carry one native codec without the
    other), pure-numpy fallback for everything else (BMP/PNG)."""
    import pandas as pd

    from dd_ops_ocr_spark.native import webp as nwebp
    from dd_ops_ocr_spark.operators.multimodal import (
        ahash64_batch,
        ahash64_cells,
        decode_image,
        detect_format,
    )

    n_bytes, fmts, widths, heights, cells = [], [], [], [], []
    for p in payloads:
        fmt = detect_format(p)
        if fmt == "jpeg" and available():
            img = decode_jpeg_native(p)
        elif fmt == "webp" and nwebp.available():
            img = nwebp.decode_webp_native(p)
        else:
            img = decode_image(p)
        n_bytes.append(len(p))
        fmts.append(fmt)
        heights.append(img.shape[0])
        widths.append(img.shape[1])
        cells.append(ahash64_cells(img))  # the image itself is dropped
    return pd.DataFrame(
        {
            "n_bytes": np.asarray(n_bytes, dtype=np.int64),
            "format": np.asarray(fmts, dtype=object),
            "width": np.asarray(widths, dtype=np.int32),
            "height": np.asarray(heights, dtype=np.int32),
            "phash": ahash64_batch(cells),
        }
    )


def native_decode_batch_or_numpy(payloads) -> "pd.DataFrame":  # noqa: F821
    """native_decode_batch with the availability probes taken IN THE
    CALLING PROCESS: on a heterogeneous cluster the driver may have a
    toolchain/libjpeg/libwebp while an executor does not, so choosing
    the decoder driver-side (``if native.available(): ...``) ships a
    closure that hard-fails in such workers. This wrapper defers the
    probes to first use in each Python worker and degrades that worker
    to the pure-numpy path — same output columns, same oracle-checked
    values, just slower where a native codec can't load. The two codecs
    probe independently (native_decode_batch falls back per format), so
    a libwebp-only host still decodes WebP natively."""
    from dd_ops_ocr_spark.native import webp as nwebp

    if available() or nwebp.available():
        return native_decode_batch(payloads)
    from dd_ops_ocr_spark.operators.multimodal import real_decode_batch

    return real_decode_batch(payloads)
