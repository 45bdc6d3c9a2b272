"""Pure-numpy baseline JPEG codec (no external image libraries).

The reference's page media is JPEG (q95 renders,
reference: src/modules/step1/03_image_converter.py:42-57); this container
has no Pillow/OpenCV, so the multimodal path gets a real, library-free
baseline-JPEG implementation:

  * ``decode_jpeg``  — baseline sequential DCT (SOF0/1) AND progressive
    (SOF2: spectral selection + successive approximation, EOB runs,
    refinement scans), arbitrary Huffman tables from DHT, 4:4:4 / 4:2:2
    / 4:2:0 / grayscale sampling, restart markers, byte-unstuffing.
    Lossless/extended/arithmetic coding raise NotImplementedError.
  * ``encode_jpeg``  — baseline encoder (4:4:4 or 4:2:0), quality-scaled
    Annex-K quantization tables, single-length canonical Huffman tables
    (valid per the spec — DHT carries whatever tables the scan uses, and
    interop decoders read them from the file).
  * ``encode_jpeg_progressive`` — SOF2 encoder (interleaved DC scan +
    one full AC band per component): same quantized coefficients as the
    baseline encoder, so decodes bit-identically to it.
  * ``jpeg_dimensions`` — header-only (SOFn) width/height probe, no
    entropy decode.

The decoder is throughput-shaped: one 16-bit-LUT lookup per Huffman
symbol over a numpy-unstuffed bitstream, coefficients batched into a
single einsum IDCT per component (~4 Mpx/s/core on q95 4:2:0 document
pages — bench.py records the current number). ``decode_jpeg_batch``
decodes many baseline payloads side by side through a run table per
Huffman table: one ``searchsorted`` of the 16-bit peeks finds each
payload's code run, which yields the bits consumed (code plus
magnitude), the zigzag advance, the write offset and the sign-extended
coefficient, so one numpy step decodes one symbol for every payload of
the chunk; a table costs a few KB however many distinct tables a corpus
carries. Codec injection
(multimodal.py seam) remains available for native decoders. Everything
here is from the public JPEG spec (ITU T.81) + JFIF.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# ---------------------------------------------------------------- tables

def _zigzag() -> np.ndarray:
    order = []
    for s in range(15):
        ys = list(range(max(0, s - 7), min(s, 7) + 1))
        for y in (ys if s % 2 == 1 else reversed(ys)):
            order.append(y * 8 + (s - y))
    return np.array(order, dtype=np.int64)


ZZ = _zigzag()          # zigzag position k -> raster index
UNZZ = np.argsort(ZZ)   # raster index -> zigzag position

# Annex K base quantization tables (luminance / chrominance)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)


_QT_CACHE: dict[tuple, np.ndarray] = {}


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling (memoized: a corpus encodes at a handful
    of distinct qualities, and the encoder calls this twice per
    payload)."""
    quality = min(100, max(1, quality))
    key = (base.tobytes(), quality)
    qt = _QT_CACHE.get(key)
    if qt is None:
        scale = 5000 // quality if quality < 50 else 200 - 2 * quality
        qt = np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)
        if len(_QT_CACHE) > 512:
            _QT_CACHE.clear()
        _QT_CACHE[key] = qt
    return qt


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.sqrt(2.0 / 8.0) * np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    c[0] /= np.sqrt(2.0)
    return c


DCT = _dct_matrix()  # forward: DCT @ B @ DCT.T ; inverse: DCT.T @ F @ DCT

# Simple valid Huffman tables for the ENCODER: all DC categories (0-11)
# at 4 bits, all 162 AC symbols at 8 bits. Single-length canonical codes
# are a legal JPEG Huffman specification (no all-ones code is assigned),
# and the decoder reads tables from DHT, so interop is by construction.
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12          # 12 codes of length 4
_ENC_AC_BITS = [0] * 7 + [len(_AC_SYMS)] + [0] * 8  # 162 codes of length 8


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC_CODES = _canonical_codes(_ENC_DC_BITS, _DC_SYMS)
_ENC_AC_CODES = _canonical_codes(_ENC_AC_BITS, _AC_SYMS)


# ---------------------------------------------------------------- encoder

def _quantized_blocks_zz(plane: np.ndarray, qt: np.ndarray):
    """All 8x8 blocks of a padded plane -> (zigzag coeff rows, index of
    the last nonzero AC coeff per row, blocks-per-row). DCT + quantize
    run as ONE broadcast matmul chain over every block (the per-block
    matmul loop was the encoder's hot spot); rows stay numpy for the
    vectorized bit-emission pass (the progressive encoder indexes them
    per-element and casts with int())."""
    H, W = plane.shape
    nby, nbx = H // 8, W // 8
    blocks = plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    coef = DCT @ (blocks.reshape(-1, 8, 8) - 128.0) @ DCT.T
    q = np.round(coef / qt.reshape(1, 8, 8)).astype(np.int64).reshape(-1, 64)
    qz = q[:, ZZ]
    nzm = qz[:, 1:] != 0
    last = np.where(nzm.any(axis=1), 63 - np.argmax(nzm[:, ::-1], axis=1), 0)
    return qz, last.astype(np.int64), nbx


def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _pad_to(arr: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = arr.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    # manual edge pad: np.pad's generic machinery costs ~90 us/call on
    # these tiny planes — two broadcast+concatenate are ~6 us and
    # byte-identical (edge mode replicates the last row/column)
    if ph:
        arr = np.concatenate(
            [arr, np.broadcast_to(arr[-1:], (ph, arr.shape[1]))]
        )
    if pw:
        arr = np.concatenate(
            [arr, np.broadcast_to(arr[:, -1:], (arr.shape[0], pw))],
            axis=1,
        )
    return arr


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _file_headers(h: int, w: int, hs: int, vs: int,
                  qt_l_zz, qt_c_zz, sof_marker: bytes) -> bytearray:
    """SOI + APP0 + DQT x2 + SOFn + DHT x4 — shared verbatim between the
    baseline and progressive encoders (only the SOF marker differs), so
    header fixes cannot diverge. The per-scan entropy emission stays
    deliberately duplicated in each encoder's local closures (hot-path
    idiom); the bit-identical-decode test pins those against each
    other."""
    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HH", 1, 1) + b"\x00\x00")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qt_l_zz.tolist())
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qt_c_zz.tolist())
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, hs << 4 | vs, 0])
    sof += bytes([2, 0x11, 1])
    sof += bytes([3, 0x11, 1])
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, _ENC_DC_BITS, _DC_SYMS)
    out += _dht_segment(1, 0, _ENC_AC_BITS, _AC_SYMS)
    out += _dht_segment(0, 1, _ENC_DC_BITS, _DC_SYMS)
    out += _dht_segment(1, 1, _ENC_AC_BITS, _AC_SYMS)
    return out


def _prep_components(pixels, quality: int, subsampling: str):
    """Shared encoder front half: quant tables, RGB->YCbCr, chroma
    downsample, padding, quantized zigzag blocks, MCU dims. ONE
    definition for both encoders — the progressive stream must decode
    bit-identically to the baseline encoding of the same pixels, which
    holds only while both quantize identically."""
    qt_l = _scaled_qt(QT_LUMA, quality)
    qt_c = _scaled_qt(QT_CHROMA, quality)
    hs, vs = {"4:4:4": (1, 1), "4:2:0": (2, 2)}[subsampling]
    y, cb, cr = _rgb_to_ycbcr(pixels)
    if hs == 2:
        # box-filter 2x2 chroma downsample on an edge-padded plane
        cbp = _pad_to(cb, 2, 2)
        crp = _pad_to(cr, 2, 2)
        cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
        cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
    y = _pad_to(y, 8 * vs, 8 * hs)
    cb = _pad_to(cb, 8, 8)
    cr = _pad_to(cr, 8, 8)
    comps_q = [
        _quantized_blocks_zz(y, qt_l),
        _quantized_blocks_zz(cb, qt_c),
        _quantized_blocks_zz(cr, qt_c),
    ]
    mcus_y = y.shape[0] // (8 * vs)
    mcus_x = y.shape[1] // (8 * hs)
    return comps_q, mcus_y, mcus_x, hs, vs, qt_l, qt_c


# lookup arrays for the vectorized emitter (size/symbol -> code, length);
# length 0 marks a symbol the encoder tables do not define, so the vector
# path can raise the same KeyError the dict lookup would
_DC_CODE_ARR = np.zeros(17, dtype=np.int64)
_DC_LEN_ARR = np.zeros(17, dtype=np.int64)
for _s, (_c, _l) in _ENC_DC_CODES.items():
    _DC_CODE_ARR[_s], _DC_LEN_ARR[_s] = _c, _l
_AC_CODE_ARR = np.zeros(256, dtype=np.int64)
_AC_LEN_ARR = np.zeros(256, dtype=np.int64)
for _s, (_c, _l) in _ENC_AC_CODES.items():
    _AC_CODE_ARR[_s], _AC_LEN_ARR[_s] = _c, _l
_EOB_CODE, _EOB_LEN = _ENC_AC_CODES[0x00]
_ZRL_CODE, _ZRL_LEN = _ENC_AC_CODES[0xF0]

_ORDER_CACHE: dict[tuple, tuple[np.ndarray, list[np.ndarray]]] = {}


def _mcu_emit_order(mcus_y: int, mcus_x: int, hs: int, vs: int,
                    ybw: int, cbw: int, n_y: int, n_c: int):
    """MCU-interleaved block emission order, memoized per geometry.

    Returns (rows, sels): ``rows[i]`` is the row of the vertically
    stacked [Y; Cb; Cr] coefficient matrix emitted i-th (exactly the
    order the serial loop visits blocks), and ``sels[ci]`` the emitted
    positions belonging to component ci (for per-component DC
    prediction)."""
    key = (mcus_y, mcus_x, hs, vs, ybw, cbw)
    hit = _ORDER_CACHE.get(key)
    if hit is not None:
        return hit
    npb = vs * hs + 2  # blocks emitted per MCU
    my = np.arange(mcus_y, dtype=np.int64)[:, None]
    mx = np.arange(mcus_x, dtype=np.int64)[None, :]
    out = np.empty((mcus_y, mcus_x, npb), dtype=np.int64)
    yblk = (
        ((my * vs)[..., None, None] + np.arange(vs)[None, None, :, None])
        * ybw
        + (mx * hs)[..., None, None]
        + np.arange(hs)[None, None, None, :]
    )
    out[..., : vs * hs] = yblk.reshape(mcus_y, mcus_x, vs * hs)
    cbi = my * cbw + mx
    out[..., vs * hs] = cbi + n_y
    out[..., vs * hs + 1] = cbi + n_y + n_c
    rows = out.reshape(-1)
    pos = np.arange(rows.size, dtype=np.int64).reshape(-1, npb)
    sels = [
        pos[:, : vs * hs].reshape(-1),
        pos[:, vs * hs].copy(),
        pos[:, vs * hs + 1].copy(),
    ]
    if len(_ORDER_CACHE) > 256:  # bound worker-lifetime memory
        _ORDER_CACHE.clear()
    _ORDER_CACHE[key] = (rows, sels)
    return rows, sels


def _bitlen(x: np.ndarray) -> np.ndarray:
    """Vectorized int bit_length for |x| < 2**53 (frexp exponent is
    exact there); bit_length(0) == 0 like the Python int method."""
    return np.frexp(x.astype(np.float64))[1].astype(np.int64)


def _emit_scan_vector(comps_q, mcus_y: int, mcus_x: int,
                      hs: int, vs: int) -> bytes:
    """Vectorized baseline scan emission — byte-identical to the serial
    T.81 F.1 reference ``emit_scan_serial`` in tests/jpeg_reference.py
    (test-pinned), built from whole-array numpy:

    * blocks gathered into emission (MCU-interleaved) order in one take;
    * DC sizes/magnitudes and AC run-lengths (incl. ZRL expansion and
      EOB placement) computed as flat arrays;
    * the bitstream assembled by expanding each (value, length) item to
      its bits, ``packbits``, then FF-stuffing with one ``insert`` —
      the T.81 B.1.1.5 1-padding falls out as appended 1-bits."""
    qz0, l0, ybw = comps_q[0]
    qz1, l1, cbw = comps_q[1]
    qz2, l2, _ = comps_q[2]
    n_y, n_c = qz0.shape[0], qz1.shape[0]
    rows, sels = _mcu_emit_order(
        mcus_y, mcus_x, hs, vs, ybw, cbw, n_y, n_c
    )
    M = np.concatenate([qz0, qz1, qz2])[rows]
    L = np.concatenate([l0, l1, l2])[rows]
    nb = M.shape[0]

    # ---- DC: per-component first differences in emission order
    dcv = M[:, 0]
    diff = np.empty_like(dcv)
    for sel in sels:
        seq = dcv[sel]
        d = np.empty_like(seq)
        if seq.size:
            d[0] = seq[0]
            d[1:] = seq[1:] - seq[:-1]
        diff[sel] = d
    dsize = _bitlen(np.abs(diff))
    if dsize.size and int(dsize.max()) > 11:
        raise KeyError(int(dsize.max()))  # same failure as dc_codes[size]
    dc_code = _DC_CODE_ARR[dsize]
    dc_len = _DC_LEN_ARR[dsize]
    dc_mag = np.where(
        diff > 0, diff, diff + np.left_shift(np.int64(1), dsize) - 1
    )  # size 0 (diff == 0) yields a 0-length item: no bits, like no put()

    # ---- AC: run-lengths over the nonzero coefficients
    A = M[:, 1:]
    bi, k1 = np.nonzero(A)
    v = A[bi, k1]
    kk = k1 + 1
    first = np.empty(bi.shape, dtype=bool)
    prevk = np.zeros_like(kk)
    if bi.size:
        first[0] = True
        first[1:] = bi[1:] != bi[:-1]
        prevk[1:] = kk[:-1]
        prevk[first] = 0
    run = kk - prevk - 1
    nzrl = run >> 4  # ZRL count before this symbol
    asize = _bitlen(np.abs(v))
    sym = ((run & 15) << 4) | asize
    ac_code = _AC_CODE_ARR[sym]
    ac_len = _AC_LEN_ARR[sym]
    if bi.size and not ac_len.all():
        raise KeyError(int(sym[np.argmin(ac_len)]))  # like ac_codes[sym]
    ac_mag = np.where(
        v > 0, v, v + np.left_shift(np.int64(1), asize) - 1
    )

    # ---- assemble the (value, length) item stream in emission order
    items_per_entry = nzrl + 2  # ZRLs + code + magnitude
    if bi.size:
        ac_per_block = np.bincount(
            bi, weights=items_per_entry, minlength=nb
        ).astype(np.int64)
    else:
        ac_per_block = np.zeros(nb, dtype=np.int64)
    eob = (L < 63).astype(np.int64)
    ipb = 2 + ac_per_block + eob
    S = np.cumsum(ipb) - ipb  # block start offsets
    total = int(ipb.sum())
    vals = np.zeros(total, dtype=np.int64)
    lens = np.zeros(total, dtype=np.int64)
    vals[S] = dc_code
    lens[S] = dc_len
    vals[S + 1] = dc_mag
    lens[S + 1] = dsize
    if bi.size:
        E = np.cumsum(items_per_entry) - items_per_entry
        firsts = np.flatnonzero(first)
        counts = np.diff(np.append(firsts, bi.size))
        wb = E - np.repeat(E[firsts], counts)  # offset within the block
        p0 = S[bi] + 2 + wb
        tz = int(nzrl.sum())
        if tz:
            zpos = np.repeat(p0, nzrl) + (
                np.arange(tz) - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
            )
            vals[zpos] = _ZRL_CODE
            lens[zpos] = _ZRL_LEN
        cpos = p0 + nzrl
        vals[cpos] = ac_code
        lens[cpos] = ac_len
        vals[cpos + 1] = ac_mag
        lens[cpos + 1] = asize
    ep = np.flatnonzero(eob)
    vals[S[ep] + ipb[ep] - 1] = _EOB_CODE
    lens[S[ep] + ipb[ep] - 1] = _EOB_LEN

    # ---- bits -> bytes -> FF-stuffed scan
    tb = int(lens.sum())
    idx = np.repeat(np.arange(vals.size), lens)
    within = np.arange(tb) - np.repeat(np.cumsum(lens) - lens, lens)
    bits = (vals[idx] >> (lens[idx] - 1 - within)) & 1
    pad = (-tb) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, dtype=np.int64)])
    packed = np.packbits(bits.astype(np.uint8))
    ffpos = np.flatnonzero(packed == 0xFF)
    if ffpos.size:
        packed = np.insert(packed, ffpos + 1, np.uint8(0))
    return packed.tobytes()


def encode_jpeg(pixels: np.ndarray, quality: int = 75,
                subsampling: str = "4:2:0") -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG bytes."""
    h, w, _ = pixels.shape
    comps_q, mcus_y, mcus_x, hs, vs, qt_l, qt_c = _prep_components(
        pixels, quality, subsampling
    )
    scan = _emit_scan_vector(comps_q, mcus_y, mcus_x, hs, vs)
    # DQT stores tables in zigzag order
    out = _file_headers(h, w, hs, vs, qt_l[ZZ], qt_c[ZZ], b"\xff\xc0")
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(pixels: np.ndarray, quality: int = 75,
                            subsampling: str = "4:2:0") -> bytes:
    """(h, w, 3) uint8 RGB -> PROGRESSIVE (SOF2) JFIF JPEG bytes.

    Minimal spec-valid scan script, no successive approximation: one
    interleaved DC scan (Ss=0 Se=0 Ah=Al=0) then one full-band AC scan
    per component (Ss=1 Se=63, EOB0-coded). The quantized coefficients
    are computed EXACTLY like encode_jpeg's — progressive is a
    reordering of the same data, so decoding this stream is
    bit-identical to decoding the baseline encoding of the same pixels
    (tests assert it through both the numpy and libjpeg decoders).
    Uses the same fixed Huffman tables; DC prediction restarts per scan
    and per component (non-interleaved scans predict within the single
    component), per T.81 G.1.2.1. Not a hot path — the native shim
    encodes progressive in production; this closes the dependency-free
    fallback's last encode seam."""
    h, w, _ = pixels.shape
    comps_q, mcus_y, mcus_x, hs, vs, qt_l, qt_c = _prep_components(
        pixels, quality, subsampling
    )
    dc_codes = _ENC_DC_CODES
    ac_codes = _ENC_AC_CODES

    def scan_writer():
        # same closure bit-writer idiom as encode_jpeg (kept local per
        # scan: each scan's entropy data pads/terminates independently)
        buf = bytearray()
        append = buf.append
        state = [0, 0]  # acc, nbits

        def put(code: int, ln: int) -> None:
            acc = (state[0] << ln) | code
            nbits = state[1] + ln
            while nbits >= 8:
                nbits -= 8
                b = (acc >> nbits) & 0xFF
                append(b)
                if b == 0xFF:
                    append(0x00)
            state[0] = acc & ((1 << nbits) - 1)
            state[1] = nbits

        def flush() -> bytes:
            if state[1]:
                pad = 8 - state[1]
                b = ((state[0] << pad) | ((1 << pad) - 1)) & 0xFF
                append(b)
                if b == 0xFF:
                    append(0x00)
            return bytes(buf)

        return put, flush

    # --- scan 1: interleaved DC ------------------------------------
    put, flush = scan_writer()

    def put_dc(ci: int, bi: int, pred: int) -> int:
        dc = int(comps_q[ci][0][bi][0])
        diff = dc - pred
        if diff == 0:
            c, ln = dc_codes[0]
            put(c, ln)
        else:
            size = diff.bit_length() if diff > 0 else (-diff).bit_length()
            c, ln = dc_codes[size]
            put(c, ln)
            put(diff if diff > 0 else diff + (1 << size) - 1, size)
        return dc

    ystride = comps_q[0][2]
    cstride = comps_q[1][2]
    p0 = p1 = p2 = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(vs):
                base = (my * vs + by) * ystride + mx * hs
                for bx in range(hs):
                    p0 = put_dc(0, base + bx, p0)
            cbi = my * cstride + mx
            p1 = put_dc(1, cbi, p1)
            p2 = put_dc(2, cbi, p2)
    dc_scan = flush()

    # --- scans 2-4: one full AC band per component ------------------
    # non-interleaved block grids: ceil(component dims / 8); the padded
    # storage grid may be wider (luma pads to the 2-block MCU), so the
    # loop skips padding blocks the decoder never visits in AC scans
    comp_dims = [
        (-(-w * hs // hs), -(-h * vs // vs)),  # luma: (w, h)
        (-(-w // hs), -(-h // vs)),
        (-(-w // hs), -(-h // vs)),
    ]
    ac_scans = []
    for ci in range(3):
        put, flush = scan_writer()
        rows, lasts, stride = comps_q[ci]
        cw, chh = comp_dims[ci]
        bw, bh = -(-cw // 8), -(-chh // 8)
        for by in range(bh):
            for bx in range(bw):
                bi = by * stride + bx
                coef = rows[bi]
                run = 0
                for k in range(1, int(lasts[bi]) + 1):
                    v = int(coef[k])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        c, ln = ac_codes[0xF0]
                        put(c, ln)
                        run -= 16
                    size = v.bit_length() if v > 0 else (-v).bit_length()
                    c, ln = ac_codes[(run << 4) | size]
                    put(c, ln)
                    put(v if v > 0 else v + (1 << size) - 1, size)
                    run = 0
                if lasts[bi] < 63:
                    c, ln = ac_codes[0x00]  # EOB0
                    put(c, ln)
        ac_scans.append(flush())

    # --- file assembly ----------------------------------------------
    out = _file_headers(h, w, hs, vs, qt_l[ZZ], qt_c[ZZ], b"\xff\xc2")
    sos = bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0])  # DC, all comps
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos + dc_scan
    for ci, scan in enumerate(ac_scans):
        ta = 0 if ci == 0 else 1
        sos = bytes([1, ci + 1, ta, 1, 63, 0])  # AC band, one component
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos + scan
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- decoder

_LUT_CACHE: dict[tuple, list[int]] = {}


def _build_decode_lut(bits: list[int], vals: list[int]) -> list[int]:
    """65536-entry packed Huffman LUT: peek 16 bits -> (length << 8) | sym.

    Entry length 0 marks an invalid prefix. One list lookup decodes a
    whole symbol — the standard fast path (T.81 Annex F describes the
    serial reference procedure; production decoders all table-drive it).
    Returned as a Python list: scalar list indexing beats numpy scalar
    indexing ~5x in the per-symbol loop. Memoized on the table bytes —
    building the 64k list costs ~1 ms, which would dominate small-payload
    batches (a corpus re-uses a handful of distinct tables)."""
    key = (tuple(bits), tuple(vals))
    lut = _LUT_CACHE.get(key)
    if lut is None:
        lut = _packed_lut(bits, vals).tolist()
        if len(_LUT_CACHE) > 64:  # bound worker-lifetime memory
            _LUT_CACHE.clear()
        _LUT_CACHE[key] = lut
    return lut


def _packed_lut(bits: list[int], vals: list[int]) -> np.ndarray:
    """``_build_decode_lut``'s packed LUT as an int64 numpy array,
    unmemoized: the serial decoder's list is built from it, and the
    batch decoder's run tables reproduce it run by run."""
    arr = np.zeros(1 << 16, dtype=np.int64)
    for sym, (code, ln) in _canonical_codes(bits, vals).items():
        lo = code << (16 - ln)
        arr[lo: lo + (1 << (16 - ln))] = (ln << 8) | sym
    return arr


def _scan_windows(parts: list[bytes]):
    """The entropy-coded segments of many scans at once, with no
    per-byte Python; ``parts[j]`` is a payload from its scan's first
    byte on. Each scan ends at its first marker other than RSTn and
    splits at its RSTn markers into segments. T.81 B.1.1.2 lets any
    marker, RSTn included, follow 0xFF fill bytes: an FF followed by FF
    is fill, not a terminator, and the fill before a marker is not
    entropy data (data FFs are always stuffed as FF 00, so a bare FF
    right before a marker can only be fill). Each segment is unstuffed
    (FF 00 -> FF) and packed as 32-bit sliding windows, all segments
    back to back with 4 zero bytes after each (8 after the last):
    ``W[w0[i] + b]`` holds the 32 bits starting at byte b of segment i,
    so a decode loop reads any <= 16-bit code or magnitude with one
    index + shift + mask, and the ``count[i] + 1`` windows from
    ``w0[i]`` are the segment's bytes with a zero tail. Returns (W, w0,
    count, seg_part, end): segment i belongs to part ``seg_part[i]``
    (segments in order), and ``end[j]`` is the offset in part j of the
    0xFF of its terminating marker (the part's length when there is
    none)."""
    n = len(parts)
    size = np.array([len(q) for q in parts], dtype=np.int64)
    o = np.cumsum(size) - size
    # one pad byte so the byte after every FF is addressable
    buf = b"".join(parts) + b"\0"
    A = np.frombuffer(buf, dtype=np.uint8)
    ff = np.flatnonzero(A[:-1] == 0xFF)
    ff_part = np.searchsorted(o, ff, side="right") - 1
    last = ff + 1 < o[ff_part] + size[ff_part]  # never a part's last byte
    ff, ff_part = ff[last], ff_part[last]
    nxt = A[ff + 1]
    rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    term = ~(rst | (nxt == 0x00) | (nxt == 0xFF))
    end = o + size
    t_part = ff_part[term]
    first = np.flatnonzero(np.diff(t_part, prepend=-1))
    end[t_part[first]] = ff[term][first]
    rst &= ff < end[ff_part]
    # segments run from the scan start or an RST's code byte + 1 to the
    # next RST or the scan end: sorted, starts and ends pair up in order
    s0, s1, seg_part = o, end.copy(), np.arange(n)
    if rst.any():
        s0 = np.sort(np.concatenate([o, ff[rst] + 2]))
        s1 = np.sort(np.concatenate([ff[rst], end]))
        seg_part = np.repeat(
            seg_part, 1 + np.bincount(ff_part[rst], minlength=n)
        )
    # trim the fill FFs padding up to a marker (rare)
    for i in np.flatnonzero((s1 > s0) & (A[s1 - 1] == 0xFF)):
        while s1[i] > s0[i] and A[s1[i] - 1] == 0xFF:
            s1[i] -= 1
    raw = s1 - s0
    view = memoryview(buf)
    pieces = []
    for i, j in zip(s0.tolist(), s1.tolist()):
        pieces += (view[i:j], b"\0\0\0\0")
    B = np.frombuffer(b"".join(pieces) + b"\0\0\0\0", dtype=np.uint8)
    # unstuff: every FF inside a segment drops the byte after it
    seg = np.searchsorted(s0, ff, side="right") - 1
    inside = ff + 1 < s1[seg]
    seg = seg[inside]
    at = np.cumsum(raw + 4) - (raw + 4)  # segment starts in B
    B = np.delete(B, ff[inside] + 1 - s0[seg] + at[seg])
    count = raw - np.bincount(seg, minlength=raw.size)
    W = np.ndarray((B.size - 3,), ">u4", B, 0, (1,)).astype(np.int64)
    return W, np.cumsum(count + 4) - (count + 4), count, seg_part, end - o


def _entropy_segments(payload: bytes, pos: int) -> tuple[list[list[int]], int]:
    """RST-delimited entropy segments of the scan starting at ``pos``,
    each as the list of its 32-bit windows (``_scan_windows``), plus the
    absolute index of the terminating marker's 0xFF (so multi-scan
    progressive parsing can resume at the next marker). Plain lists:
    scalar list indexing beats numpy scalar indexing ~5x in the
    per-symbol loop."""
    W, w0, count, _, end = _scan_windows([payload[pos:]])
    segs = [
        W[a: a + c + 1].tolist() for a, c in zip(w0.tolist(), count.tolist())
    ]
    return segs, pos + int(end[0])


def _decode_scan(payload, pos, w, h, comps, qts, huff_dc, huff_ac,
                 restart_interval) -> np.ndarray:
    """Entropy decode + dequant + IDCT, built for throughput:

    * Huffman symbols via the 16-bit packed LUT (one lookup per symbol);
    * bitstream access via the precomputed 32-bit window list — the only
      remaining serial Python is the per-symbol loop itself (Huffman
      decode is inherently sequential);
    * coefficients accumulate into per-component (n_blocks, 64) arrays,
      then dequant + IDCT run as ONE vectorized einsum per component
      instead of per-block 8x8 matmuls.
    """
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcus = mcus_x * mcus_y
    segs, _ = _entropy_segments(payload, pos)
    blocks_out: list[list[list[int]]] = [[] for _ in comps]
    luts = [(huff_dc[c["td"]], huff_ac[c["ta"]]) for c in comps]
    nblk = [c["v"] * c["h"] for c in comps]
    seg_i = 0
    word = segs[0]
    bp = 0
    pred = [0] * len(comps)
    try:
        _decode_mcus(n_mcus, restart_interval, segs, comps, luts, nblk,
                     blocks_out, word, bp, pred, seg_i)
    except IndexError:
        # bp ran off the 32-bit window list: the scan ended mid-MCU.
        # Surface the same clear exception type the callers (and the
        # quarantine path) have always handled for truncated payloads.
        raise EOFError("truncated JPEG scan") from None

    comp_blocks = [
        np.asarray(rows, dtype=np.int64).reshape(-1, 64)
        for rows in blocks_out
    ]
    return _assemble_scan(
        comps, comp_blocks, qts, mcus_x, mcus_y, vmax, hmax, w, h
    )


def _assemble_scan(comps, comp_blocks, qts, mcus_x, mcus_y,
                   vmax, hmax, w, h) -> np.ndarray:
    """Dequant + IDCT + plane assembly over per-component (n_blocks, 64)
    zigzag coefficient matrices in MCU visit order — shared by the
    serial and batch entropy decoders."""
    planes = []
    dct_t = DCT.T
    for c, coef_zz in zip(comps, comp_blocks):
        # zigzag coefficients * zigzag quant table, de-zigzag, batch IDCT
        qt_zz = qts[c["tq"]][ZZ]
        blocks = (coef_zz * qt_zz[None, :])[:, UNZZ].reshape(-1, 8, 8)
        # two broadcast matmuls beat einsum here: einsum's per-call path
        # optimization costs more than the tiny contractions themselves
        px = dct_t @ blocks.astype(np.float64) @ DCT + 128.0
        v, hh = c["v"], c["h"]
        plane = (
            px.reshape(mcus_y, mcus_x, v, hh, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * v * 8, mcus_x * hh * 8)
        )
        planes.append(plane)
    return _finish_scan(comps, planes, vmax, hmax, w, h)


def _decode_mcus(n_mcus, restart_interval, segs, comps, luts, nblk,
                 blocks_out, word, bp, pred, seg_i):
    """Serial per-symbol entropy loop, split out so the truncation guard
    wraps ONE call (no per-access bounds checks in the hot path)."""
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise EOFError("missing RST segment")
            word = segs[seg_i]
            bp = 0
            pred = [0] * len(comps)
        for ci in range(len(comps)):
            dc_lut, ac_lut = luts[ci]
            out_ci = blocks_out[ci]
            for _b in range(nblk[ci]):
                coef = [0] * 64
                wv = word[bp >> 3]
                e = dc_lut[(wv >> (16 - (bp & 7))) & 0xFFFF]
                ln = e >> 8
                if ln == 0:
                    raise ValueError("invalid Huffman code")
                s = e & 0xFF
                bp += ln
                if s:
                    wv = word[bp >> 3]
                    v = (wv >> (32 - (bp & 7) - s)) & ((1 << s) - 1)
                    bp += s
                    pred[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                coef[0] = pred[ci]
                k = 1
                while k < 64:
                    wv = word[bp >> 3]
                    e = ac_lut[(wv >> (16 - (bp & 7))) & 0xFFFF]
                    ln = e >> 8
                    if ln == 0:
                        raise ValueError("invalid Huffman code")
                    bp += ln
                    rs = e & 0xFF
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    size = rs & 0xF
                    if k > 63:
                        raise ValueError("AC index out of range")
                    if size:
                        wv = word[bp >> 3]
                        v = (wv >> (32 - (bp & 7) - size)) & ((1 << size) - 1)
                        bp += size
                        coef[k] = (
                            v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                        )
                    # else: malformed (run, 0) combo — coefficient stays 0
                    # (T.81 F.2.2.1 _extend(0, 0) == 0; raising here would
                    # turn a recoverable corrupt stream into a crash)
                    k += 1
                out_ci.append(coef)


def _decode_progressive_scan(payload, pos, scan_comps, Ss, Se, Ah, Al,
                             comps, grids, mcus_x, mcus_y,
                             huff_dc, huff_ac, restart_interval,
                             w, h) -> int:
    """Decode ONE progressive scan (T.81 G.2 / the public libjpeg
    jdphuff successive-approximation procedures) into the per-component
    zigzag coefficient grids; returns the payload index where the next
    marker begins.

    Four scan kinds: DC first (Ss=0, Ah=0; the only kind that may
    interleave several components), DC refine (one bit per block,
    OR-appended — two's-complement makes that exact for negatives too),
    AC first (EOB-run coded band values shifted by Al), and AC refine
    (correction bits for nonzero history + ±1<<Al for new
    coefficients). Restart markers reset DC predictors and the EOB run.
    Serial per-symbol Python by design — this is the dependency-free
    fallback; production decodes progressive through the native shim."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    interleaved = len(scan_comps) > 1
    bw = 0
    if interleaved:
        n_units = mcus_x * mcus_y
    else:
        c = comps[scan_comps[0]]
        # component sample dims, then block dims (plain ceil twice)
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        bw = -(-cw // 8)
        bh = -(-ch // 8)
        n_units = bw * bh
    segs, end = _entropy_segments(payload, pos)
    try:
        _progressive_units(segs, n_units, scan_comps, Ss, Se, Ah, Al,
                           comps, grids, mcus_x, interleaved,
                           huff_dc, huff_ac, restart_interval,
                           bw if not interleaved else 0)
    except IndexError:
        raise EOFError("truncated JPEG scan") from None
    return end


def _progressive_units(segs, n_units, scan_comps, Ss, Se, Ah, Al,
                       comps, grids, mcus_x, interleaved,
                       huff_dc, huff_ac, restart_interval, bw):
    p1 = 1 << Al
    m1 = -p1
    seg_i = 0
    word = segs[0]
    bp = 0
    pred = {ci: 0 for ci in scan_comps}
    eobrun = 0

    def receive(nbits):
        nonlocal bp
        wv = word[bp >> 3]
        v = (wv >> (32 - (bp & 7) - nbits)) & ((1 << nbits) - 1)
        bp += nbits
        return v

    def decode_sym(lut):
        nonlocal bp
        wv = word[bp >> 3]
        e = lut[(wv >> (16 - (bp & 7))) & 0xFFFF]
        ln = e >> 8
        if ln == 0:
            raise ValueError("invalid Huffman code")
        bp += ln
        return e & 0xFF

    for m in range(n_units):
        if restart_interval and m and m % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise EOFError("missing RST segment")
            word = segs[seg_i]
            bp = 0
            pred = {ci: 0 for ci in scan_comps}
            eobrun = 0
        if interleaved:
            # DC scans only (T.81 forbids interleaved AC scans)
            for ci in scan_comps:
                c = comps[ci]
                grid = grids[ci]
                row_blocks = mcus_x * c["h"]
                my, mx = divmod(m, mcus_x)
                for bv in range(c["v"]):
                    for bx in range(c["h"]):
                        idx = (my * c["v"] + bv) * row_blocks \
                            + mx * c["h"] + bx
                        coef = grid[idx]
                        if Ah == 0:
                            s = decode_sym(huff_dc[c["td"]])
                            if s:
                                v = receive(s)
                                pred[ci] += (
                                    v if v >= (1 << (s - 1))
                                    else v - (1 << s) + 1
                                )
                            coef[0] = pred[ci] << Al
                        else:
                            if receive(1):
                                coef[0] |= p1
        else:
            ci = scan_comps[0]
            c = comps[ci]
            grid = grids[ci]
            row_blocks = mcus_x * c["h"]
            by, bx = divmod(m, bw)
            coef = grid[by * row_blocks + bx]
            if Ss == 0:
                if Ah == 0:
                    s = decode_sym(huff_dc[c["td"]])
                    if s:
                        v = receive(s)
                        pred[ci] += (
                            v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        )
                    coef[0] = pred[ci] << Al
                else:
                    if receive(1):
                        coef[0] |= p1
            elif Ah == 0:
                # AC first scan
                if eobrun:
                    eobrun -= 1
                    continue
                k = Ss
                while k <= Se:
                    rs = decode_sym(huff_ac[c["ta"]])
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += receive(r)
                            break
                        k += 16
                        continue
                    k += r
                    if k > 63:
                        raise ValueError("AC index out of range")
                    v = receive(s)
                    coef[k] = (
                        v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    ) << Al
                    k += 1
            else:
                # AC refine scan (libjpeg decode_mcu_AC_refine shape)
                k = Ss
                if eobrun == 0:
                    while k <= Se:
                        rs = decode_sym(huff_ac[c["ta"]])
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += receive(r)
                                break
                            val = 0  # ZRL: 16 zero-history positions
                        else:
                            # s is 1 in valid streams: a new ±1<<Al coef
                            val = p1 if receive(1) else m1
                        while k <= Se:
                            if coef[k]:
                                if receive(1) and not (coef[k] & p1):
                                    coef[k] += p1 if coef[k] > 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= Se:
                            coef[k] = val
                        k += 1
                if eobrun:
                    while k <= Se:
                        if coef[k]:
                            if receive(1) and not (coef[k] & p1):
                                coef[k] += p1 if coef[k] > 0 else m1
                        k += 1
                    eobrun -= 1


def _assemble_grids(comps, grids, qts, mcus_x, mcus_y, w, h) -> np.ndarray:
    """Dequant + IDCT + upsample for the progressive grid layout
    (blocks stored row-major over the padded component block grid)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    dct_t = DCT.T
    planes = []
    for c, grid in zip(comps, grids):
        rows = mcus_y * c["v"]
        cols = mcus_x * c["h"]
        coef_zz = np.asarray(grid, dtype=np.int64)
        qt_zz = qts[c["tq"]][ZZ]
        blocks = (coef_zz * qt_zz[None, :])[:, UNZZ].reshape(-1, 8, 8)
        px = dct_t @ blocks.astype(np.float64) @ DCT + 128.0
        plane = (
            px.reshape(rows, cols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )
        planes.append(plane)
    return _finish_scan(comps, planes, vmax, hmax, w, h)


def _finish_scan(comps, planes, vmax, hmax, w, h) -> np.ndarray:
    """Upsample chroma to full resolution (nearest), crop, color-convert."""
    full = []
    for c, plane in zip(comps, planes):
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def jpeg_dimensions(payload: bytes) -> tuple[int, int]:
    """(width, height) from the SOFn header — no entropy decode."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xFF:  # T.81 fill byte: 0xFF padding before a marker
            pos += 1
            continue
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack_from(">HH", payload, pos + 5)
            return w, h
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        pos += 2 + seg_len
    raise ValueError("no SOF marker found")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline OR progressive JPEG bytes -> (h, w, 3) uint8 RGB.

    Baseline (SOF0/1) decodes in one pass at the first SOS; progressive
    (SOF2) accumulates coefficients across every scan and assembles at
    EOI. Progressive output is BIT-IDENTICAL to decoding the baseline
    encoding of the same quantized coefficients (the scans are a
    reordering, not a re-quantization) — tests assert exactly that
    against libjpeg's progressive encoder."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qts: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    grids: list[list[list[int]]] | None = None
    mcus_x = mcus_y = 0
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xFF:  # T.81 fill byte: 0xFF padding before a marker
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > len(payload):
            raise EOFError("truncated JPEG (cut inside a marker header)")
        (seg_len,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2: pos + seg_len]
        if len(seg) < seg_len - 2:
            raise EOFError("truncated JPEG (cut inside a marker segment)")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg, dtype=np.uint8, count=64, offset=o + 1)
                qt = np.zeros(64, dtype=np.int64)
                qt[ZZ] = zz  # de-zigzag
                qts[tq] = qt
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0xF
                bits = list(seg[o + 1: o + 17])
                nv = sum(bits)
                vals = list(seg[o + 17: o + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise EOFError("truncated DHT segment")
                table = _build_decode_lut(bits, vals)
                (huff_ac if tc else huff_dc)[th] = table
                o += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            _, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if nc not in (1, 3):
                # 4-component (Adobe CMYK/YCCK) would entropy-decode
                # cleanly but _finish_scan applies 3-component YCbCr
                # math and drops the K plane — silently wrong pixels.
                # Documented seam, matching the module's error contract.
                raise NotImplementedError(
                    f"{nc}-component JPEG (CMYK/YCCK) not supported"
                )
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i: 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError("lossless/extended/arithmetic JPEG")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cid, tt = seg[1 + 2 * i: 3 + 2 * i]
                for j, c in enumerate(comps):
                    if c["id"] == cid:
                        c["td"], c["ta"] = tt >> 4, tt & 0xF
                        scan_comps.append(j)
            scan_start = pos + seg_len
            if not progressive:
                if ns != len(comps):
                    # T.81 allows sequential per-component scans; the
                    # baseline decoder below assumes ONE fully
                    # interleaved scan — decoding anyway would misalign
                    # the Huffman stream and quarantine (or worse,
                    # garbage-decode) a spec-valid file. Loud seam
                    # instead; the progressive path handles its own
                    # scan lists.
                    raise NotImplementedError(
                        "multi-scan (non-interleaved) baseline JPEG"
                    )
                return _decode_scan(
                    payload, scan_start, w, h, comps, qts, huff_dc,
                    huff_ac, restart_interval,
                )
            ss, se, ahal = seg[1 + 2 * ns: 4 + 2 * ns]
            if grids is None:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                grids = [
                    [[0] * 64
                     for _ in range(mcus_y * c["v"] * mcus_x * c["h"])]
                    for c in comps
                ]
            pos = _decode_progressive_scan(
                payload, scan_start, scan_comps, ss, se,
                ahal >> 4, ahal & 0xF, comps, grids, mcus_x, mcus_y,
                huff_dc, huff_ac, restart_interval, w, h,
            )
            continue
        pos += seg_len
    if progressive and grids is not None:
        return _assemble_grids(comps, grids, qts, mcus_x, mcus_y, w, h)
    raise ValueError("no SOS marker found")


# ------------------------------------------------------- batch decoder
#
# Cross-payload vectorized baseline decode. Huffman decoding is serial
# within one payload, so the batch path runs many payloads ("lanes") side
# by side: each numpy step decodes one symbol for every active lane of a
# chunk. At Arrow-batch width (a few hundred lanes) the cost is set by
# the number of numpy calls, not by arithmetic, so everything is shaped
# to run once per step or once per chunk:
#
#   * the entropy windows of the whole chunk come from one
#     ``_scan_windows`` call, the serial decoder's own segment format;
#   * the entropy step is a fixed, branch-free sequence of whole-chunk
#     calls: one ``searchsorted`` into the chunk's run tables
#     (``_run_table``) turns a 16-bit peek into the bits consumed (code
#     + magnitude), the zigzag advance, the write offset and the
#     already-extended coefficient, so DC, AC, EOB and ZRL symbols share
#     one update; the few symbols the peek cannot hold take a masked
#     slow branch with the serial formula. Run tables are a few KB, so
#     neither per-image Huffman tables nor a chunk of them cost memory;
#   * DC diffs are written as decoded and become predictions after the
#     loop, by one cumulative sum per (lane, component);
#   * dequant + IDCT, upsampling + colour conversion run once per
#     sampling pattern at MCU granularity, in passes of at most
#     ``_TAIL_BLOCKS`` blocks so their temporaries stay small however
#     large the images; each lane only reshapes and crops its MCUs.
#
# Lanes that hit anything the fast path does not model (or any malformed
# stream) are re-decoded by the serial decoder, which stays the authority
# on both pixels and exceptions: the batch path is a fast path, never a
# semantic fork (tests pin pixel- and exception-exact parity).


def _sniff_baseline(payload: bytes) -> int:
    """Cheap marker walk up to SOS: the scan's start offset when the
    frame is SOF0/SOF1 and no nonzero restart interval precedes the
    scan, else -1 (the payload goes straight to the serial decoder).
    Reads marker codes and segment lengths only, never table contents;
    ``_parse_baseline_for_batch`` still vets every header it admits."""
    if payload[:2] != b"\xff\xd8":
        return -1
    baseline = False
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        seg_len = (payload[pos] << 8) | payload[pos + 1]
        if marker == 0xDA:
            return pos + seg_len if baseline else -1
        if marker in (0xC0, 0xC1):
            baseline = True
        elif marker == 0xDD:
            if pos + 4 > n or payload[pos + 2] or payload[pos + 3]:
                return -1
        elif not (marker in (0xDB, 0xC4, 0xFE) or 0xE0 <= marker <= 0xEF):
            return -1  # SOF2+, EOI before SOS, unknown marker
        pos += seg_len
    return -1


def _parse_baseline_for_batch(payload: bytes):
    """Header walk for the batch fast path. Returns the parsed scan
    context, or None when the payload needs the serial decoder
    (progressive, restart intervals, grayscale, empty or non-integral
    sampling geometry, any structural anomaly — the serial path raises
    the contract exceptions)."""
    try:
        if payload[:2] != b"\xff\xd8":
            return None
        qts: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
        comps: list[dict] = []
        h = w = 0
        pos = 2
        n = len(payload)
        while pos + 2 <= n:
            if payload[pos] != 0xFF:
                pos += 1
                continue
            marker = payload[pos + 1]
            if marker == 0xFF:
                pos += 1
                continue
            pos += 2
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xD9:
                return None  # EOI before SOS
            if pos + 2 > n:
                return None
            (seg_len,) = struct.unpack_from(">H", payload, pos)
            seg = payload[pos + 2: pos + seg_len]
            if len(seg) < seg_len - 2:
                return None
            if marker == 0xDB:
                o = 0
                while o < len(seg):
                    pq, tq = seg[o] >> 4, seg[o] & 0xF
                    if pq != 0:
                        return None
                    if o + 65 > len(seg):
                        return None
                    zz = np.frombuffer(
                        seg, dtype=np.uint8, count=64, offset=o + 1
                    )
                    qt = np.zeros(64, dtype=np.int64)
                    qt[ZZ] = zz
                    qts[tq] = qt
                    o += 65
            elif marker == 0xC4:
                o = 0
                while o < len(seg):
                    tc, th = seg[o] >> 4, seg[o] & 0xF
                    bits = list(seg[o + 1: o + 17])
                    nv = sum(bits)
                    vals = list(seg[o + 17: o + 17 + nv])
                    if len(bits) < 16 or len(vals) < nv:
                        return None
                    huff[(tc, th)] = (bits, vals)
                    o += 17 + nv
            elif marker in (0xC0, 0xC1):
                _, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
                if nc != 3:
                    return None
                comps = []
                for i in range(nc):
                    cid, hv, tq = seg[6 + 3 * i: 9 + 3 * i]
                    comps.append(
                        {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                    )
            elif marker == 0xDD:
                (ri,) = struct.unpack_from(">H", seg, 0)
                if ri != 0:
                    return None  # restart intervals -> serial path
            elif marker == 0xDA:
                ns = seg[0]
                if not comps or ns != len(comps) or not (w and h):
                    return None
                for i in range(ns):
                    cid, tt = seg[1 + 2 * i: 3 + 2 * i]
                    hit = False
                    for c in comps:
                        if c["id"] == cid:
                            c["td"], c["ta"] = tt >> 4, tt & 0xF
                            hit = True
                    if not hit:
                        return None
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                for c in comps:
                    if (0, c.get("td")) not in huff:
                        return None
                    if (1, c.get("ta")) not in huff:
                        return None
                    if c["tq"] not in qts:
                        return None
                    if c["h"] < 1 or c["v"] < 1:
                        return None
                    if hmax % c["h"] or vmax % c["v"]:
                        return None
                return {
                    "h": h, "w": w, "comps": comps, "qts": qts,
                    "huff": huff, "scan_start": pos + seg_len,
                }
            elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
                pass  # APPn / COM: skip like the serial walk
            else:
                return None  # any other frame type / unknown marker
            pos += seg_len
        return None
    except Exception:
        return None


class _Memo(dict):
    """A memo bounded by bytes: it forgets everything once its entries
    pass ``budget`` bytes, as ``put``'s callers size them. The batch
    decoder's memos only need to outlive runs of payloads that repeat a
    few encoder settings; a corpus of one-off headers or tables churns
    through them without growing them."""

    def __init__(self, budget: int):
        super().__init__()
        self.budget = budget
        self.nbytes = 0

    def put(self, key, value, nbytes: int):
        if self.nbytes + nbytes > self.budget:
            self.clear()
            self.nbytes = 0
        self[key] = value
        self.nbytes += nbytes
        return value


_RUN_CACHE = _Memo(8 << 20)  # hundreds of run tables

# rows of a run table (see _run_table)
_END, _NB, _KA, _OFF, _VOFF, _LUT = range(6)


@functools.lru_cache(maxsize=None)
def _val_rows() -> tuple[np.ndarray, np.ndarray]:
    """(values, base), shared by every run table. For a code of length
    ln with a magnitude of s bits (ln + s <= 16), the 2**(16 - ln) peeks
    that start with the code read each of the 2**s magnitudes in turn,
    2**(16 - ln - s) times; row ``base[ln, s]`` of ``values`` holds the
    sign-extended values of those peeks in order. Slot 0 starts 65536
    zeros, the row of every run that writes no value. ~2 MB of int16:
    a fast magnitude has at most 15 bits."""
    rows = [np.zeros(1 << 16, dtype=np.int16)]
    base = np.zeros((17, 17), dtype=np.int64)
    at = 1 << 16
    for ln in range(1, 17):
        for size in range(17 - ln):
            m = np.arange(1 << size)
            ext = m - (m < (1 << size) >> 1) * ((1 << size) - 1)
            rows.append(np.repeat(ext, 1 << (16 - ln - size)).astype(np.int16))
            base[ln, size] = at
            at += 1 << (16 - ln)
    return np.concatenate(rows), base


def _run_table(tc: int, bits: list[int], vals: list[int]) -> np.ndarray:
    """(6, runs) int64 run table of a Huffman table for the batch
    entropy step. The 16-bit peeks at the next stream bits split into
    runs: each code's 2**(16 - length) peeks, and the invalid gaps
    between codes. Per run:

    * ``_END`` the exclusive end of the run's peeks;
    * ``_NB``  bits consumed, code plus magnitude; 0 where the code is
      invalid or code + magnitude exceeds 16 bits (slow branch);
    * ``_KA``  zigzag advance: 1 for DC, run + 1 for AC, 16 for ZRL,
      64 for EOB (which always ends the block);
    * ``_OFF`` write offset from k, which is also the range-check offset
      (the serial "AC index out of range" fires when k + run > 63); EOB,
      ZRL and DC write their 0 / diff at k itself;
    * ``_VOFF`` where the run's values start in ``_val_rows``, less the
      run's first peek: the sign-extended coefficient (the DC diff for
      DC tables) of peek ``pk`` is ``values[VOFF + pk]``, 0 for runs of
      the slow branch;
    * ``_LUT`` the packed (length << 8) | symbol entry of
      ``_packed_lut``, which the slow branch decodes with.

    At most 2 * 256 + 1 runs, so a table costs a few KB and a few numpy
    calls however many distinct tables a corpus carries. Memoized on
    (table class, table bytes)."""
    key = (tc, tuple(bits), tuple(vals))
    tbl = _RUN_CACHE.get(key)
    if tbl is not None:
        return tbl
    codes = sorted(
        (code << (16 - ln), ln, sym)
        for sym, (code, ln) in _canonical_codes(bits, vals).items()
    )
    lo, ln, sym = np.array(codes, dtype=np.int64).reshape(-1, 3).T
    # run 2j is the gap before code j, run 2j + 1 the code, the last run
    # the gap after the last code; gaps keep length and symbol 0
    ends = np.full(2 * len(codes) + 1, 1 << 16, dtype=np.int64)
    ends[0:-1:2] = np.minimum(lo, 1 << 16)
    ends[1::2] = np.minimum(lo + (1 << (16 - ln)), 1 << 16)
    rl = np.zeros_like(ends)
    rs = np.zeros_like(ends)
    rl[1::2], rs[1::2] = ln, sym
    if tc == 0:
        size, ka, off = rs, np.ones_like(rs), np.zeros_like(rs)
    else:
        size, off = rs & 0xF, rs >> 4
        ka = off + 1
        ka[rs == 0x00], ka[rs == 0xF0] = 64, 16  # EOB, ZRL
        off[(rs == 0x00) | (rs == 0xF0)] = 0
    nb = rl + size
    fast = (rl > 0) & (nb <= 16)
    voff = _val_rows()[1][rl * fast, size * fast] - np.r_[0, ends[:-1]]
    tbl = np.stack(
        [ends, nb * fast, ka * fast, off * fast, voff, (rl << 8) | rs]
    )
    return _RUN_CACHE.put(key, tbl, tbl.nbytes)


_BATCH_CHUNK = 2048  # lanes per inner batch (bounds W and C memory)
_TAIL_BLOCKS = 8192  # blocks per dequant / IDCT / colour pass


def decode_jpeg_batch(payloads) -> list:
    """Decode many JPEG payloads; element i is the (h, w, 3) uint8 RGB
    array for payloads[i], or the exact Exception instance
    ``decode_jpeg(payloads[i])`` raises. Baseline single-scan 3-component
    payloads without restart intervals ride the vectorized multi-lane
    decoder; everything else (progressive, grayscale, DRI, malformed)
    falls back to the serial decoder per payload."""
    out: list = [None] * len(payloads)
    lanes: list[tuple[int, tuple, int]] = []
    for i, p in enumerate(payloads):
        start = _sniff_baseline(p)
        tpl = _lane_template(p, start) if start > 0 else None
        if tpl is None:
            out[i] = _decode_scalar(p)
        else:
            lanes.append((i, tpl, start))
    # lanes sharing a signature are contiguous, so every per-block
    # schedule is one tile per signature run
    lanes.sort(key=lambda ln: id(ln[1][4]))
    for lo in range(0, len(lanes), _BATCH_CHUNK):
        _decode_lane_chunk(payloads, lanes[lo: lo + _BATCH_CHUNK], out)
    return out


_HDR_CACHE = _Memo(16 << 20)
_SIG_CACHE = _Memo(4 << 20)


def _lane_template(p: bytes, scan_start: int):
    """(w, h, mcus_x, mcus_y, signature) for a payload's HEADER, or None
    when the header needs the serial decoder. The signature holds what
    lanes share a chunk-wide pass on — sampling pattern, per-MCU
    component ids, the keys of the DC / AC run tables and the zigzag
    quant tables per component — and is interned, so lanes group by
    identity. It holds table keys, not tables: run tables live only in
    their own memo. Both are memoized on raw bytes: a corpus re-uses a
    handful of encoder settings, so a header is parsed once and per-lane
    prep is one dict hit."""
    hdr = p[:scan_start]
    if hdr in _HDR_CACHE:
        return _HDR_CACHE[hdr]
    ctx = _parse_baseline_for_batch(p)
    tpl = None
    size = len(hdr)
    if ctx is not None and ctx["scan_start"] == scan_start:
        comps = ctx["comps"]
        pattern = tuple((c["h"], c["v"]) for c in comps)
        dc = tuple(
            (0, tuple(b), tuple(v))
            for b, v in (ctx["huff"][(0, c["td"])] for c in comps)
        )
        ac = tuple(
            (1, tuple(b), tuple(v))
            for b, v in (ctx["huff"][(1, c["ta"])] for c in comps)
        )
        qts = [ctx["qts"][c["tq"]] for c in comps]
        key = (pattern, dc + ac, b"".join(q.tobytes() for q in qts))
        # table tuples at 8 bytes a slot, plus the quant tables
        sig_size = 8 * sum(len(b) + len(v) for _, b, v in dc + ac) + 2048
        size += sig_size
        sig = _SIG_CACHE.get(key)
        if sig is None:
            sig = _SIG_CACHE.put(key, (
                pattern,
                np.repeat(np.arange(len(comps)), [h * v for h, v in pattern]),
                dc, ac, [q[ZZ] for q in qts],
            ), sig_size)
        hmax = max(h for h, _ in pattern)
        vmax = max(v for _, v in pattern)
        tpl = (
            ctx["w"], ctx["h"], -(-ctx["w"] // (8 * hmax)),
            -(-ctx["h"] // (8 * vmax)), sig,
        )
    # an entry keeps its signature alive, so it is sized with it
    return _HDR_CACHE.put(hdr, tpl, size)


def _row(arr: np.ndarray, seen: dict[int, int], items: list) -> int:
    """Row id of ``arr`` in a chunk-wide stack, appending it on first
    sight (keyed by identity: signatures share cached quant tables)."""
    r = seen.get(id(arr))
    if r is None:
        r = seen[id(arr)] = len(items)
        items.append(arr)
    return r


def _decode_lane_chunk(payloads, lanes, out) -> None:
    """Decode one chunk of eligible lanes, sorted by signature: entropy
    step, DC predictions, then dequant + IDCT + colour conversion in
    passes of at most ``_TAIL_BLOCKS`` blocks. Results land in ``out``
    positionally; failed lanes are re-decoded serially (the serial
    decoder is the authority on exceptions)."""
    # one segment per lane: a restart marker inside the scan sends the
    # lane to the serial decoder. A lane's windows start at bit ``bit0``
    # of ``W`` and it may consume bits up to ``bitend`` (its window
    # count, in bits); a read past them stays in bounds.
    W, w0, count, seg_part, _ = _scan_windows(
        [payloads[i][s:] for i, _, s in lanes]
    )
    single = np.bincount(seg_part, minlength=len(lanes)) == 1
    one = single[seg_part]
    bit0, bitend = 8 * w0[one], 8 * (w0[one] + count[one] + 1)
    for (i, _, _), ok in zip(lanes, single):
        if not ok:
            out[i] = _decode_scalar(payloads[i])
    lanes = [ln for ln, ok in zip(lanes, single) if ok]
    nl = len(lanes)
    if not nl:
        return
    n_mcus = np.array([t[2] * t[3] for _, t, _ in lanes], dtype=np.int64)
    runs = []
    lo = 0
    for li in range(1, nl + 1):
        if li == nl or lanes[li][1][4] is not lanes[lo][1][4]:
            runs.append((lanes[lo][1][4], lo, li))
            lo = li
    tables: dict[tuple, int] = {}  # run table key -> table number
    quants: dict[int, int] = {}
    quant_list: list[np.ndarray] = []
    tsel, qrow, comp = [], [], []
    nblocks = np.empty(nl, dtype=np.int64)
    for (_, mcu, dc_k, ac_k, qzz), lo, hi in runs:
        dc_r = np.array([tables.setdefault(k, len(tables)) for k in dc_k])
        ac_r = np.array([tables.setdefault(k, len(tables)) for k in ac_k])
        q_r = np.array([_row(q, quants, quant_list) for q in qzz])
        m = int(n_mcus[lo:hi].sum())
        pair = np.stack([dc_r[mcu], ac_r[mcu]], axis=1).ravel() << 16
        tsel.append(np.tile(pair, m))
        qrow.append(np.tile(q_r[mcu], m))
        comp.append(np.tile(mcu, m))
        nblocks[lo:hi] = n_mcus[lo:hi] * mcu.size

    blk0 = np.cumsum(nblocks) - nblocks
    blkend = blk0 + nblocks
    # the chunk's run tables side by side, table t's peeks at t << 16
    F = [_run_table(*k) for k in tables]
    width = [t.shape[1] for t in F]
    F = np.concatenate(F, axis=1)
    F[_END] += np.repeat(np.arange(len(width)) << 16, width)
    C = np.zeros((int(blkend[-1]), 64), dtype=np.int64)
    failed = _decode_entropy_lanes(
        W, F, np.concatenate(tsel), C.reshape(-1), bit0, bitend, blk0,
        blkend,
    )

    # DC predictions: C[:, 0] holds diffs; a stable per-(lane,
    # component) cumulative sum turns them into the serial decoder's
    # running predictor values
    key = np.repeat(np.arange(nl) * 4, nblocks) + np.concatenate(comp)
    order = np.argsort(key, kind="stable")
    diffs = C[order, 0]
    run = np.cumsum(diffs)
    ks = key[order]
    new = np.r_[True, ks[1:] != ks[:-1]]
    base = run[new] - diffs[new]
    C[order, 0] = run - base[np.cumsum(new) - 1]

    quant = np.stack(quant_list)
    qrow = np.concatenate(qrow)
    for (pattern, *_), lo, hi in runs:
        while lo < hi:
            # whole lanes, at most _TAIL_BLOCKS blocks (or one lane)
            mid = int(np.searchsorted(
                blkend, blk0[lo] + _TAIL_BLOCKS, side="right"
            ))
            mid = min(max(mid, lo + 1), hi)
            b0, b1 = int(blk0[lo]), int(blkend[mid - 1])
            # dequant + IDCT: the same arithmetic, hence the same bits,
            # as _assemble_scan's per-component form
            deq = quant[qrow[b0:b1]]
            deq *= C[b0:b1]
            px = DCT.T @ deq[:, UNZZ].reshape(-1, 8, 8).astype(np.float64)
            del deq
            px = px @ DCT
            px += 128.0
            rgb = _mcu_rgb(px, pattern)
            del px
            mh, mw = rgb.shape[1:3]
            m = 0
            for li in range(lo, mid):
                i, (w, h, mcus_x, mcus_y, _), _ = lanes[li]
                if failed[li]:
                    out[i] = _decode_scalar(payloads[i])
                else:
                    img = (
                        rgb[m: m + n_mcus[li]]
                        .reshape(mcus_y, mcus_x, mh, mw, 3)
                        .transpose(0, 2, 1, 3, 4)
                        .reshape(mcus_y * mh, mcus_x * mw, 3)
                    )
                    out[i] = img[:h, :w].copy()
                m += n_mcus[li]
            lo = mid


def _mcu_rgb(px: np.ndarray, pattern: tuple) -> np.ndarray:
    """IDCT'd blocks of whole MCUs (MCU visit order) -> (n_mcus, 8 vmax,
    8 hmax, 3) uint8 RGB: each component's blocks tile its MCU, chroma
    is upsampled by nearest repetition, and the colour conversion is
    _finish_scan's, element for element. Chroma products are taken
    before upsampling (which only repeats values), one output channel
    at a time, to keep the float temporaries small."""
    hmax = max(hh for hh, _ in pattern)
    vmax = max(vv for _, vv in pattern)
    mcus = px.reshape(-1, sum(hh * vv for hh, vv in pattern), 8, 8)
    planes = []
    s = 0
    for hh, vv in pattern:
        planes.append(
            mcus[:, s: s + hh * vv]
            .reshape(-1, vv, hh, 8, 8)
            .transpose(0, 1, 3, 2, 4)
            .reshape(-1, vv * 8, hh * 8)
        )
        s += hh * vv

    def full(x, ci):
        hh, vv = pattern[ci]
        if vmax > vv:
            x = np.repeat(x, vmax // vv, axis=1)
        if hmax > hh:
            x = np.repeat(x, hmax // hh, axis=2)
        return x

    def channels():
        yield y + full(1.402 * cr, 2)
        g = y - full(0.344136 * cb, 1)
        g -= full(0.714136 * cr, 2)
        yield g
        yield y + full(1.772 * cb, 1)

    y = full(planes[0], 0)
    cb, cr = planes[1] - 128.0, planes[2] - 128.0
    rgb = np.empty(y.shape + (3,), dtype=np.uint8)
    for c, v in enumerate(channels()):
        np.round(v, out=v)
        rgb[..., c] = np.clip(v, 0, 255, out=v)
    return rgb


def _decode_scalar(payload: bytes):
    """decode_jpeg with the exception captured instead of raised (the
    batch API reports per-payload failures positionally)."""
    try:
        return decode_jpeg(payload)
    except Exception as exc:  # re-raised by the caller per payload
        return exc


def _decode_entropy_lanes(W, F, tsel, C, bit0, bitend, blk0, blkend
                          ) -> np.ndarray:
    """The multi-lane entropy step: one Huffman symbol per active lane
    per iteration, through the run tables ``F`` (``_run_table`` rows,
    tables side by side, table t's ``_END`` raised by t << 16;
    ``tsel[2 * block + (k > 0)]`` is t << 16 for a block's DC / AC
    table, so one ``searchsorted`` of ``tsel + peek`` finds every lane's
    run). Writes zigzag coefficients into the flat ``C`` (64 per block,
    DC diffs at slot 0) and returns the per-lane failed mask. A write
    offset past 63 fails the lane, so it is clipped to 63: the lane's
    own block takes the stray write, never a neighbour's.

    A lane fails on every condition the serial loop raises for (invalid
    code, AC index out of range, reading past the window array) and,
    conservatively, on DC magnitudes over 16 bits; the caller redoes
    failed lanes serially, so failure is only detected here, never
    classified. Bit positions are chunk-absolute, and a lane fails once
    its position passes ``bitend``: the serial decoder reads a symbol's
    code and magnitude from windows at or below the one holding the
    symbol's last bit, so a lane that stays within ``bitend`` never made
    a read the serial decoder fails on."""
    nl = bit0.size
    failed = np.zeros(nl, dtype=bool)
    END, NB, KA, OFF, VOFF = F[_END], F[_NB], F[_KA], F[_OFF], F[_VOFF]
    values = _val_rows()[0]
    # per-lane state, one row each, always compacted to the live lanes
    S = np.stack([
        bit0, np.zeros(nl, dtype=np.int64), 2 * blk0, 64 * blk0,
        bitend, 2 * blkend, np.arange(nl, dtype=np.int64),
    ])
    # every live step consumes >= 1 bit, so no lane outlives its bits
    for _ in range(int((bitend - bit0).max(initial=0)) + 2):
        if S.shape[1] == 0:
            break
        bp, k, g2, pos0, bend, gend, lane = S
        pk = (W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF
        r = END.searchsorted(tsel[g2 + (k > 0)] + pk, side="right")
        nb = NB[r]
        ko = k + OFF[r]
        C[pos0 + np.minimum(ko, 63)] = values[VOFF[r] + pk]
        bp += nb
        k += KA[r]
        # count_nonzero, not .all() / .any(): those add a Python-level
        # wrapper call per step, a tenth of the step at this width
        if np.count_nonzero(nb) < nb.size:
            _slow_symbols(W, F, C, S, r, nb == 0, ko)
        done = k >> 6  # 1 once the block's last coefficient is decoded
        g2 += done << 1
        pos0 += done << 6
        k &= done - 1
        live = (ko <= 63) & (bp <= bend)
        if np.count_nonzero(live) < live.size:
            failed[lane[~live]] = True
            live &= g2 < gend
            S = S[:, live]
        elif np.count_nonzero(g2 >= gend):
            S = S[:, g2 < gend]
    else:
        failed[S[6]] = True  # step bound hit: never terminated
    return failed


def _slow_symbols(W, F, C, S, r, slow, ko) -> None:
    """Masked slow branch for the lanes whose run has 0 bits: an
    invalid code, or code + magnitude longer than the 16-bit peek. Decode
    the symbol the serial way (packed LUT, second window read for the
    magnitude) and apply it in place; ``ko`` takes the range-check /
    write offset, set past 63 on invalid codes so the lane fails."""
    s = np.flatnonzero(slow)
    bp, k, pos0 = S[0, s], S[1, s], S[3, s]
    e = F[_LUT, r[s]]
    ln = e >> 8
    sym = e & 0xFF
    isdc = k == 0
    size = np.where(isdc, sym, sym & 0xF)
    run = np.where(isdc, 0, sym >> 4)
    bad = (ln == 0) | (size > 16)  # serial: invalid code / wide shift
    p2 = bp + ln
    sz = np.clip(size, 1, 16)
    mv = (W[p2 >> 3] >> (32 - (p2 & 7) - sz)) & ((1 << sz) - 1)
    ext = np.where(mv >= (1 << (sz - 1)), mv, mv - (1 << sz) + 1)
    kk = k + run
    C[pos0 + np.minimum(kk, 63)] = np.where(size > 0, ext, 0)
    S[0, s] = p2 + size
    S[1, s] = kk + 1
    ko[s] = np.where(bad, 64, kk)
