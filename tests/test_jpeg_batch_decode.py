"""The multi-lane batch JPEG decoder must be pixel-exact AND
exception-exact against the serial decoder it accelerates
(decode_jpeg_batch keeps one lane of state per payload and decodes one
Huffman symbol per active lane per numpy step through per-table run
lookups; anything the fast path does not model falls back to
decode_jpeg, which stays the authority on both pixels and errors)."""

import struct

import numpy as np

from dd_ops_ocr_spark.operators import jpeg as J
from dd_ops_ocr_spark.operators.multimodal import (
    ahash64,
    ahash64_batch,
    ahash64_cells,
    decode_images_batch,
    synth_jpeg_payload,
)


def _mixed_payloads():
    rng = np.random.default_rng(20260821)
    out = []
    for t in range(80):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        q = int(rng.choice([10, 50, 75, 95, 100]))
        sub = str(rng.choice(["4:4:4", "4:2:0"]))
        if t % 3 == 0:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        elif t % 3 == 1:
            px = np.full((h, w, 3), int(rng.integers(0, 256)), np.uint8)
        else:
            px = (
                np.add.outer(np.arange(h), np.arange(w))[:, :, None]
                * np.array([3, 5, 7]) % 256
            ).astype(np.uint8)
        out.append(J.encode_jpeg(px, quality=q, subsampling=sub))
    return out


def test_batch_decode_pixel_exact():
    payloads = _mixed_payloads() + [
        synth_jpeg_payload(f"media_{i:06d}.bin") for i in range(40)
    ]
    serial = [J.decode_jpeg(p) for p in payloads]
    batch = J.decode_jpeg_batch(payloads)
    assert len(batch) == len(serial)
    for s, b in zip(serial, batch):
        assert isinstance(b, np.ndarray)
        assert np.array_equal(s, b)


def test_batch_decode_exception_class_parity():
    good = _mixed_payloads()[0]
    corrupt = bytearray(good)
    corrupt[len(good) // 2] ^= 0xFF
    malformed = [
        good[: len(good) // 2],      # truncated mid-scan
        good[:30],                   # truncated header
        b"\xff\xd8\xff\xd9",         # no SOS
        b"notajpeg",
        bytes(corrupt),              # bit-flipped entropy data
    ]
    for m in malformed:
        try:
            J.decode_jpeg(m)
            expect = None
        except Exception as exc:
            expect = type(exc)
        got = J.decode_jpeg_batch([m, good])
        if expect is None:
            assert isinstance(got[0], np.ndarray)
        else:
            assert isinstance(got[0], expect), (expect, got[0])
        # a bad lane never poisons its neighbors
        assert isinstance(got[1], np.ndarray)
        assert np.array_equal(got[1], J.decode_jpeg(good))


def test_batch_decode_progressive_falls_back():
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    prog = J.encode_jpeg_progressive(px, quality=95, subsampling="4:2:0")
    assert J._parse_baseline_for_batch(prog) is None  # SOF2 -> serial
    got = J.decode_jpeg_batch([prog])
    assert isinstance(got[0], np.ndarray)
    assert np.array_equal(got[0], J.decode_jpeg(prog))


def test_decode_images_batch_raises_first_in_order():
    good = synth_jpeg_payload("media_000001.bin")
    bad = good[: len(good) // 2]
    try:
        decode_images_batch([good, bad, b"nope"])
        raise AssertionError("expected EOFError")
    except EOFError:
        pass  # the FIRST failing payload's class, not the later one


def _variants(base, n, seed):
    """Seeded damaged copies of ``base`` entries: every third one
    truncated at a random byte, the rest with 1-3 random bit flips."""
    rng = np.random.default_rng(seed)
    out = []
    for t in range(n):
        p = bytearray(base[int(rng.integers(len(base)))])
        if t % 3 == 0:
            out.append(bytes(p[: int(rng.integers(2, len(p)))]))
            continue
        for _ in range(int(rng.integers(1, 4))):
            p[int(rng.integers(len(p)))] ^= 1 << int(rng.integers(8))
        out.append(bytes(p))
    return out


def _assert_parity(payloads, got):
    """Pixels and dtype on success, exception class and message on
    failure; returns the number of failing payloads."""
    n_err = 0
    for p, g in zip(payloads, got):
        try:
            want = J.decode_jpeg(p)
        except Exception as exc:
            n_err += 1
            assert type(g) is type(exc) and str(g) == str(exc), (exc, g)
            continue
        assert isinstance(g, np.ndarray), g
        assert g.dtype == want.dtype and np.array_equal(g, want)
    return n_err


def test_batch_decode_fuzz_parity(monkeypatch):
    slow = []
    real_slow = J._slow_symbols

    def counting(W, F, C, S, idx, mask, ko):
        slow.append(int(mask.sum()))
        return real_slow(W, F, C, S, idx, mask, ko)

    monkeypatch.setattr(J, "_slow_symbols", counting)
    base = _mixed_payloads() + [
        synth_jpeg_payload(f"media_{i:06d}.bin") for i in range(20)
    ]
    # clean streams reach the slow branch only through code + magnitude
    # longer than 16 bits (q100 noise has AC coefficients >= 256)
    assert _assert_parity(base, J.decode_jpeg_batch(base)) == 0
    assert sum(slow) > 0
    damaged = _variants(base, 240, seed=20261017)
    n_err = _assert_parity(damaged, J.decode_jpeg_batch(damaged))
    assert 0 < n_err < len(damaged)


def test_non_baseline_payloads_skip_the_header_parse(monkeypatch):
    """The marker sniff sends SOF2 and nonzero-DRI payloads straight to
    the serial decoder: the batch header parse never sees them."""
    parsed = []
    real_parse = J._parse_baseline_for_batch

    def counting(payload):
        parsed.append(payload)
        return real_parse(payload)

    monkeypatch.setattr(J, "_parse_baseline_for_batch", counting)
    monkeypatch.setattr(J, "_HDR_CACHE", J._Memo(1 << 20))
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    prog = J.encode_jpeg_progressive(px, quality=95, subsampling="4:2:0")
    base = J.encode_jpeg(px, quality=95, subsampling="4:2:0")
    dri = base[:2] + b"\xff\xdd\x00\x04\x00\x01" + base[2:]
    payloads = [prog, dri, base]
    _assert_parity(payloads, J.decode_jpeg_batch(payloads))
    assert parsed == [base]


def test_ahash64_batch_matches_ahash64():
    rng = np.random.default_rng(11)
    imgs = [J.decode_jpeg(p) for p in _mixed_payloads()]  # 1x1 .. 69x69
    imgs += [
        np.zeros((1, 1, 3), np.uint8),
        rng.integers(0, 256, (70, 70, 3), dtype=np.uint8),
        rng.integers(0, 256, (40, 90, 3), dtype=np.uint8)[::3, 1::2],
    ]
    # seed-1 benchmark payloads whose threshold is a float tie: summing
    # the 8x8 cells in any order but ahash64's flips a bit
    imgs += [
        J.decode_jpeg(synth_jpeg_payload(ref))
        for ref in ("img_10040681_3_123", "img_10096182_1_381")
    ]
    got = ahash64_batch([ahash64_cells(im) for im in imgs])
    assert got.dtype == np.int64
    assert got.tolist() == [ahash64(im) for im in imgs]
    assert ahash64_batch([]).tolist() == []


def test_entropy_segments_format():
    """The segment format both decoders share: FF 00 unstuffing, fill
    FFs before a marker dropped, RSTn splitting, the terminator's
    offset (before fill trimming) and zero-tailed 32-bit windows."""
    cases = [
        # FF 00 -> FF; the FF before FF D9 is fill
        (bytes([0x12, 0xFF, 0x00, 0x34, 0xFF, 0xFF, 0xD9]),
         [[0x12FF3400, 0xFF340000, 0x34000000, 0]], 5),
        # an RST splits the scan; the next marker ends it
        (bytes([0xAB, 0xFF, 0xD0, 0xCD, 0xFF, 0xD9]),
         [[0xAB000000, 0], [0xCD000000, 0]], 4),
        # no terminator: the scan runs to the end of the payload
        (bytes([0x01, 0x02]), [[0x01020000, 0x02000000, 0]], 2),
        # nothing but fill before the marker
        (bytes([0xFF, 0xFF, 0xFF, 0xC0]), [[0]], 2),
    ]
    for payload, segs, end in cases:
        assert J._entropy_segments(payload, 0) == (segs, end)
        assert J._entropy_segments(b"\x00\x00" + payload, 2) == (
            segs, end + 2
        )
    # many scans at once give each scan's own segments
    parts = [p for p, _, _ in cases] + _variants(_mixed_payloads(), 30, 4)
    W, w0, count, seg_part, end = J._scan_windows(parts)
    for j, p in enumerate(parts):
        segs, e = J._entropy_segments(p, 0)
        mine = np.flatnonzero(seg_part == j)
        assert [W[w0[i]: w0[i] + count[i] + 1].tolist() for i in mine] == segs
        assert end[j] == e


def _with_extra_codes(payload: bytes, j: int) -> bytes:
    """``payload`` with one unused code added to each of its Huffman
    tables, chosen by ``j``: the scan decodes exactly as before, but
    every j gives four tables of its own, like per-image optimized
    tables."""
    out = bytearray(payload[:2])
    pos = 2
    t = 0
    while True:
        marker = payload[pos + 1]
        (n,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4: pos + 2 + n]
        if marker == 0xC4:
            bits, vals = list(seg[1:17]), list(seg[17:])
            k = 4 * j + t
            t += 1
            if seg[0] >> 4 == 0:  # DC: 12 codes of length 4 are in use
                bits[4 + k % 12] += 1
                vals.append(12 + k // 12 % 4)
            else:  # AC: 162 codes of length 8
                bits[8 + k % 8] += 1
                vals.append((k // 8 % 16) << 4 | 11 + k // 128 % 5)
            body = bytes([seg[0]]) + bytes(bits) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
        else:
            out += payload[pos: pos + 2 + n]
        pos += 2 + n
        if marker == 0xDA:
            return bytes(out + payload[pos:])


def test_batch_caches_stay_bounded_on_one_off_tables(monkeypatch):
    """Per-image Huffman and quant tables: every payload brings new
    run tables and a new header. Each memo stays within its byte
    budget, and header and signature entries hold table keys, never
    the run tables themselves."""
    budget = 64 << 10
    for name in ("_RUN_CACHE", "_HDR_CACHE", "_SIG_CACHE"):
        monkeypatch.setattr(J, name, J._Memo(budget))
    rng = np.random.default_rng(9)
    payloads = [
        _with_extra_codes(J.encode_jpeg(
            rng.integers(0, 256, (int(rng.integers(8, 40)), 24, 3),
                         dtype=np.uint8),
            quality=30 + j,
        ), j)
        for j in range(40)
    ]
    assert _assert_parity(payloads, J.decode_jpeg_batch(payloads)) == 0
    for memo in (J._RUN_CACHE, J._HDR_CACHE, J._SIG_CACHE):
        assert 0 < memo.nbytes <= budget
    # 160 distinct tables went through a memo that holds a few of them
    assert len(J._RUN_CACHE) < 40

    def arrays(x):
        if isinstance(x, np.ndarray):
            yield x
        elif isinstance(x, (tuple, list)):
            for y in x:
                yield from arrays(y)

    held = list(arrays(list(J._HDR_CACHE.values())))
    held += list(arrays(list(J._SIG_CACHE.values())))
    assert held and max(a.nbytes for a in held) <= 512


def test_run_table_matches_packed_lut():
    """Every 16-bit peek, looked up through a run table, gives the
    serial decoder's packed LUT entry and, where code + magnitude fit
    the peek, the bits consumed and the sign-extended value; otherwise
    0 bits (the slow branch) and value 0. Standard, random, overfull,
    duplicate-symbol and empty tables."""
    rng = np.random.default_rng(16)
    tables = [(0, J._ENC_DC_BITS, J._DC_SYMS), (1, J._ENC_AC_BITS, J._AC_SYMS),
              (0, [0] * 16, []), (1, [0] * 15 + [1], [0xF0])]
    for t in range(60):
        bits = [int(b) for b in rng.integers(0, 4 if t % 3 else 30, 16)]
        vals = [int(v) for v in rng.integers(0, 256, sum(bits))]
        if t % 4 == 0 and vals:
            vals[-1] = vals[0]
        tables.append((t % 2, bits, vals))
    pk = np.arange(1 << 16)
    values = J._val_rows()[0]
    for tc, bits, vals in tables:
        F = J._run_table(tc, bits, vals)
        r = F[J._END].searchsorted(pk, side="right")
        lut = J._packed_lut(bits, vals)
        assert np.array_equal(F[J._LUT][r], lut)
        ln, sym = lut >> 8, lut & 0xFF
        size = sym if tc == 0 else sym & 0xF
        fast = (ln > 0) & (ln + size <= 16)
        nb = np.where(fast, ln + size, 0)
        assert np.array_equal(F[J._NB][r], nb)
        mag = (pk >> (16 - nb)) & ((1 << np.where(fast, size, 0)) - 1)
        half = (1 << np.where(fast, size, 0)) >> 1
        want = np.where(mag < half, mag - 2 * half + 1, mag)
        assert np.array_equal(values[F[J._VOFF][r] + pk], want)
