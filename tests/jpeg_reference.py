"""Test-side reference for the JPEG encoder's vectorized scan emitter:
the serial T.81 F.1 baseline scan emission it replaced, kept as the
executable spec that ``jpeg._emit_scan_vector`` is pinned against and
as the arbiter when debugging it."""

from __future__ import annotations

from dd_ops_ocr_spark.operators import jpeg as J


def emit_scan_serial(comps_q, mcus_y: int, mcus_x: int,
                     hs: int, vs: int) -> bytes:
    """Reference (serial, per-coefficient) baseline scan emission —
    the T.81 F.1 procedure written out plainly. ``jpeg._emit_scan_vector``
    must produce byte-identical output (test_jpeg_emit.py pins it)."""
    dc_codes = J._ENC_DC_CODES
    ac_codes = J._ENC_AC_CODES
    buf = bytearray()
    append = buf.append
    acc = 0
    nbits = 0

    def put(code: int, ln: int) -> None:
        nonlocal acc, nbits
        acc = (acc << ln) | code
        nbits += ln
        while nbits >= 8:
            nbits -= 8
            b = (acc >> nbits) & 0xFF
            append(b)
            if b == 0xFF:
                append(0x00)  # byte stuffing
        acc &= (1 << nbits) - 1

    def emit(ci: int, bi: int, pred: int) -> int:
        rows, lasts, _ = comps_q[ci]
        coef = rows[bi]
        last = int(lasts[bi])
        dc = int(coef[0])
        diff = dc - pred
        if diff == 0:
            c, ln = dc_codes[0]
            put(c, ln)
        else:
            size = diff.bit_length() if diff > 0 else (-diff).bit_length()
            c, ln = dc_codes[size]
            put(c, ln)
            put(diff if diff > 0 else diff + (1 << size) - 1, size)
        run = 0
        for k in range(1, last + 1):
            v = int(coef[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                c, ln = ac_codes[0xF0]  # ZRL
                put(c, ln)
                run -= 16
            size = v.bit_length() if v > 0 else (-v).bit_length()
            c, ln = ac_codes[(run << 4) | size]
            put(c, ln)
            put(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
        if last < 63:
            c, ln = ac_codes[0x00]  # EOB
            put(c, ln)
        return dc

    ybw_blocks = comps_q[0][2]
    cbw_blocks = comps_q[1][2]
    p0 = p1 = p2 = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(vs):
                base = (my * vs + by) * ybw_blocks + mx * hs
                for bx in range(hs):
                    p0 = emit(0, base + bx, p0)
            cbi = my * cbw_blocks + mx
            p1 = emit(1, cbi, p1)
            p2 = emit(2, cbi, p2)
    if nbits:  # pad the final partial byte with 1-bits (T.81 B.1.1.5)
        pad = 8 - nbits
        b = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        append(b)
        if b == 0xFF:
            append(0x00)
    return bytes(buf)
