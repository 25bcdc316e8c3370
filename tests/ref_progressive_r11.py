"""Verbatim pre-r12 ``_decode_jpeg_progressive`` (the per-bit _BitReader
form), kept as the differential-test oracle for the r12 _FastBits/LUT
rewrite of the progressive decoder — the same pinning discipline as the
r11 lossless/baseline conversions (truncation and bit-flip refusal parity
included).  Do not modernize: its value is being byte-for-byte the old
decoder."""

import numpy as np

from ref_bitio import _BitReader, _read_huff_sym
from worlddatapipeline_spark.operators.multimodal import (
    _jpeg_extend,
    _jpeg_geometry,
    _parse_dht,
    _parse_dqt,
    _parse_sof,
    _planes_to_pixels,
    _true_block_grid,
    _dct_basis,
    _JPEG_ZIGZAG,
)


def decode_jpeg_progressive_r11(data: bytes) -> np.ndarray:
    """Huffman-progressive JPEG decode (SOF2): coefficients accumulate
    across scans — DC first/refinement (interleaved or single-component)
    and AC first/refinement per component with spectral selection (Ss–Se)
    and successive approximation (Ah/Al), EOB runs included — then one
    dequantize + IDCT pass at EOI.  Restart intervals (DRI/RSTm) are
    supported in every scan kind: the interval counts the scan's own MCUs
    (interleaved MCUs in a multi-component DC scan, single data units in
    non-interleaved scans, T.81 §A.2.2/§E.2.4), each marker byte-aligns,
    is cycle-checked 0–7, and resets the DC predictors and EOB run.
    Arithmetic-coded progressive (SOF10) never reaches here (refused at
    the marker walk)."""
    import struct  # noqa: PLC0415

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int, int]] = []
    h = w = None
    hmax = vmax = 1
    mcus_x = mcus_y = 0
    coefs: list[np.ndarray] = []
    preds_dc: list[int] = []
    restart_interval = 0
    got_scan = False

    def next_marker(p):
        while p + 1 < len(data):
            if (
                data[p] == 0xFF
                and data[p + 1] != 0x00
                and not (0xD0 <= data[p + 1] <= 0xD7)
            ):
                return p
            p += 1
        return len(data)

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDB:
            _parse_dqt(body, qtables)
        elif marker == 0xC2:
            h, w, comps = _parse_sof(body)
            hmax, vmax, mcus_x, mcus_y, n_blocks = _jpeg_geometry(
                comps, h, w
            )
            # same untrusted-header guards as the sequential path, with
            # the payload floor relaxed to 1 bit/block (the DC-first scan
            # alone costs that much)
            if n_blocks * 64 > 268_435_456:
                raise ValueError("JPEG dimensions exceed decode cap")
            if n_blocks > max(0, len(data) - pos) * 8 + 64:
                raise ValueError("JPEG scan too short for declared dims")
            coefs = [
                np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int64)
                for _, hs, vs, _ in comps
            ]
            preds_dc = [0] * len(comps)
        elif marker == 0xC4:
            _parse_dht(body, htables)
        elif marker == 0xDA:
            if not comps:
                raise ValueError("JPEG scan before SOF")
            ns = body[0]
            scom = []
            for si in range(ns):
                cid, tabs_b = body[1 + 2 * si], body[2 + 2 * si]
                ci = next(
                    i for i, c in enumerate(comps) if c[0] == cid
                )
                scom.append((ci, tabs_b >> 4, tabs_b & 0x0F))
            ss, se, aa = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = aa >> 4, aa & 0x0F
            if ss > se or se > 63 or al > 13:
                raise ValueError("bad progressive scan parameters")
            br = _BitReader(data, pos + 2 + seglen)

            def sync_restart(unit_i):
                """Byte-align + consume the RSTm due before scan-MCU
                ``unit_i``, verify the 0–7 cycle (T.81 §E.2.4)."""
                m = br.restart_sync()
                if m != (unit_i // restart_interval - 1) & 0x07:
                    raise ValueError("JPEG restart marker out of sequence")

            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan with nonzero Se")
                # One entry per SCAN MCU: a multi-component DC scan is
                # interleaved (vs×hs blocks per component per MCU); a
                # single-component scan's MCU is one data unit (§A.2.2).
                # Restart intervals count these units.
                if ns == len(comps) and ns > 1:
                    units = [
                        [
                            (
                                ci,
                                my * comps[ci][2] + byy,
                                mx * comps[ci][1] + bxx,
                            )
                            for ci, _, _ in scom
                            for byy in range(comps[ci][2])
                            for bxx in range(comps[ci][1])
                        ]
                        for my in range(mcus_y)
                        for mx in range(mcus_x)
                    ]
                else:
                    if ns != 1:
                        raise ValueError("partial multi-component DC scan")
                    ci0 = scom[0][0]
                    bh_t, bw_t = _true_block_grid(
                        h, w, comps[ci0][1], comps[ci0][2], hmax, vmax
                    )
                    units = [
                        [(ci0, by, bx)]
                        for by in range(bh_t)
                        for bx in range(bw_t)
                    ]
                dctabs = {ci: htables.get((0, dc)) for ci, dc, _ in scom}
                p1 = 1 << al
                unit_i = 0
                for unit in units:
                    if (
                        restart_interval
                        and unit_i
                        and unit_i % restart_interval == 0
                    ):
                        sync_restart(unit_i)
                        preds_dc = [0] * len(comps)
                    unit_i += 1
                    for ci, by, bx in unit:
                        if ah == 0:
                            tab = dctabs[ci]
                            if tab is None:
                                raise ValueError("missing DC huffman table")
                            size = _read_huff_sym(br, tab)
                            preds_dc[ci] += _jpeg_extend(br.bits(size), size)
                            coefs[ci][by, bx, 0] = preds_dc[ci] << al
                        elif br.bit():
                            coefs[ci][by, bx, 0] |= p1
            else:
                if ns != 1:
                    raise ValueError("interleaved AC scan is illegal")
                ci0, _, ac_t = scom[0]
                tab = htables.get((1, ac_t))
                if tab is None:
                    raise ValueError("missing AC huffman table")
                bh_t, bw_t = _true_block_grid(
                    h, w, comps[ci0][1], comps[ci0][2], hmax, vmax
                )
                eobrun = 0
                p1, m1 = 1 << al, -1 << al
                blk_i = 0
                for by in range(bh_t):
                    for bx in range(bw_t):
                        if (
                            restart_interval
                            and blk_i
                            and blk_i % restart_interval == 0
                        ):
                            # non-interleaved scan: MCU = one data unit;
                            # restart resets the EOB run (a conformant
                            # encoder never lets one span the marker)
                            sync_restart(blk_i)
                            eobrun = 0
                        blk_i += 1
                        zz = coefs[ci0][by, bx]
                        if ah == 0:
                            if eobrun > 0:
                                eobrun -= 1
                                continue
                            k = ss
                            while k <= se:
                                sym = _read_huff_sym(br, tab)
                                r, s = sym >> 4, sym & 0x0F
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    eobrun = (1 << r) - 1
                                    if r:
                                        eobrun += br.bits(r)
                                    break
                                k += r
                                if k > se:
                                    raise ValueError("AC run past band end")
                                zz[k] = _jpeg_extend(br.bits(s), s) << al
                                k += 1
                        else:
                            k = ss
                            if eobrun == 0:
                                while k <= se:
                                    sym = _read_huff_sym(br, tab)
                                    r, s = sym >> 4, sym & 0x0F
                                    if s:
                                        if s != 1:
                                            raise ValueError(
                                                "bad refinement symbol"
                                            )
                                        val = p1 if br.bit() else m1
                                    else:
                                        if r != 15:
                                            eobrun = 1 << r
                                            if r:
                                                eobrun += br.bits(r)
                                            break
                                        val = 0
                                    while k <= se:
                                        c = int(zz[k])
                                        if c != 0:
                                            if br.bit() and not (c & p1):
                                                zz[k] = c + (
                                                    p1 if c >= 0 else m1
                                                )
                                        else:
                                            r -= 1
                                            if r < 0:
                                                break
                                        k += 1
                                    if val and k <= se:
                                        zz[k] = val
                                    k += 1
                            if eobrun > 0:
                                while k <= se:
                                    c = int(zz[k])
                                    if c != 0:
                                        if br.bit() and not (c & p1):
                                            zz[k] = c + (p1 if c >= 0 else m1)
                                    k += 1
                                eobrun -= 1
            got_scan = True
            pos = next_marker(br.pos)
            continue
        pos += 2 + seglen
    if h is None or not got_scan or not coefs:
        raise ValueError("JPEG missing SOF/SOS")
    a = _dct_basis()
    inv_zz = np.argsort(_JPEG_ZIGZAG)
    planes = []
    # Per-block 2-D matmuls, the EXACT expression the sequential decoder
    # uses — a batched einsum differs in the last ulp and flips the final
    # pixel rounding, breaking progressive==sequential bit-identity.
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("missing quantization table")
        bh, bw = coefs[ci].shape[:2]
        plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        for by in range(bh):
            for bx in range(bw):
                coef = (coefs[ci][by, bx] * qtables[tq])[inv_zz].reshape(8, 8)
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    a.T @ coef @ a
                )
        planes.append(plane)
    return _planes_to_pixels(planes, comps, hmax, vmax, h, w)


