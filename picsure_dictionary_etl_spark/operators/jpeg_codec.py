"""Pure-numpy JPEG (JFIF / ITU T.81) codec.

The container has no imaging libraries, so real JPEG coverage is built
from the public spec: a huffman decoder covering baseline
**sequential** (SOF0, interleaved scans with ANY dividing sampling
factors — 4:4:4, 4:2:2 and the ubiquitous 4:2:0 included), **extended
sequential** (SOF1, including **12-bit grayscale** — level shift 2048,
16-bit DQT entries, DC categories to SSSS 15; the decoder returns
uint16 samples), **progressive** (SOF2: spectral selection +
successive approximation, DC/AC first and refinement scans, EOB runs,
per T.81 G.1.2) and **non-interleaved multi-scan baseline** files
(same coefficient-buffer machinery as progressive), plus a minimal
writer used to mint deterministic certification payloads (sequential,
progressive or multi-scan; 4:4:4 or subsampled; 8-bit, or 12-bit
grayscale via ``encode_jpeg(..., precision=12)``), and **lossless**
(SOF3, T.81 Annex H: predictors 1-7, modulo-2^16 differences,
point transform, restart intervals, 2..16-bit samples, up to 4
components — lossless, so ANY pattern certifies exactly, like PNG),
and **arithmetic coding** (SOF9 extended sequential, T.81 Annexes D/F:
the full QM coder — Table D.3 state machine, byte stuffing, carry
propagation over stacked 0xFF bytes, D.1.8 flush — plus the DC/AC
statistical models with DAC conditioning and restart-marker resets;
decoder AND encoder — in BOTH DCT modes: extended sequential (SOF9)
and **progressive (SOF10)** with the G.2 band models (DC first/refine,
AC first with point transform, AC refinement with EOBx-keyed EOB
decisions and fixed-bin signs); all verified two-way bit-identical
against libjpeg-turbo, including embedded cross-implementation
fixtures. 12-bit COLOR in the DCT modes and hierarchical
(SOF5-7/13-15) stay an honest ``NotImplementedError`` seam — exactly
like the PPM/WAV split in ``operators/multimodal.py``.

Subsampled chroma upsamples by pixel replication (JFIF allows any
upsampling filter; replication is the exact inverse of box-average
downsampling on *constant* chroma, which is what the certification
payloads use — see below).

Certification trick (same pattern as the PPM integer oracle): images
built from CONSTANT 8x8 blocks encoded with an all-ones quantization
table round-trip **bit-exactly** — a constant block's DCT has a single
integer DC coefficient (``8 * (v - 128)``) and zero ACs, so nothing is
lost to quantization and the decoder's float IDCT lands within 1e-13 of
the integer before the final round. An independent engine (DuckDB) can
therefore recompute the decoded channel sums with pure integer
arithmetic. The same trick certifies 4:2:0: a chroma plane that is
CONSTANT over each MCU survives box-average downsampling and
replication upsampling bit-exactly. The decoder itself is general: it
huffman-decodes, applies DC prediction/restart-marker resets,
dequantizes, inverse-zigzags, IDCTs, upsamples and color-converts any
baseline interleaved stream.

Reference analog: the reference ships no codecs at all (media is out of
scope for picsure-dictionary-etl); this module backs the LLM-pipeline
multimodal operators the brief adds on top.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# tables (ITU T.81 Annex K — public)
# ---------------------------------------------------------------------------


def _zigzag_order() -> list[int]:
    """Raster index of each of the 64 zigzag positions, generated from
    the diagonal-walk definition instead of transcribed (typo-proof)."""
    out = []
    for s in range(15):
        diag = [(s - j, j) for j in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 1:
            diag = diag[::-1]
        out.extend(r * 8 + c for r, c in diag)
    return out


ZIGZAG = _zigzag_order()

# Annex K luminance huffman spec: (bits[1..16], values). The writer maps
# every component to these; the decoder reads whatever DHT declares.
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
# 12-bit DC table: canonical extension of the Annex K luminance table
# with categories 12..15 (12-bit DC differences span SSSS 0..15, T.81
# F.1.2.1/table F.1) at lengths 10..13 — Kraft sum stays < 1 so the
# all-one-bits code is never assigned (T.81 Annex C reserves it).
DC_LUM_BITS_12 = [0, 1, 5, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0]
DC_LUM_VALS_12 = list(range(16))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) under JPEG's canonical code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, for the bit-serial decoder."""
    return {(ln, c): v for v, (c, ln) in _canonical_codes(bits, vals).items()}


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix T: forward ``T @ B @ T.T``,
    inverse ``T.T @ F @ T`` — this normalization IS the T.81 scaling
    (a constant block c yields DC = 8c)."""
    k = np.arange(8)
    t = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    t[0, :] /= np.sqrt(2.0)
    return t


_T = _dct_matrix()


def _extend(v: int, s: int) -> int:
    """T.81 F.12 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing.
    Stops (flags ``hit_marker``) at any real marker; RSTn is consumed by
    ``restart()`` at the MCU loop's request, never mid-symbol."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.i = pos
        self.buf = 0
        self.n = 0
        self.hit_marker = False

    def _fill(self) -> None:
        if self.i >= len(self.d):
            self.hit_marker = True  # truncated stream: surface as marker
            raise ValueError("unexpected end of entropy-coded data")
        b = self.d[self.i]
        if b == 0xFF:
            nxt = self.d[self.i + 1] if self.i + 1 < len(self.d) else 0xD9
            if nxt == 0x00:
                self.i += 2
            else:  # RSTn / EOI / next segment: not data
                self.hit_marker = True
                raise ValueError("marker inside entropy data")
        else:
            self.i += 1
        self.buf = (self.buf << 8) | b
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        v = (self.buf >> self.n) & ((1 << k) - 1)
        self.buf &= (1 << self.n) - 1  # keep the accumulator bounded
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code, ln = 0, 0
        while ln <= 16:
            code = (code << 1) | self.bits(1)
            ln += 1
            v = table.get((ln, code))
            if v is not None:
                return v
        raise ValueError("invalid huffman code in entropy data")

    def restart(self) -> None:
        """Byte-align and consume an expected RSTn marker."""
        self.n = 0  # drop pad bits
        if self.i + 1 < len(self.d) and self.d[self.i] == 0xFF and (
            0xD0 <= self.d[self.i + 1] <= 0xD7
        ):
            self.i += 2
        # a missing RST is tolerated (some writers omit the final one)


def decode_jpeg(b: bytes) -> np.ndarray:
    """Decode a baseline sequential (SOF0, single- OR multi-scan),
    progressive (SOF2) or extended sequential ARITHMETIC (SOF9, QM
    coder) JFIF payload to an (h, w, 3) uint8 array (grayscale
    replicated across channels; 12-bit and 16-bit lossless frames
    return uint16). Lossless (SOF3) frames delegate to
    :func:`decode_jpeg_lossless`. Raises ``ValueError`` on malformed
    data and ``NotImplementedError`` on legal-but-unsupported variants
    (progressive arithmetic, hierarchical modes)."""
    if b is None or len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG payload (missing SOI)")

    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, [(comp_id, (hs, vs), tq)])
    prec = 8      # sample precision from SOF (8, or 12 for grayscale SOF1/SOF2)
    progressive = False
    arith = False  # SOF9: QM-coded entropy data (T.81 Annexes D/F)
    cond_dc: dict[int, tuple[int, int]] = {}  # DAC: tid -> (L, U)
    cond_ac: dict[int, int] = {}  # DAC: tid -> Kx
    coefs = None  # per-comp (bh, bw, 64) int32, zigzag order (buffered path)
    scans_done = 0
    dri = 0
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError(f"expected marker at offset {i}")
        while i + 1 < len(b) and b[i + 1] == 0xFF:
            i += 1  # T.81 B.1.1.2: fill bytes before a marker
        if i + 4 > len(b):
            if i + 2 <= len(b) and b[i + 1] == 0xD9 and scans_done:
                break  # EOI at end of data
            raise ValueError("truncated JPEG: fill bytes run to end of data")
        marker = b[i + 1]
        if marker == 0xD9:  # EOI
            if scans_done:
                break  # multi-scan file complete: finalize below
            raise ValueError("EOI before scan data")
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        seg = b[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if prec == 0:
                    tbl = np.frombuffer(seg[j : j + 64], dtype=np.uint8)
                    j += 64
                else:
                    tbl = np.frombuffer(seg[j : j + 128], dtype=">u2")
                    j += 128
                qt[tid] = tbl.astype(np.int32)
        elif marker == 0xC3:  # lossless: dedicated Annex-H path
            arr = decode_jpeg_lossless(b)
            if arr.ndim == 2:
                return np.repeat(arr[..., None], 3, axis=-1)
            if arr.shape[2] == 3:
                return arr
            raise NotImplementedError(
                f"decode_jpeg wraps 1- or 3-component lossless frames; "
                f"got {arr.shape[2]} components (use decode_jpeg_lossless)"
            )
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB):
            raise NotImplementedError(
                f"only sequential (SOF0/SOF1), progressive (SOF2), "
                f"lossless (SOF3) huffman and arithmetic sequential/"
                f"progressive (SOF9/SOF10) JPEG supported, got "
                f"SOF{marker - 0xC0}"
            )
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):  # huffman + arith
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            prec = seg[0]
            if prec not in (8, 12):
                raise NotImplementedError(
                    f"{prec}-bit sample precision unsupported (8/12 only)"
                )
            if prec == 12 and marker == 0xC0:
                raise ValueError("baseline SOF0 is 8-bit only (T.81 B.2.2)")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG unsupported")
            if prec == 12 and ncomp != 1:
                raise NotImplementedError(
                    "12-bit precision is supported for grayscale only"
                )
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                hs, vs = hv >> 4, hv & 0x0F
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError(f"illegal sampling factors {hs}x{vs}")
                comps.append((cid, (hs, vs), tq))
            if ncomp == 1:
                # T.81 A.2.2: a single-component scan is one data unit
                # per MCU regardless of declared factors
                comps = [(comps[0][0], (1, 1), comps[0][2])]
            hmax = max(hs for _, (hs, _), _ in comps)
            vmax = max(vs for _, (_, vs), _ in comps)
            if any(hmax % hs or vmax % vs for _, (hs, vs), _ in comps):
                raise NotImplementedError(
                    f"non-dividing sampling factors unsupported: "
                    f"{[(hs, vs) for _, (hs, vs), _ in comps]}"
                )
            frame = (h, w, comps)
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            j = 0
            while j < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                (huff_ac if cls else huff_dc)[tid] = _decode_table(bits, vals)
                j += 17 + nv
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            j = 0
            while j + 1 < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 0x0F
                val = seg[j + 1]
                if cls == 0:
                    cond_dc[tid] = (val & 0x0F, val >> 4)  # (L, U)
                else:
                    cond_ac[tid] = val  # Kx
                j += 2
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_tables = {}
            scan_cids = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_tables[cid] = (tt >> 4, tt & 0x0F)
                scan_cids.append(cid)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah_al = seg[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0x0F
            if arith:
                if not progressive:
                    if ns != len(frame[2]) or scans_done:
                        raise NotImplementedError(
                            "sequential arithmetic JPEG: single "
                            "interleaved scan only (non-interleaved "
                            "multi-scan stays a seam)"
                        )
                    return _decode_scan_arith(
                        b, i + 2 + seg_len, frame, qt, scan_tables, dri,
                        cond_dc, cond_ac, prec,
                    )
                # progressive arithmetic (SOF10): buffered scans
                if ss > 0 and ns > 1:
                    raise ValueError("AC scans must be single-component")
                if coefs is None:
                    coefs = _alloc_coefs(frame)
                i = _decode_scan_buffered_arith(
                    b, i + 2 + seg_len, frame, scan_tables, scan_cids,
                    ss, se, ah, al, dri, coefs, cond_dc, cond_ac,
                )
                scans_done += 1
                continue
            if not progressive and ns == len(frame[2]) and scans_done == 0:
                # fast path: single interleaved full-band sequential scan
                return _decode_scan(
                    b, i + 2 + seg_len, frame, qt, huff_dc, huff_ac,
                    scan_tables, dri, prec,
                )
            # buffered path: progressive scans or non-interleaved
            # baseline multi-scan — accumulate coefficients
            if ss > 0 and ns > 1:
                raise ValueError("AC scans must be single-component")
            if coefs is None:
                coefs = _alloc_coefs(frame)
            i = _decode_scan_buffered(
                b, i + 2 + seg_len, frame, huff_dc, huff_ac, scan_tables,
                scan_cids, ss, se, ah, al, dri, coefs,
            )
            scans_done += 1
            continue
        # APPn / COM / others: skip
        i += 2 + seg_len
    if scans_done:
        return _finalize_coefs(frame, qt, coefs, prec)
    raise ValueError("no scan (SOS) found")


def _decode_one_block(reader, huff_dc, huff_ac, td, ta, pred, ci, q,
                      shift=128.0, maxv=255):
    """One 8x8 data unit: huffman + DC prediction -> dequant ->
    inverse zigzag -> IDCT -> level-shifted clipped pixels."""
    coef = np.zeros(64, dtype=np.int32)
    s = reader.huff(huff_dc[td])
    diff = _extend(reader.bits(s), s) if s else 0
    pred[ci] += diff
    coef[0] = pred[ci]
    k = 1
    while k < 64:
        sym = reader.huff(huff_ac[ta])
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL: 16 zeros
            k += 16
            continue
        k += sym >> 4
        size = sym & 0x0F
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        coef[k] = _extend(reader.bits(size), size)
        k += 1
    block = np.zeros(64, dtype=np.float64)
    block[ZIGZAG] = coef * q
    spatial = _T.T @ block.reshape(8, 8) @ _T
    return np.clip(np.round(spatial + shift), 0, maxv)


def _decode_scan(b, pos, frame, qt, huff_dc, huff_ac, scan_tables, dri, prec=8):
    h, w, comps = frame
    shift, maxv = float(1 << (prec - 1)), (1 << prec) - 1
    hmax = max(hs for _, (hs, _), _ in comps)
    vmax = max(vs for _, (_, vs), _ in comps)
    mcw, mch = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = [
        np.zeros((mch * vs * 8, mcw * hs * 8), dtype=np.int32)
        for _, (hs, vs), _ in comps
    ]
    reader = _BitReader(b, pos)
    pred = [0] * len(comps)
    mcu = 0
    for my in range(mch):
        for mx in range(mcw):
            if dri and mcu and mcu % dri == 0:
                reader.restart()
                pred = [0] * len(comps)
            for ci, (cid, (hs, vs), tq) in enumerate(comps):
                td, ta = scan_tables[cid]
                # hs*vs data units per MCU, raster order (T.81 A.2.3)
                for vy in range(vs):
                    for vx in range(hs):
                        px = _decode_one_block(
                            reader, huff_dc, huff_ac, td, ta, pred, ci,
                            qt[tq], shift, maxv,
                        )
                        r0, c0 = (my * vs + vy) * 8, (mx * hs + vx) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = px
            mcu += 1
    return _planes_to_rgb(planes, h, w, comps, hmax, vmax, prec)


def _planes_to_rgb(planes, h, w, comps, hmax, vmax, prec=8):
    """Shared decode tail: upsample subsampled components by
    replication, crop to the frame dims, YCbCr->RGB (T.871).
    12-bit grayscale returns uint16 samples (0..4095)."""
    full = []
    for ci, (cid, (hs, vs), tq) in enumerate(comps):
        p = planes[ci]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p)
    planes = [p[:h, :w] for p in full]
    if len(planes) == 1:
        g = planes[0].astype(np.uint8 if prec == 8 else np.uint16)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    return np.stack(
        [np.clip(np.round(c), 0, 255).astype(np.uint8) for c in (r, g, bl)], axis=-1
    )


# ---------------------------------------------------------------------------
# buffered (multi-scan / progressive) decode path — T.81 G.1.2
# ---------------------------------------------------------------------------


def _frame_geometry(frame):
    h, w, comps = frame
    hmax = max(hs for _, (hs, _), _ in comps)
    vmax = max(vs for _, (_, vs), _ in comps)
    mcw, mch = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    return hmax, vmax, mcw, mch


def _comp_blocks(frame, ci):
    """Block grid of one component in a NON-interleaved scan: based on
    the component's own (scaled, ceil'd) dimensions, not MCU padding
    (T.81 A.2.2)."""
    h, w, comps = frame
    hmax, vmax, _, _ = _frame_geometry(frame)
    _, (hs, vs), _ = comps[ci]
    cw, ch = -(-w * hs // hmax), -(-h * vs // vmax)
    return -(-cw // 8), -(-ch // 8)  # (bw, bh)


def _alloc_coefs(frame):
    """MCU-padded per-component coefficient buffers, zigzag order."""
    _, _, mcw, mch = _frame_geometry(frame)
    return [
        np.zeros((mch * vs, mcw * hs, 64), dtype=np.int32)
        for _, (hs, vs), _ in frame[2]
    ]


def _decode_band(reader, view, ss, se, ah, al, dc_tbl, ac_tbl, pred, ci, eobrun):
    """Decode one data unit's contribution for one scan band into the
    zigzag-order coefficient ``view``. Handles DC first/refine, AC
    first/refine (successive approximation, EOB runs) and the
    baseline-style full band (ss=0, se=63, ah=al=0) used by
    non-interleaved sequential scans. Returns the updated EOB run."""
    if ss == 0:
        if ah == 0:  # DC first: prediction in the point-transformed domain
            if dc_tbl is None:
                raise ValueError("scan references an undefined DC huffman table")
            s = reader.huff(dc_tbl)
            diff = _extend(reader.bits(s), s) if s else 0
            pred[ci] += diff
            view[0] = pred[ci] << al
        else:  # DC refinement: one bit appends at position al
            if reader.bits(1):
                view[0] = int(view[0]) | (1 << al)
        if se == 0:
            return eobrun
        # baseline full-band scan: fall through to the AC coefficients
    if ac_tbl is None:
        raise ValueError("scan references an undefined AC huffman table")
    if ah == 0:  # AC first scan (or baseline ACs when al == 0)
        if eobrun > 0:
            return eobrun - 1
        k = max(ss, 1)
        while k <= se:
            sym = reader.huff(ac_tbl)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r != 15:  # EOBn: run of 2^r (+ appended bits) blocks
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    break
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC coefficient index out of range")
            view[k] = _extend(reader.bits(s), s) << al
            k += 1
        return eobrun
    # AC refinement scan (T.81 G.1.2.3): correction bits on history
    # coefficients, ±1<<al on newly-significant ones
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = reader.huff(ac_tbl)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("invalid AC refinement symbol")
                newval = p1 if reader.bits(1) else m1
            while k <= se:
                v = int(view[k])
                if v != 0:
                    if reader.bits(1) and (v & p1) == 0:
                        view[k] = v + (p1 if v >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                view[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # correction-bit sweep over the EOB-run tail
            v = int(view[k])
            if v != 0:
                if reader.bits(1) and (v & p1) == 0:
                    view[k] = v + (p1 if v >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan_buffered(
    b, pos, frame, huff_dc, huff_ac, scan_tables, scan_cids,
    ss, se, ah, al, dri, coefs,
):
    """Decode one scan of a multi-scan (progressive or non-interleaved
    baseline) file into the coefficient buffers; returns the offset of
    the next marker after the entropy-coded data."""
    h, w, comps = frame
    cid_to_ci = {cid: ci for ci, (cid, _, _) in enumerate(comps)}
    reader = _BitReader(b, pos)
    pred = [0] * len(comps)
    eobrun = 0
    if len(scan_cids) > 1:  # interleaved (DC or baseline full-band) scan
        hmax, vmax, mcw, mch = _frame_geometry(frame)
        mcu = 0
        for my in range(mch):
            for mx in range(mcw):
                if dri and mcu and mcu % dri == 0:
                    reader.restart()
                    pred = [0] * len(comps)
                    eobrun = 0
                for cid in scan_cids:
                    ci = cid_to_ci[cid]
                    _, (hs, vs), _ = comps[ci]
                    td, ta = scan_tables[cid]
                    for vy in range(vs):
                        for vx in range(hs):
                            eobrun = _decode_band(
                                reader,
                                coefs[ci][my * vs + vy, mx * hs + vx],
                                ss, se, ah, al,
                                huff_dc.get(td), huff_ac.get(ta),
                                pred, ci, eobrun,
                            )
                mcu += 1
    else:  # single-component scan: the component's own block raster
        cid = scan_cids[0]
        ci = cid_to_ci[cid]
        td, ta = scan_tables[cid]
        bw, bh = _comp_blocks(frame, ci)
        n = 0
        for by in range(bh):
            for bx in range(bw):
                if dri and n and n % dri == 0:
                    reader.restart()
                    pred = [0] * len(comps)
                    eobrun = 0
                eobrun = _decode_band(
                    reader, coefs[ci][by, bx], ss, se, ah, al,
                    huff_dc.get(td), huff_ac.get(ta), pred, ci, eobrun,
                )
                n += 1
    # skip pad bits / trailing RSTs to the next real marker
    j = reader.i
    while j + 1 < len(b):
        if b[j] == 0xFF and b[j + 1] != 0x00 and not (0xD0 <= b[j + 1] <= 0xD7):
            return j
        j += 1
    return j


def _finalize_coefs(frame, qt, coefs, prec=8):
    """Dequantize + inverse-zigzag + IDCT every buffered block
    (vectorized over blocks), then upsample/crop/color-convert."""
    h, w, comps = frame
    shift, maxv = float(1 << (prec - 1)), (1 << prec) - 1
    hmax, vmax, _, _ = _frame_geometry(frame)
    planes = []
    for ci, (cid, (hs, vs), tq) in enumerate(comps):
        if tq not in qt:
            raise ValueError(f"missing quantization table {tq}")
        deq = coefs[ci].astype(np.float64) * qt[tq]
        nat = np.empty_like(deq)
        nat[:, :, ZIGZAG] = deq  # inverse zigzag
        bh, bw = nat.shape[0], nat.shape[1]
        blocks = nat.reshape(bh, bw, 8, 8)
        spatial = np.einsum("ij,mnjk,kl->mnil", _T.T, blocks, _T)
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        planes.append(
            np.clip(np.round(plane + shift), 0, maxv).astype(np.int32)
        )
    return _planes_to_rgb(planes, h, w, comps, hmax, vmax, prec)


# ---------------------------------------------------------------------------
# writer (certification payloads; general over any uint8 planes)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill final byte (T.81 F.1.2.3)
        return bytes(self.out)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _compute_coefs(planes, qtable, sampling, prec=8):
    """Shared writer front half: validate, pad to MCU multiples,
    box-average-downsample chroma, forward-DCT + quantize + zigzag
    every block (vectorized). Returns
    (h, w, n, hs, vs, q, coefs, factors, mcw, mch) with ``coefs[ci]``
    an (bh, bw, 64) int64 zigzag-order array. ``prec`` sets the sample
    precision: 8 (uint8, level shift 128) or 12 (uint16 0..4095, level
    shift 2048 — grayscale only, enforced by the caller)."""
    dt = np.uint8 if prec == 8 else np.uint16
    maxv, shift = (1 << prec) - 1, float(1 << (prec - 1))
    planes = [np.asarray(p, dtype=dt) for p in planes]
    if prec != 8 and any(int(p.max(initial=0)) > maxv for p in planes):
        raise ValueError(f"{prec}-bit samples must be in 0..{maxv}")
    if len(planes) not in (1, 3):
        raise ValueError("1 or 3 planes required")
    h, w = planes[0].shape
    if any(p.shape != (h, w) for p in planes):
        raise ValueError("planes must share one full-resolution shape")
    hs, vs = sampling or (1, 1)
    if len(planes) == 1:
        hs, vs = 1, 1
    if not (1 <= hs <= 4 and 1 <= vs <= 4):
        raise ValueError(f"illegal sampling factors {hs}x{vs}")
    q = (
        np.ones(64, dtype=np.int32)
        if qtable is None
        else np.asarray(qtable, dtype=np.int32).reshape(64)
    )
    mcw, mch = -(-w // (8 * hs)), -(-h // (8 * vs))
    ph, pw = mch * vs * 8, mcw * hs * 8  # full-res padded dims
    padded = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
    # chroma: box-average downsample by (vs, hs) -> (mch*8, mcw*8)
    comp_planes = [padded[0]]
    for p in padded[1:]:
        if hs == 1 and vs == 1:
            comp_planes.append(p)
        else:
            sub = p.astype(np.float64).reshape(
                ph // vs, vs, pw // hs, hs
            ).mean(axis=(1, 3))
            comp_planes.append(np.clip(np.round(sub), 0, maxv).astype(dt))
    factors = [(hs, vs)] + [(1, 1)] * (len(planes) - 1)
    coefs = []
    for ci, p in enumerate(comp_planes):
        fh, fv = factors[ci]
        bh, bw = mch * fv, mcw * fh
        blocks = (
            p.astype(np.float64).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
            - shift
        )
        f = np.einsum("ij,mnjk,kl->mnil", _T, blocks, _T.T)
        zz = np.round(f.reshape(bh, bw, 64)[:, :, ZIGZAG] / q).astype(np.int64)
        coefs.append(zz)
    return h, w, len(planes), hs, vs, q, coefs, factors, mcw, mch


def _headers(sof_marker, h, w, n, hs, vs, q, prec=8):
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if prec == 8:
        out += _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
        dc_bits, dc_vals = DC_LUM_BITS, DC_LUM_VALS
    else:  # Pq=1: 16-bit quant entries (required when any value > 255,
        # and legal for 12-bit frames generally — T.81 B.2.4.1)
        out += _seg(
            0xDB,
            bytes([0x10])
            + b"".join(int(v).to_bytes(2, "big") for v in q),
        )
        dc_bits, dc_vals = DC_LUM_BITS_12, DC_LUM_VALS_12
    sof = bytes([prec]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([n])
    for ci in range(n):
        hv = (hs << 4) | vs if ci == 0 else 0x11
        sof += bytes([ci + 1, hv, 0])
    out += _seg(sof_marker, sof)
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS),
    )
    return out


def _sos(comp_ids, ss, se, ah, al):
    sos = bytes([len(comp_ids)])
    for cid in comp_ids:
        sos += bytes([cid, 0x00])
    sos += bytes([ss, se, (ah << 4) | al])
    return _seg(0xDA, sos)


def encode_jpeg(planes, qtable=None, sampling=None, precision=8) -> bytes:
    """Write a baseline sequential JFIF from 1 (grayscale) or 3 (YCbCr)
    uint8 planes of identical full-resolution shape. ``sampling=(H,V)``
    sets the LUMA sampling factors — chroma planes are box-average
    downsampled by (H,V) and declared 1x1, so ``(2,2)`` emits 4:2:0,
    ``(2,1)`` 4:2:2, and the default ``(1,1)`` 4:4:4. All components
    share the Annex K luminance huffman tables and one quantization
    table (default all-ones — lossless for integer-DCT inputs such as
    constant blocks; with MCU-constant chroma the subsampled pipeline
    is lossless too, the certification contract).

    ``precision=12`` writes an EXTENDED sequential (SOF1) grayscale
    frame from one uint16 plane of 0..4095 samples: level shift 2048,
    16-bit DQT entries (Pq=1), and the Annex-K DC table canonically
    extended to SSSS 0..15 (``DC_LUM_BITS_12``). Baseline SOF0 is
    8-bit-only by definition (T.81 B.2.2), hence the marker switch."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    if precision == 12 and len(planes) != 1:
        raise NotImplementedError(
            "12-bit writing is grayscale-only (matches the decoder seam)"
        )
    h, w, n, hs, vs, q, coefs, factors, mcw, mch = _compute_coefs(
        planes, qtable, sampling, precision
    )
    if precision == 8:
        dc_codes = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    else:
        dc_codes = _canonical_codes(DC_LUM_BITS_12, DC_LUM_VALS_12)
    ac_codes = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    out = _headers(
        0xC0 if precision == 8 else 0xC1, h, w, n, hs, vs, q, precision
    )
    out += _sos(list(range(1, n + 1)), 0, 63, 0, 0)
    wtr = _BitWriter()
    pred = [0] * n
    for my in range(mch):
        for mx in range(mcw):
            for ci in range(n):
                fh, fv = factors[ci]
                for vy in range(fv):
                    for vx in range(fh):
                        _encode_block(
                            wtr, coefs[ci][my * fv + vy, mx * fh + vx],
                            pred, ci, dc_codes, ac_codes,
                        )
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _writer_comp_blocks(w, h, hs, vs, factors, ci):
    """Non-interleaved scan block grid for the writer — mirrors the
    decoder's ``_comp_blocks`` rule (component's own dims, T.81 A.2.2)."""
    fh, fv = factors[ci]
    cw, ch = -(-w * fh // hs), -(-h * fv // vs)
    return -(-cw // 8), -(-ch // 8)


def _emit_ac_first(wtr, zz, ss, se, al, ac_codes):
    """One block of a first AC scan (Ah=0): point transform (truncate
    toward zero), run-length code, EOB run of exactly 1 per block
    (legal; the Annex K tables carry no EOBn>0 symbols)."""
    run = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        if v < 0:
            t = -t
        if t == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            wtr.put(code, ln)
            run -= 16
        s = abs(t).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        wtr.put(code, ln)
        wtr.put(t if t > 0 else t + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]
        wtr.put(code, ln)


def _emit_ac_refine(wtr, zz, ss, se, al, ac_codes):
    """One block of an AC refinement scan: ±1 symbols for coefficients
    that become visible at bit ``al``, buffered correction bits for
    already-significant ones (T.81 G.1.2.3 / the libjpeg encoder's
    structure, EOB runs flushed per block)."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = -1
    for idx, t in enumerate(absv):
        if t == 1:
            eob = idx
    run, br = 0, []
    for idx, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and idx <= eob:
            code, ln = ac_codes[0xF0]
            wtr.put(code, ln)
            run -= 16
            for bit in br:
                wtr.put(bit, 1)
            br = []
        if t > 1:  # history coefficient: one correction bit
            br.append(t & 1)
            continue
        code, ln = ac_codes[(run << 4) | 1]  # newly significant
        wtr.put(code, ln)
        wtr.put(1 if int(zz[ss + idx]) > 0 else 0, 1)
        run = 0
        for bit in br:
            wtr.put(bit, 1)
        br = []
    if run or br:
        code, ln = ac_codes[0x00]  # EOB run of 1
        wtr.put(code, ln)
        for bit in br:
            wtr.put(bit, 1)


def _put_dc_first(wtr, v, pred, ci, dc_codes):
    diff = v - pred[ci]
    pred[ci] = v
    s = int(diff).bit_length() if diff else 0
    code, ln = dc_codes[s]
    wtr.put(code, ln)
    if s:
        wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)


def encode_jpeg_progressive(planes, qtable=None, sampling=None) -> bytes:
    """Write a progressive (SOF2) JFIF exercising BOTH progression
    axes: spectral selection (DC and AC in separate scans) and
    successive approximation (first scans at Al=1, refinement scans
    restoring bit 0). Scan script: interleaved DC first (Al=1);
    per-component AC 1-63 first (Al=1); interleaved DC refinement;
    per-component AC 1-63 refinement. Same planes/sampling/quant
    contract as :func:`encode_jpeg` — for constant 8x8 blocks with the
    all-ones table the decode is still BIT-exact (DC = (dc>>1)<<1 | bit,
    ACs stay zero), keeping the integer-oracle certification trick."""
    h, w, n, hs, vs, q, coefs, factors, mcw, mch = _compute_coefs(
        planes, qtable, sampling
    )
    dc_codes = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    out = _headers(0xC2, h, w, n, hs, vs, q)
    comp_ids = list(range(1, n + 1))

    def mcu_blocks():
        for my in range(mch):
            for mx in range(mcw):
                for ci in range(n):
                    fh, fv = factors[ci]
                    for vy in range(fv):
                        for vx in range(fh):
                            yield ci, coefs[ci][my * fv + vy, mx * fh + vx]

    # scan 1: DC first, interleaved, Al=1 (values arithmetic-shifted)
    out += _sos(comp_ids, 0, 0, 0, 1)
    wtr = _BitWriter()
    pred = [0] * n
    for ci, zz in mcu_blocks():
        _put_dc_first(wtr, int(zz[0]) >> 1, pred, ci, dc_codes)
    out += wtr.flush()
    # scans 2..n+1: per-component AC first, band 1-63, Al=1
    for ci in range(n):
        bw, bh = _writer_comp_blocks(w, h, hs, vs, factors, ci)
        out += _sos([ci + 1], 1, 63, 0, 1)
        wtr = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                _emit_ac_first(wtr, coefs[ci][by, bx], 1, 63, 1, ac_codes)
        out += wtr.flush()
    # DC refinement: one raw bit per block, interleaved
    out += _sos(comp_ids, 0, 0, 1, 0)
    wtr = _BitWriter()
    for ci, zz in mcu_blocks():
        wtr.put(int(zz[0]) & 1, 1)
    out += wtr.flush()
    # per-component AC refinement, band 1-63, Ah=1 -> Al=0
    for ci in range(n):
        bw, bh = _writer_comp_blocks(w, h, hs, vs, factors, ci)
        out += _sos([ci + 1], 1, 63, 1, 0)
        wtr = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                _emit_ac_refine(wtr, coefs[ci][by, bx], 1, 63, 0, ac_codes)
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_multiscan(planes, qtable=None, sampling=None) -> bytes:
    """Write a NON-interleaved baseline sequential (SOF0) file: one
    full-band (Ss=0, Se=63) scan per component — the multi-scan layout
    T.81 allows and single-pass decoders reject; decoded through the
    same coefficient-buffer path as progressive."""
    h, w, n, hs, vs, q, coefs, factors, mcw, mch = _compute_coefs(
        planes, qtable, sampling
    )
    dc_codes = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    out = _headers(0xC0, h, w, n, hs, vs, q)
    for ci in range(n):
        bw, bh = _writer_comp_blocks(w, h, hs, vs, factors, ci)
        out += _sos([ci + 1], 0, 63, 0, 0)
        wtr = _BitWriter()
        pred = [0] * n  # DC prediction resets per scan
        for by in range(bh):
            for bx in range(bw):
                _encode_block(wtr, coefs[ci][by, bx], pred, ci, dc_codes, ac_codes)
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _encode_block(wtr, zz, pred, ci, dc_codes, ac_codes):
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    s = int(diff).bit_length() if diff else 0
    code, ln = dc_codes[s]
    wtr.put(code, ln)
    if s:
        wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            wtr.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        if s > 10:  # 12-bit ACs can reach SSSS 14; Annex K stops at 10
            raise NotImplementedError(
                f"AC coefficient {v} needs SSSS {s} — beyond the Annex-K "
                f"AC table (max 10); quantize harder or keep ACs small"
            )
        code, ln = ac_codes[(run << 4) | s]
        wtr.put(code, ln)
        wtr.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]
        wtr.put(code, ln)


# ---------------------------------------------------------------------------
# lossless (SOF3, T.81 Annex H)
# ---------------------------------------------------------------------------

# Difference-category table extended to SSSS 0..16 (category 16 =
# diff 32768, NO extension bits — T.81 H.2): the Annex-K DC luminance
# table canonically extended one code length per extra category, the
# same construction as DC_LUM_BITS_12 (Kraft slack keeps the all-ones
# code reserved).
DC_LOSSLESS_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0]
DC_LOSSLESS_VALS = list(range(17))


def _lossless_core(ra, rb, rc, sel: int):
    """T.81 Table H.1 predictors 1-7 (works on ints and numpy arrays;
    the /2 is an arithmetic right shift per H.1.2.1)."""
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"lossless predictor {sel} out of range 1..7")


def encode_jpeg_lossless(img, predictor: int = 4, point_transform: int = 0,
                         restart_interval: int = 0,
                         precision: int | None = None) -> bytes:
    """Write a LOSSLESS (SOF3) JFIF from an (h, w) or (h, w, n) uint
    array, n <= 4 components, 2..16-bit precision. Per T.81 Annex H:
    per-sample prediction (predictor 1-7, first line Ra, first column
    Rb, very first sample 2^(P-Pt-1)), modulo-2^16 differences
    huffman-coded as DC-style categories (SSSS 16 = 32768, no
    extension bits), optional point transform (samples shifted right
    by Pt before coding) and restart intervals (prediction resets at
    each interval's first MCU). The prediction pass is fully
    vectorized (diffs computed from the ORIGINAL samples — lossless
    means reconstructed == original, so encode needs no sequential
    loop beyond bit emission)."""
    img = np.asarray(img)
    if img.ndim == 2:
        planes = [img]
    elif img.ndim == 3 and 1 <= img.shape[2] <= 4:
        planes = [img[..., c] for c in range(img.shape[2])]
    else:
        raise ValueError("expected (h, w) or (h, w, n<=4) sample array")
    h, w = planes[0].shape
    n = len(planes)
    if precision is None:
        hi = max(int(p.max(initial=0)) for p in planes)
        precision = 8 if hi < 256 else (12 if hi < 4096 else 16)
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16 (T.81 B.3.2)")
    pt = point_transform
    if not 0 <= pt < precision:
        raise ValueError("point transform must be in [0, precision)")
    xs = [p.astype(np.int64) >> pt for p in planes]
    if any(int(x.max(initial=0)) >= (1 << (precision - pt)) for x in xs):
        raise ValueError("samples exceed the declared precision")
    default = 1 << (precision - pt - 1)

    diffs = []
    for x in xs:
        pred = np.empty((h, w), np.int64)
        pred[0, 0] = default
        if w > 1:
            pred[0, 1:] = x[0, :-1]                      # first line: Ra
        if h > 1:
            pred[1:, 0] = x[:-1, 0]                      # first column: Rb
        if h > 1 and w > 1:
            pred[1:, 1:] = _lossless_core(
                x[1:, :-1], x[:-1, 1:], x[:-1, :-1], predictor)
        if restart_interval:
            m = np.arange(h * w).reshape(h, w)
            pred[(m % restart_interval == 0) & (m > 0)] = default
        d = (x - pred) & 0xFFFF
        diffs.append(np.where(d >= 32768, d - 65536, d).astype(np.int64))

    out = bytearray(b"\xff\xd8")
    sof = bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([n])
    for ci in range(n):
        sof += bytes([ci + 1, 0x11, 0])  # 1x1 sampling, Tq ignored (H.1)
    out += _seg(0xC3, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(DC_LOSSLESS_BITS)
                + bytes(DC_LOSSLESS_VALS))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += _sos(list(range(1, n + 1)), predictor, 0, 0, pt)

    codes = _canonical_codes(DC_LOSSLESS_BITS, DC_LOSSLESS_VALS)
    wtr = _BitWriter()
    flat = [d.reshape(-1) for d in diffs]
    rst = 0
    for m in range(h * w):
        if restart_interval and m and m % restart_interval == 0:
            out += wtr.flush()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            wtr = _BitWriter()
        for d in flat:
            v = int(d[m])
            if v == -32768:  # ≡ 32768 (mod 2^16): category 16, no bits
                code, ln = codes[16]
                wtr.put(code, ln)
                continue
            s = abs(v).bit_length()
            code, ln = codes[s]
            wtr.put(code, ln)
            if s:
                wtr.put(v if v > 0 else v + (1 << s) - 1, s)
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_lossless(b: bytes) -> np.ndarray:
    """Decode a LOSSLESS (SOF3) huffman JPEG to an (h, w) or (h, w, n)
    integer array (uint8 for precision <= 8, else uint16), exactly
    inverting :func:`encode_jpeg_lossless`: per-sample prediction with
    the scan-selected predictor, modulo-2^16 reconstruction, point
    transform undone by a left shift, restart intervals resetting the
    prediction. Interleaved single-scan streams only (one scan listing
    every component — the shape this module writes); non-interleaved
    lossless stays a typed seam."""
    if b is None or len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG payload (missing SOI)")
    huff: dict[int, dict] = {}
    frame = None
    dri = 0
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError(f"expected marker at offset {i}")
        while i + 1 < len(b) and b[i + 1] == 0xFF:
            i += 1
        marker = b[i + 1]
        if marker == 0xD9:
            raise ValueError("EOI before scan data")
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        seg = b[i + 4 : i + 2 + seg_len]
        if marker == 0xC3:
            prec = seg[0]
            if not 2 <= prec <= 16:
                raise ValueError(f"illegal lossless precision {prec}")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv = seg[6 + 3 * c], seg[7 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "lossless decode supports 1x1 sampling only")
                comps.append(cid)
            frame = (h, w, comps, prec)
        elif marker in (0xC0, 0xC1, 0xC2):
            raise ValueError("decode_jpeg_lossless: not a lossless frame")
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                if cls == 0:
                    huff[tid] = _decode_table(bits, list(seg[j + 17 : j + 17 + nv]))
                j += 17 + nv
        elif marker == 0xDD:
            dri = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF3")
            h, w, comps, prec = frame
            ns = seg[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "non-interleaved lossless scans unsupported")
            tables = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                tables.append(huff[tt >> 4])
            sel = seg[1 + 2 * ns]           # Ss = predictor
            pt = seg[3 + 2 * ns] & 0x0F     # Al = point transform
            if not 1 <= sel <= 7:
                raise ValueError(f"lossless predictor {sel} out of range")
            default = 1 << (prec - pt - 1)
            planes = [np.zeros((h, w), np.int64) for _ in comps]
            reader = _BitReader(b, i + 2 + seg_len)
            for m in range(h * w):
                if dri and m and m % dri == 0:
                    reader.restart()
                y, x = divmod(m, w)
                for pl, tbl in zip(planes, tables):
                    s = reader.huff(tbl)
                    if s == 16:
                        d = 32768
                    elif s:
                        d = _extend(reader.bits(s), s)
                    else:
                        d = 0
                    if m == 0 or (dri and m % dri == 0):
                        pred = default
                    elif y == 0:
                        pred = int(pl[0, x - 1])
                    elif x == 0:
                        pred = int(pl[y - 1, 0])
                    else:
                        pred = _lossless_core(
                            int(pl[y, x - 1]), int(pl[y - 1, x]),
                            int(pl[y - 1, x - 1]), sel)
                    pl[y, x] = (pred + d) & 0xFFFF
            dt = np.uint8 if prec <= 8 else np.uint16
            outs = [(pl << pt).astype(dt) for pl in planes]
            if len(outs) == 1:
                return outs[0]
            return np.stack(outs, axis=-1)
        i += 2 + seg_len
    raise ValueError("no scan (SOS) found")



# ---------------------------------------------------------------------------
# arithmetic entropy coding (extended sequential, SOF9) — T.81 Annexes D & F
# ---------------------------------------------------------------------------

# ITU-T T.81 Table D.3 (Qe values and probability estimation state
# machine), 113 adaptive states + the fixed non-adaptive 0.5 state
# (index 113) used for AC sign decisions (F.1.4.4.2). Packed per row as
# (Qe, Next_Index_MPS, Next_Index_LPS | Switch_MPS<<7) — the XOR trick:
# a stats byte is (MPS << 7) | index, so "index = NLPS, flip MPS iff
# Switch" is one ``(sv & 0x80) ^ nlps_sw``. Spec constants, verified
# against the canonical published values (first rows 0x5A1D/1/1/1,
# 0x2586/2/14, ..., last adaptive row 0x59EB/111/112/1) and by
# cross-implementation decode tests.
_ARITH_TAB = (
    (0x5A1D, 1, 0x81), (0x2586, 2, 0x0E), (0x1114, 3, 0x10), (0x080B, 4, 0x12),
    (0x03D8, 5, 0x14), (0x01DA, 6, 0x17), (0x00E5, 7, 0x19), (0x006F, 8, 0x1C),
    (0x0036, 9, 0x1E), (0x001A, 10, 0x21), (0x000D, 11, 0x23), (0x0006, 12, 0x09),
    (0x0003, 13, 0x0A), (0x0001, 13, 0x0C), (0x5A7F, 15, 0x8F), (0x3F25, 16, 0x24),
    (0x2CF2, 17, 0x26), (0x207C, 18, 0x27), (0x17B9, 19, 0x28), (0x1182, 20, 0x2A),
    (0x0CEF, 21, 0x2B), (0x09A1, 22, 0x2D), (0x072F, 23, 0x2E), (0x055C, 24, 0x30),
    (0x0406, 25, 0x31), (0x0303, 26, 0x33), (0x0240, 27, 0x34), (0x01B1, 28, 0x36),
    (0x0144, 29, 0x38), (0x00F5, 30, 0x39), (0x00B7, 31, 0x3B), (0x008A, 32, 0x3C),
    (0x0068, 33, 0x3E), (0x004E, 34, 0x3F), (0x003B, 35, 0x20), (0x002C, 9, 0x21),
    (0x5AE1, 37, 0xA5), (0x484C, 38, 0x40), (0x3A0D, 39, 0x41), (0x2EF1, 40, 0x43),
    (0x261F, 41, 0x44), (0x1F33, 42, 0x45), (0x19A8, 43, 0x46), (0x1518, 44, 0x48),
    (0x1177, 45, 0x49), (0x0E74, 46, 0x4A), (0x0BFB, 47, 0x4B), (0x09F8, 48, 0x4D),
    (0x0861, 49, 0x4E), (0x0706, 50, 0x4F), (0x05CD, 51, 0x30), (0x04DE, 52, 0x32),
    (0x040F, 53, 0x32), (0x0363, 54, 0x33), (0x02D4, 55, 0x34), (0x025C, 56, 0x35),
    (0x01F8, 57, 0x36), (0x01A4, 58, 0x37), (0x0160, 59, 0x38), (0x0125, 60, 0x39),
    (0x00F6, 61, 0x3A), (0x00CB, 62, 0x3B), (0x00AB, 63, 0x3D), (0x008F, 32, 0x3D),
    (0x5B12, 65, 0xC1), (0x4D04, 66, 0x50), (0x412C, 67, 0x51), (0x37D8, 68, 0x52),
    (0x2FE8, 69, 0x53), (0x293C, 70, 0x54), (0x2379, 71, 0x56), (0x1EDF, 72, 0x57),
    (0x1AA9, 73, 0x57), (0x174E, 74, 0x48), (0x1424, 75, 0x48), (0x119C, 76, 0x4A),
    (0x0F6B, 77, 0x4A), (0x0D51, 78, 0x4B), (0x0BB6, 79, 0x4D), (0x0A40, 48, 0x4D),
    (0x5832, 81, 0xD0), (0x4D1C, 82, 0x58), (0x438E, 83, 0x59), (0x3BDD, 84, 0x5A),
    (0x34EE, 85, 0x5B), (0x2EAE, 86, 0x5C), (0x299A, 87, 0x5D), (0x2516, 71, 0x56),
    (0x5570, 89, 0xD8), (0x4CA9, 90, 0x5F), (0x44D9, 91, 0x60), (0x3E22, 92, 0x61),
    (0x3824, 93, 0x63), (0x32B4, 94, 0x63), (0x2E17, 86, 0x5D), (0x56A8, 96, 0xDF),
    (0x4F46, 97, 0x65), (0x47E5, 98, 0x66), (0x41CF, 99, 0x67), (0x3C3D, 100, 0x68),
    (0x375E, 93, 0x63), (0x5231, 102, 0x69), (0x4C0F, 103, 0x6A), (0x4639, 104, 0x6B),
    (0x415E, 99, 0x67), (0x5627, 106, 0xE9), (0x50E7, 107, 0x6C), (0x4B85, 103, 0x6D),
    (0x5597, 109, 0x6E), (0x504F, 107, 0x6F), (0x5A10, 111, 0xEE), (0x5522, 109, 0x70),
    (0x59EB, 111, 0xF0), (0x5A1D, 113, 0x71),
)


class _ArithDecoder:
    """QM arithmetic decoder per T.81 F.2.2 over one entropy-coded
    segment. Byte feed follows B.1.1.5: a 0x00 after 0xFF is stuffing
    (deliver 0xFF); any real marker ends the segment — decoding then
    continues against zero bytes until the block loop finishes (legal
    in arithmetic coding, unlike huffman). Register formulation: C
    accumulates raw bytes and CT tracks the bit offset of the A window
    (the interval bound is A << CT), so renormalization shifts A and
    decrements CT instead of shifting C — the invariant is
    C < (A << CT)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.i = pos
        self.c = 0
        self.a = 0
        self.ct = -16  # two initial BYTEINs before the first decision
        self.marker = False

    def _byte(self) -> int:
        if self.marker or self.i >= len(self.d):
            return 0  # past a marker: decode against zero data (F.2.2.2)
        b = self.d[self.i]
        if b == 0xFF:
            j = self.i + 1
            while j < len(self.d) and self.d[j] == 0xFF:
                j += 1  # B.1.1.2 fill bytes
            nxt = self.d[j] if j < len(self.d) else 0xD9
            if nxt == 0x00:
                self.i = j + 1
                return 0xFF  # stuffed zero: the data byte is 0xFF
            self.marker = True  # leave i at the marker for the caller
            return 0
        self.i += 1
        return b

    def restart(self) -> None:
        """Skip to and consume the expected RSTn, then re-init the
        registers (the stats reset is the caller's job — it owns the
        arrays). The QM decoder legitimately finishes an interval
        WITHOUT consuming all of the encoder's D.1.8 flush bytes
        (libjpeg truncates trailing zeros, a spec-literal encoder may
        not), so scan FORWARD past any unconsumed entropy/pad bytes to
        the next marker — checking only the current offset silently
        decodes the next interval misaligned (review finding,
        reproduced with zero-padded restart streams)."""
        j = self.i
        while j + 1 < len(self.d):
            if self.d[j] == 0xFF and self.d[j + 1] != 0x00:
                break  # a real marker (0xFF00 is stuffing, skip it)
            j += 1
        if j + 1 < len(self.d) and 0xD0 <= self.d[j + 1] <= 0xD7:
            self.i = j + 2  # consume the RSTn
        else:
            self.i = j  # no RSTn (truncated/last interval): stay put
        self.c = 0
        self.a = 0
        self.ct = -16
        self.marker = False

    def decode(self, st: bytearray, k: int) -> int:
        # renormalization + byte feed (F.2.2.1); also performs the
        # initial two-byte load via the CT=-16 seed
        a, c, ct = self.a, self.c, self.ct
        while a < 0x8000:
            ct -= 1
            if ct < 0:
                c = (c << 8) | self._byte()
                ct += 8
                if ct < 0:
                    ct += 1
                    if ct == 0:
                        a = 0x8000  # -> 0x10000 after the shift below
            a <<= 1
        sv = st[k]
        qe, nm, nl = _ARITH_TAB[sv & 0x7F]
        a -= qe
        bound = a << ct
        if c >= bound:
            c -= bound
            # upper subinterval: LPS, or MPS by conditional exchange
            if a < qe:
                st[k] = (sv & 0x80) ^ nm  # exchange: decode MPS
            else:
                st[k] = (sv & 0x80) ^ nl
                sv ^= 0x80  # decode LPS
            a = qe
        elif a < 0x8000:
            # lower subinterval needing renorm: exchanges possible
            if a < qe:
                st[k] = (sv & 0x80) ^ nl
                sv ^= 0x80  # conditional exchange: decode LPS
            else:
                st[k] = (sv & 0x80) ^ nm
        self.a, self.c, self.ct = a, c, ct
        return sv >> 7


class _ArithEncoder:
    """QM arithmetic encoder per T.81 D.1: bit stuffing (a 0x00 byte
    after every emitted 0xFF), carry propagation over stacked 0xFF
    bytes via the counter scheme, and the D.1.8 flush that picks the
    in-interval code value with the most trailing zero bits."""

    def __init__(self):
        self.c = 0
        self.a = 0x10000
        self.ct = 11
        self.buffer = -1  # pending byte (may still take a carry)
        self.sc = 0  # stacked 0xFF bytes (a carry converts them to 0x00)
        self.zc = 0  # pending 0x00 bytes (dropped if nothing follows)
        self.out = bytearray()

    def _flush_pending(self, carry: bool) -> None:
        if carry:
            if self.buffer >= 0:
                while self.zc:
                    self.out.append(0x00)
                    self.zc -= 1
                self.out.append(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self.out.append(0x00)  # B.1.1.5 byte stuffing
            self.zc += self.sc  # carry turns stacked 0xFF into 0x00
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                while self.zc:
                    self.out.append(0x00)
                    self.zc -= 1
                self.out.append(self.buffer)
            if self.sc:
                while self.zc:
                    self.out.append(0x00)
                    self.zc -= 1
                while self.sc:
                    self.out.append(0xFF)
                    self.out.append(0x00)
                    self.sc -= 1

    def encode(self, st: bytearray, k: int, bit: int) -> None:
        sv = st[k]
        qe, nm, nl = _ARITH_TAB[sv & 0x7F]
        self.a -= qe
        if bit != (sv >> 7):
            # LPS path (conditional exchange when the MPS side shrank
            # below Qe: code the LARGER subinterval for the LPS)
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            st[k] = (sv & 0x80) ^ nl
        else:
            # MPS path
            if self.a >= 0x8000:
                return  # no renormalization due: done
            if self.a < qe:
                self.c += self.a
                self.a = qe
            st[k] = (sv & 0x80) ^ nm
        # renormalization + byte out (D.1.6)
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                temp = self.c >> 19
                if temp > 0xFF:
                    self._flush_pending(carry=True)
                    # the spacer bits guarantee the post-carry byte
                    # cannot itself be 0xFF
                    self.buffer = temp & 0xFF
                elif temp == 0xFF:
                    self.sc += 1  # stack it: a later carry may bump it
                else:
                    self._flush_pending(carry=False)
                    self.buffer = temp
                self.c &= 0x7FFFF
                self.ct = 8
            if self.a >= 0x8000:
                break

    def flush(self) -> bytes:
        """D.1.8 termination: clear final bits + output what remains."""
        temp = (self.c + self.a - 1) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        self._flush_pending(carry=bool(self.c & 0xF8000000))
        # final data bytes, only if nonzero (trailing zeros are implied;
        # the & 0xFF below drops the already-consumed carry bit)
        if self.c & 0x7FFF800:
            while self.zc:  # pending 0x00 bytes precede the final bytes
                self.out.append(0x00)
                self.zc -= 1
            b = (self.c >> 19) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self.out.append(b)
                if b == 0xFF:
                    self.out.append(0x00)
        return bytes(self.out)


class _ArithStats:
    """Per-scan statistics areas + conditioning state (T.81 F.1.4.4):
    one 64-bin DC area and one 256-bin AC area per table id, the DC
    conditioning context + prediction per component, and the shared
    fixed 0.5 bin (state 113) for AC signs."""

    def __init__(self, n_comp: int):
        self.dc: dict[int, bytearray] = {}
        self.ac: dict[int, bytearray] = {}
        self.dc_ctx = [0] * n_comp
        self.last_dc = [0] * n_comp
        self.fixed = bytearray([113])

    def reset(self) -> None:
        for area in self.dc.values():
            for i in range(len(area)):
                area[i] = 0
        for area in self.ac.values():
            for i in range(len(area)):
                area[i] = 0
        self.dc_ctx = [0] * len(self.dc_ctx)
        self.last_dc = [0] * len(self.last_dc)

    def dc_area(self, tid: int) -> bytearray:
        return self.dc.setdefault(tid, bytearray(64))

    def ac_area(self, tid: int) -> bytearray:
        return self.ac.setdefault(tid, bytearray(256))


def _arith_decode_dc(dec, stats, ci, td, cond_dc):
    """F.2.4.1 Decode_DC_DIFF + the F.1.4.4.1.2 conditioning update.
    Context layout per Table F.4: S0 = classification of the PREVIOUS
    diff (0 zero / 4 small+ / 8 small- / 12 large+ / 16 large-),
    SS = S0+1, SP/SN = S0+2/3, X1 = 20, magnitude bits at +14."""
    st = stats.dc_area(td)
    s0 = stats.dc_ctx[ci]
    if dec.decode(st, s0) == 0:
        stats.dc_ctx[ci] = 0
        return stats.last_dc[ci]
    sign = dec.decode(st, s0 + 1)
    k = s0 + 2 + sign  # SP / SN
    m = dec.decode(st, k)
    if m:
        k = 20  # X1
        while dec.decode(st, k):
            m <<= 1
            if m == 0x8000:
                raise ValueError("corrupt arithmetic DC magnitude")
            k += 1
    low, up = cond_dc
    if m < (1 << low) >> 1:
        stats.dc_ctx[ci] = 0
    elif m > (1 << up) >> 1:
        stats.dc_ctx[ci] = 12 + sign * 4
    else:
        stats.dc_ctx[ci] = 4 + sign * 4
    v = m
    k += 14  # M2..: magnitude-bit bins
    while m > 1:
        m >>= 1
        if dec.decode(st, k):
            v |= m
    v += 1
    if sign:
        v = -v
    stats.last_dc[ci] += v
    return stats.last_dc[ci]


def _arith_decode_ac(dec, stats, ta, kx, coef, ss=1, se=63, al=0):
    """F.2.4.2 Decode_AC_coefficients into zigzag ``coef[ss..se]``.
    Context layout per Table F.5: 3 bins per index k (SE/S0/SP), the
    fixed 0.5 bin for signs, X2 chains at 189 (k <= Kx) / 217. The
    ``ss/se/al`` band parameters serve the progressive AC-first scans
    (G.2.1) — the sequential call is the ss=1, se=63, al=0 case."""
    st = stats.ac_area(ta)
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if dec.decode(st, base):
            return  # EOB
        while dec.decode(st, base + 1) == 0:
            k += 1
            if k > se:
                raise ValueError("corrupt arithmetic AC run")
            base = 3 * (k - 1)
        sign = dec.decode(stats.fixed, 0)
        pos = base + 2
        m = dec.decode(st, pos)
        if m:
            if dec.decode(st, pos):
                m <<= 1
                pos = 189 if k <= kx else 217  # X2 chains
                while dec.decode(st, pos):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("corrupt arithmetic AC magnitude")
                    pos += 1
        v = m
        pos += 14
        while m > 1:
            m >>= 1
            if dec.decode(st, pos):
                v |= m
        v += 1
        coef[k] = (-v if sign else v) << al
        k += 1


def _decode_scan_arith(b, pos, frame, qt, scan_tables, dri, cond_dc,
                       cond_ac, prec=8):
    """Interleaved extended-sequential arithmetic scan (SOF9) — the
    arithmetic twin of :func:`_decode_scan`: same MCU geometry, same
    dequant/IDCT tail; the entropy stage is the QM decoder with the
    DAC conditioning (defaults L=0, U=1, Kx=5 per T.81). An RSTn
    resets the coder registers AND every statistics area."""
    h, w, comps = frame
    shift, maxv = float(1 << (prec - 1)), (1 << prec) - 1
    hmax = max(hs for _, (hs, _), _ in comps)
    vmax = max(vs for _, (_, vs), _ in comps)
    mcw, mch = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = [
        np.zeros((mch * vs * 8, mcw * hs * 8), dtype=np.int32)
        for _, (hs, vs), _ in comps
    ]
    dec = _ArithDecoder(b, pos)
    stats = _ArithStats(len(comps))
    mcu = 0
    for my in range(mch):
        for mx in range(mcw):
            if dri and mcu and mcu % dri == 0:
                dec.restart()
                stats.reset()
            for ci, (cid, (hs, vs), tq) in enumerate(comps):
                td, ta = scan_tables[cid]
                q = qt[tq]
                for vy in range(vs):
                    for vx in range(hs):
                        coef = np.zeros(64, dtype=np.int32)
                        coef[0] = _arith_decode_dc(
                            dec, stats, ci, td, cond_dc.get(td, (0, 1))
                        )
                        _arith_decode_ac(
                            dec, stats, ta, cond_ac.get(ta, 5), coef
                        )
                        deq = np.zeros(64, dtype=np.float64)
                        deq[ZIGZAG] = (coef * q).astype(np.float64)
                        px = _T.T @ deq.reshape(8, 8) @ _T + shift
                        px = np.clip(np.round(px), 0, maxv).astype(np.int32)
                        r0, c0 = (my * vs + vy) * 8, (mx * hs + vx) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = px
            mcu += 1
    return _planes_to_rgb(planes, h, w, comps, hmax, vmax, prec)


def _arith_encode_dc(enc, stats, ci, td, cond_dc, dc_val):
    """F.1.4.1/F.1.4.4.1 Encode_DC_DIFF (Figures F.4, F.6-F.9)."""
    st = stats.dc_area(td)
    s0 = stats.dc_ctx[ci]
    v = int(dc_val) - stats.last_dc[ci]
    if v == 0:
        enc.encode(st, s0, 0)
        stats.dc_ctx[ci] = 0
        return
    stats.last_dc[ci] = int(dc_val)
    enc.encode(st, s0, 1)
    if v > 0:
        enc.encode(st, s0 + 1, 0)
        k = s0 + 2  # SP
        sign = 0
    else:
        v = -v
        enc.encode(st, s0 + 1, 1)
        k = s0 + 3  # SN
        sign = 1
    m = 0
    v -= 1
    if v:
        enc.encode(st, k, 1)
        m = 1
        k = 20  # X1
        v2 = v
        while v2 > 1:
            v2 >>= 1
            enc.encode(st, k, 1)
            m <<= 1
            k += 1
    enc.encode(st, k, 0)
    low, up = cond_dc
    if m < (1 << low) >> 1:
        stats.dc_ctx[ci] = 0
    elif m > (1 << up) >> 1:
        stats.dc_ctx[ci] = 12 + sign * 4
    else:
        stats.dc_ctx[ci] = 4 + sign * 4
    k += 14
    while m > 1:
        m >>= 1
        enc.encode(st, k, 1 if (m & v) else 0)


def _arith_encode_ac(enc, stats, ta, kx, zz, ss=1, se=63, al=0):
    """F.1.4.2/F.1.4.4.2 Encode_AC_Coefficients (Figure F.5) over one
    zigzag block. ``ss/se/al`` serve the progressive AC-first scans:
    the point transform truncates magnitudes toward zero (G.1.2.2),
    exactly like the huffman twin ``_emit_ac_first``."""
    st = stats.ac_area(ta)

    def pt(x):  # AC point transform: |x| >> al with the sign restored
        return -((-int(x)) >> al) if x < 0 else int(x) >> al

    ke = se
    while ke >= ss and pt(zz[ke]) == 0:
        ke -= 1
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(st, base, 0)  # not EOB yet
        while pt(zz[k]) == 0:
            enc.encode(st, base + 1, 0)
            k += 1
            base = 3 * (k - 1)
        enc.encode(st, base + 1, 1)
        v = pt(zz[k])
        if v > 0:
            enc.encode(stats.fixed, 0, 0)
            sign = 0
        else:
            v = -v
            enc.encode(stats.fixed, 0, 1)
            sign = 1
        pos = base + 2
        m = 0
        v -= 1
        if v:
            enc.encode(st, pos, 1)
            m = 1
            v2 = v
            if v2 > 1:
                v2 >>= 1
                enc.encode(st, pos, 1)
                m <<= 1
                pos = 189 if k <= kx else 217
                while v2 > 1:
                    v2 >>= 1
                    enc.encode(st, pos, 1)
                    m <<= 1
                    pos += 1
        enc.encode(st, pos, 0)
        pos += 14
        while m > 1:
            m >>= 1
            enc.encode(st, pos, 1 if (m & v) else 0)
        k += 1
    if k <= se:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def encode_jpeg_arithmetic(planes, qtable=None, sampling=None) -> bytes:
    """Write an extended sequential ARITHMETIC-coded JFIF (SOF9 + DAC,
    T.81 Annexes D/F) from 1 or 3 uint8 planes — the arithmetic twin of
    :func:`encode_jpeg` (same front half: pad, subsample, FDCT,
    quantize; the entropy stage is the QM coder with the default
    conditioning L=0, U=1, Kx=5). Entropy coding is lossless, so any
    payload that certifies exactly through the huffman pipeline
    certifies exactly through this one."""
    h, w, n, hs, vs, q, coefs, factors, mcw, mch = _compute_coefs(
        planes, qtable, sampling, 8
    )
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([n])
    for ci in range(n):
        hv = (hs << 4) | vs if ci == 0 else 0x11
        sof += bytes([ci + 1, hv, 0])
    out += _seg(0xC9, sof)  # SOF9: extended sequential, arithmetic
    # DAC: DC table 0 conditioning (U=1)<<4 | (L=0); AC table 0 Kx=5
    out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    out += _sos(list(range(1, n + 1)), 0, 63, 0, 0)
    enc = _ArithEncoder()
    stats = _ArithStats(n)
    for my in range(mch):
        for mx in range(mcw):
            for ci in range(n):
                fh, fv = factors[ci]
                for vy in range(fv):
                    for vx in range(fh):
                        zz = coefs[ci][my * fv + vy, mx * fh + vx]
                        _arith_encode_dc(enc, stats, ci, 0, (0, 1), zz[0])
                        _arith_encode_ac(enc, stats, 0, 5, zz)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive arithmetic (SOF10) — T.81 G.2 with the Annex-F models
# ---------------------------------------------------------------------------


def _arith_band_decode(dec, stats, view, ss, se, ah, al, ci, td, ta,
                       cond_dc, cond_ac):
    """One data unit's contribution for one arithmetic scan band into
    the zigzag coefficient ``view``: DC first (the sequential DC model
    in the point-transformed domain, value << Al), DC refinement (one
    fixed-bin decision appending bit Al), AC first (the sequential AC
    model over Ss..Se, values << Al), AC refinement (G.2: EOB decisions
    keyed past the previous stage's end index, correction bits at SP,
    newly-significant signs on the fixed bin)."""
    if ss == 0:
        if ah == 0:  # DC first
            val = _arith_decode_dc(dec, stats, ci, td,
                                   cond_dc.get(td, (0, 1)))
            view[0] = val << al
        else:  # DC refinement: one bit at position al, fixed bin
            if dec.decode(stats.fixed, 0):
                view[0] = int(view[0]) | (1 << al)
        if se == 0:
            return
        # sequential full-band arithmetic never routes here (fast path)
    if ah == 0:  # AC first scan
        _arith_decode_ac(dec, stats, ta, cond_ac.get(ta, 5), view,
                         ss=max(ss, 1), se=se, al=al)
        return
    # AC refinement scan
    st = stats.ac_area(ta)
    p1, m1 = 1 << al, -(1 << al)
    kex = se
    while kex > 0 and view[kex] == 0:
        kex -= 1  # previous-stage end-of-block index
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if k > kex:
            if dec.decode(st, base):
                return  # EOB
        while True:
            v = int(view[k])
            if v:
                if dec.decode(st, base + 2):  # correction bit
                    view[k] = v + (m1 if v < 0 else p1)
                break
            if dec.decode(st, base + 1):  # newly significant
                view[k] = m1 if dec.decode(stats.fixed, 0) else p1
                break
            k += 1
            if k > se:
                raise ValueError("corrupt arithmetic AC refinement run")
            base = 3 * (k - 1)
        k += 1


def _decode_scan_buffered_arith(b, pos, frame, scan_tables, scan_cids,
                                ss, se, ah, al, dri, coefs, cond_dc,
                                cond_ac):
    """One arithmetic scan of a progressive (SOF10) file into the
    coefficient buffers — the arithmetic twin of
    :func:`_decode_scan_buffered`. Statistics are per-scan (fresh
    areas each SOS, T.81 F.1.4.4); an RSTn resets the QM registers and
    every area. Returns the offset of the next marker."""
    h, w, comps = frame
    cid_to_ci = {cid: ci for ci, (cid, _, _) in enumerate(comps)}
    dec = _ArithDecoder(b, pos)
    stats = _ArithStats(len(comps))
    if len(scan_cids) > 1:  # interleaved DC scan
        hmax, vmax, mcw, mch = _frame_geometry(frame)
        mcu = 0
        for my in range(mch):
            for mx in range(mcw):
                if dri and mcu and mcu % dri == 0:
                    dec.restart()
                    stats.reset()
                for cid in scan_cids:
                    ci = cid_to_ci[cid]
                    _, (hs, vs), _ = comps[ci]
                    td, ta = scan_tables[cid]
                    for vy in range(vs):
                        for vx in range(hs):
                            _arith_band_decode(
                                dec, stats,
                                coefs[ci][my * vs + vy, mx * hs + vx],
                                ss, se, ah, al, ci, td, ta,
                                cond_dc, cond_ac,
                            )
                mcu += 1
    else:
        cid = scan_cids[0]
        ci = cid_to_ci[cid]
        td, ta = scan_tables[cid]
        bw, bh = _comp_blocks(frame, ci)
        n = 0
        for by in range(bh):
            for bx in range(bw):
                if dri and n and n % dri == 0:
                    dec.restart()
                    stats.reset()
                _arith_band_decode(
                    dec, stats, coefs[ci][by, bx], ss, se, ah, al, ci,
                    td, ta, cond_dc, cond_ac,
                )
                n += 1
    # the QM decoder may finish without touching the trailing bytes of
    # its segment (spacer/flush bytes): scan forward to the next marker
    j = max(dec.i, pos)
    while j + 1 < len(b):
        if b[j] == 0xFF and b[j + 1] != 0x00 and not (
            0xD0 <= b[j + 1] <= 0xD7
        ):
            return j
        j += 1
    return j


def _arith_emit_ac_refine(enc, stats, ta, zz, ss, se, al):
    """Encoder twin of the AC-refinement band (G.2): EOB index from
    this scan's significance, EOBx from the previous stage's, EOB
    decisions only past EOBx, correction bits at SP, newly-significant
    signs on the fixed bin."""
    st = stats.ac_area(ta)
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1  # end of block INCLUDING this scan's bit
    kex = ke
    while kex >= ss and (abs(int(zz[kex])) >> (al + 1)) == 0:
        kex -= 1  # end of block of the PREVIOUS stage
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        if k > kex:
            enc.encode(st, base, 0)  # not EOB yet
        while True:
            t = abs(int(zz[k])) >> al
            if t:
                if t >> 1:  # previously nonzero: correction bit
                    enc.encode(st, base + 2, t & 1)
                else:  # newly significant this scan
                    enc.encode(st, base + 1, 1)
                    enc.encode(stats.fixed, 0, 1 if zz[k] < 0 else 0)
                break
            enc.encode(st, base + 1, 0)
            k += 1
            base = 3 * (k - 1)
        k += 1
    if k <= se:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def encode_jpeg_progressive_arithmetic(planes, qtable=None,
                                       sampling=None) -> bytes:
    """Write a progressive ARITHMETIC (SOF10 + DAC) JFIF with the same
    scan script as :func:`encode_jpeg_progressive` — interleaved DC
    first (Al=1), per-component AC 1-63 first (Al=1), interleaved DC
    refinement, per-component AC refinement — each scan QM-coded with
    fresh statistics. Entropy coding is lossless, so the huffman
    progressive writer's certification contract carries over
    unchanged."""
    h, w, n, hs, vs, q, coefs, factors, mcw, mch = _compute_coefs(
        planes, qtable, sampling
    )
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([n])
    for ci in range(n):
        hv = (hs << 4) | vs if ci == 0 else 0x11
        sof += bytes([ci + 1, hv, 0])
    out += _seg(0xCA, sof)  # SOF10: progressive, arithmetic
    out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    comp_ids = list(range(1, n + 1))

    def mcu_blocks():
        for my in range(mch):
            for mx in range(mcw):
                for ci in range(n):
                    fh, fv = factors[ci]
                    for vy in range(fv):
                        for vx in range(fh):
                            yield ci, coefs[ci][my * fv + vy, mx * fh + vx]

    # scan 1: DC first, interleaved, Al=1
    out += _sos(comp_ids, 0, 0, 0, 1)
    enc = _ArithEncoder()
    stats = _ArithStats(n)
    for ci, zz in mcu_blocks():
        _arith_encode_dc(enc, stats, ci, 0, (0, 1), int(zz[0]) >> 1)
    out += enc.flush()
    # per-component AC first, band 1-63, Al=1
    for ci in range(n):
        bw, bh = _writer_comp_blocks(w, h, hs, vs, factors, ci)
        out += _sos([ci + 1], 1, 63, 0, 1)
        enc = _ArithEncoder()
        stats = _ArithStats(n)
        for by in range(bh):
            for bx in range(bw):
                _arith_encode_ac(enc, stats, 0, 5, coefs[ci][by, bx],
                                 ss=1, se=63, al=1)
        out += enc.flush()
    # DC refinement: one fixed-bin decision per block, interleaved
    out += _sos(comp_ids, 0, 0, 1, 0)
    enc = _ArithEncoder()
    stats = _ArithStats(n)
    for ci, zz in mcu_blocks():
        enc.encode(stats.fixed, 0, int(zz[0]) & 1)
    out += enc.flush()
    # per-component AC refinement, band 1-63, Ah=1 -> Al=0
    for ci in range(n):
        bw, bh = _writer_comp_blocks(w, h, hs, vs, factors, ci)
        out += _sos([ci + 1], 1, 63, 1, 0)
        enc = _ArithEncoder()
        stats = _ArithStats(n)
        for by in range(bh):
            for bx in range(bw):
                _arith_emit_ac_refine(enc, stats, 0, coefs[ci][by, bx],
                                      1, 63, 0)
        out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)
