"""JPEG codec (JFIF, sequential and progressive DCT, 8-bit) — stdlib+numpy.

The reference reads .jpg/.jpeg inputs through OpenCV; with no image library
available, this module implements the JPEG standard (ITU-T T.81) from
scratch, with ONE scan path shared by both coding processes and both
directions:

  block order — `_scan_mcus` yields a scan's data units in T.81 order:
  MCU-interleaved for several components, the component's own block grid
  for one. The decoder and the encoder both walk it, and each counts the
  restart interval on its MCUs in one place.

  decoder — SOI/APPn/COM/DQT/DHT/DRI/SOF0/1/2/SOS parsing, Huffman tables
  read FROM THE STREAM (not assumed), restart markers, any sampling factors
  in 1..4. SOF allocates one per-component int32 coefficient store (zigzag
  order); every SOS decodes into it through the T.81 Annex G primitives —
  DC first/refine, AC first/refine with correction bits and EOB runs — a
  sequential scan being their (Ss=0, Se=63, Ah=Al=0) case. So progressive
  files (a real crawl corpus is ~10-20% progressive) and non-interleaved
  sequential files (one SOS per component) decode like interleaved
  baseline ones. At EOI `_reconstruct` dequantizes, IDCTs (block by
  block), upsamples chroma and converts YCbCr->RGB once.

  encoder — grayscale or RGB 4:4:4/4:2:0 with the Annex K quantization
  tables (libjpeg quality scaling). `encode` writes one interleaved
  sequential scan with the Annex K Huffman tables; `encode_progressive`
  writes a scan script (libjpeg-style default) that transmits the SAME
  quantized coefficients, so decode() of both forms is pixel-identical —
  the self-verification the progressive fixtures rely on.

Pure python Huffman bit IO is the known slow path: at scale this decode
belongs behind the pluggable blob/codec hook (operators/extract
blob_resolver) where a native library replaces it executor-side.
"""

from __future__ import annotations

import struct

import numpy as np

# -- constants ---------------------------------------------------------------

# samples of the coefficient store one SOF may allocate (its MCU-padded
# frame summed over components, int32 each: 512 MiB). An A4 page rasterized
# at operators/pdf.PDF_ZOOM is ~6M RGB samples; without a cap a forged SOF
# of 65535x65535 asks for 16 GiB before any scan data is read.
MAX_FRAME_SAMPLES = 1 << 27

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# ITU-T T.81 Annex K.1/K.2 quantization tables (zigzag-free, row order)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]).reshape(8, 8)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]).reshape(8, 8)

# Annex K.3 Huffman specs: (BITS[1..16], HUFFVAL)
DC_LUMA_SPEC = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
DC_CHROMA_SPEC = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
     0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
     0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
     0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
     0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
     0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
     0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
     0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
     0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
     0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# 8x8 DCT basis: C[u, x] = a(u) * cos((2x+1) u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = np.cos((2 * _x + 1) * _u * np.pi / 16) * (
            np.sqrt(1 / 8) if _u == 0 else 0.5
        )


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _idct(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def _decode_table(bits: list[int], vals: list[int]):
    """BITS/HUFFVAL -> {(length, code): symbol} (canonical assignment)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _canonical_codes(bits: list[int], vals: list[int]):
    """BITS/HUFFVAL -> {symbol: (code, length)} for the bit writer."""
    return {sym: (code, length)
            for (length, code), sym in _decode_table(bits, vals).items()}


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


# -- block order (shared by decoder and encoder) -----------------------------

def _mcu_grid(samps, w: int, h: int) -> tuple[int, int, int, int]:
    """(hmax, vmax, MCUs across, MCUs down) for per-component (h, v)."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _scan_mcus(samps, cis: list[int], w: int, h: int):
    """A scan's data units in T.81 order (A.2): per MCU — the unit a
    restart interval counts — a tuple of (component, block row, block
    column) triples. Several components interleave: an MCU holds each
    one's h x v blocks. One component is non-interleaved: an MCU is one
    block of that component's own grid (its real size, not the MCU-padded
    store), so its sampling factors matter only through that size (a gray
    JPEG may legally declare hv=0x22)."""
    hmax, vmax, mcux, mcuy = _mcu_grid(samps, w, h)
    if len(cis) == 1:
        (ci,) = cis
        hs, vs = samps[ci]
        bx = ((w * hs + hmax - 1) // hmax + 7) // 8
        by = ((h * vs + vmax - 1) // vmax + 7) // 8
        for yb in range(by):
            for xb in range(bx):
                yield ((ci, yb, xb),)
        return
    for my in range(mcuy):
        for mx in range(mcux):
            yield tuple((ci, my * samps[ci][1] + v, mx * samps[ci][0] + u)
                        for ci in cis
                        for v in range(samps[ci][1])
                        for u in range(samps[ci][0]))


# -- encoder -----------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)

    def restart(self, idx: int) -> None:
        """Byte-align (1-padding) and emit RSTn — markers bypass stuffing."""
        self.flush()
        self.buf += bytes([0xFF, 0xD0 + (idx % 8)])


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category, appended bits)."""
    if v == 0:
        return 0, 0
    t = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << t) - 1
    return t, bits


def _dht_segment(tclass: int, tid: int, spec) -> bytes:
    bits, vals = spec
    payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _dqt_segment(tid: int, table: np.ndarray) -> bytes:
    zz = table.flatten()[ZIGZAG].astype(np.uint8)
    payload = bytes([tid]) + zz.tobytes()
    return b"\xff\xdb" + struct.pack(">H", len(payload) + 2) + payload


def _pad_to(p: np.ndarray, hh: int, ww: int) -> np.ndarray:
    pp = np.empty((hh, ww))
    h, w = p.shape
    pp[:h, :w] = p
    if hh > h:
        pp[h:, :w] = p[h - 1 :, :]  # edge replicate
    if ww > w:
        pp[:, w:] = pp[:, w - 1 : w]
    return pp


def _plan_components(img: np.ndarray, quality: int, subsampling: str):
    """Encoder front half: colorspace split, chroma subsample, level shift.
    Returns (gray, h, w, planes, quants, samps)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected (H,W) or (H,W,3), got {img.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w = img.shape[:2]
    ql = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)
    sub = 2 if (subsampling == "420" and not gray) else 1

    if gray:
        planes = [img.astype(np.float64) - 128.0]
        quants, samps = [ql], [(1, 1)]
    else:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if sub == 2:
            # mean-pool 2x2 (pad odd dims by edge replicate first)
            ch, cw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            cb = _pad_to(cb, ch, cw).reshape(ch // 2, 2, cw // 2, 2).mean(axis=(1, 3))
            cr = _pad_to(cr, ch, cw).reshape(ch // 2, 2, cw // 2, 2).mean(axis=(1, 3))
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        quants = [ql, qc, qc]
        samps = [(sub, sub), (1, 1), (1, 1)]
    return gray, h, w, planes, quants, samps


def _coef_arrays(planes, quants, samps):
    """FDCT + quantize every block of the MCU-padded grid; per-comp
    (by, bx, 64) int32 in zigzag order — the encoder's coefficient store,
    shaped as the decoder's. Per-block _fdct calls, NOT a batched einsum:
    stacked numpy contractions sum in a different FP order, and a
    coefficient landing exactly on a rounding boundary would then differ
    by one."""
    h, w = planes[0].shape
    _, _, mcux, mcuy = _mcu_grid(samps, w, h)
    out = []
    for ci, p in enumerate(planes):
        ch, cv = samps[ci]
        by, bx = mcuy * cv, mcux * ch
        pad = _pad_to(p, by * 8, bx * 8)
        arr = np.empty((by, bx, 64), dtype=np.int32)
        for yb in range(by):
            for xb in range(bx):
                block = pad[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8]
                coef = np.round(_fdct(block) / quants[ci]).astype(np.int32)
                arr[yb, xb] = coef.flatten()[ZIGZAG]
        out.append(arr)
    return out


# Flat 8-bit Huffman spec for progressive AC scans: progressive entropy
# coding needs EOBn symbols (r<<4, r>0) that the Annex K baseline AC tables
# do not define. 208 symbols (run 0-15 x size 0-12) all at code length 8 is
# a legal canonical table (max code 207 != the forbidden all-ones 255).
PROG_AC_SPEC = (
    [0, 0, 0, 0, 0, 0, 0, 208, 0, 0, 0, 0, 0, 0, 0, 0],
    [(r << 4) | s for r in range(16) for s in range(13)],
)

# libjpeg-style default scan scripts: (component indexes, Ss, Se, Ah, Al)
_SCRIPT_GRAY = [
    ([0], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2), ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
    ([0], 0, 0, 1, 0),
    ([0], 1, 63, 1, 0),
]
_SCRIPT_COLOR = [
    ([0, 1, 2], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1), ([1], 1, 63, 0, 1),
    ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
    ([0, 1, 2], 0, 0, 1, 0),
    ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([0], 1, 63, 1, 0),
]


class _EobEncState:
    __slots__ = ("run", "be")

    def __init__(self) -> None:
        self.run = 0
        self.be: list[int] = []  # correction bits deferred to the next EOBn


def _emit_eobrun(w: _BitWriter, state: _EobEncState, ac_codes) -> None:
    if state.run:
        nbits = state.run.bit_length() - 1
        code, ln = ac_codes[nbits << 4]
        w.write(code, ln)
        if nbits:
            w.write(state.run - (1 << nbits), nbits)
        for b in state.be:
            w.write(b, 1)
        state.be.clear()
        state.run = 0


def _enc_dc_first(w: _BitWriter, zz, al: int, pred: int, dc_codes) -> int:
    val = int(zz[0]) >> al
    t, bits = _magnitude(val - pred)
    code, ln = dc_codes[t]
    w.write(code, ln)
    if t:
        w.write(bits, t)
    return val


def _enc_ac_first(w, zz, ss, se, al, ac_codes, state: _EobEncState) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        a = (-v if v < 0 else v) >> al
        if a == 0:
            r += 1
            continue
        _emit_eobrun(w, state, ac_codes)
        while r > 15:
            code, ln = ac_codes[0xF0]
            w.write(code, ln)
            r -= 16
        t, bits = _magnitude(a if v >= 0 else -a)
        if t > 12:
            raise ValueError("AC coefficient magnitude exceeds 12 bits")
        code, ln = ac_codes[(r << 4) | t]
        w.write(code, ln)
        w.write(bits, t)
        r = 0
    if r:
        state.run += 1
        if state.run == 0x7FFF:
            _emit_eobrun(w, state, ac_codes)


def _enc_ac_refine(w, zz, ss, se, al, ac_codes, state: _EobEncState) -> None:
    """T.81 G.1.2.3 successive-approximation AC refinement: newly
    significant coefficients emit (run,1)+sign; already-significant ones
    contribute one correction bit each, buffered until the next emitted
    symbol (or the next EOBn if the block ends first)."""
    absv = [(-int(zz[k]) if zz[k] < 0 else int(zz[k])) >> al
            for k in range(ss, se + 1)]
    eobk = -1
    for i in range(len(absv) - 1, -1, -1):
        if absv[i] == 1:
            eobk = i
            break
    r = 0
    br: list[int] = []  # in-block buffered correction bits
    for i, a in enumerate(absv):
        if a == 0:
            r += 1
            continue
        while r > 15 and i <= eobk:
            _emit_eobrun(w, state, ac_codes)
            code, ln = ac_codes[0xF0]
            w.write(code, ln)
            r -= 16
            for b in br:
                w.write(b, 1)
            br.clear()
        if a > 1:
            br.append(a & 1)
            continue
        _emit_eobrun(w, state, ac_codes)
        code, ln = ac_codes[(r << 4) | 1]
        w.write(code, ln)
        w.write(0 if zz[ss + i] < 0 else 1, 1)
        for b in br:
            w.write(b, 1)
        br.clear()
        r = 0
    if r or br:
        state.run += 1
        state.be.extend(br)
        if state.run == 0x7FFF or len(state.be) > 900:
            _emit_eobrun(w, state, ac_codes)


def _write_scan(coefs, samps, w: int, h: int, scan, dc_codes, ac_codes,
                restart_interval: int) -> bytes:
    """One SOS segment and its entropy-coded data. `scan` is (component
    indexes, Ss, Se, Ah, Al); (all, 0, 63, 0, 0) is a sequential scan,
    which has no EOB runs, so its EOB is flushed after every block.
    Component 0 uses table 0, the others table 1."""
    cis, ss, se, ah, al = scan
    sos = bytes([len(cis)])
    for ci in cis:
        sos += bytes([ci + 1, 0x11 * min(ci, 1)])
    sos += bytes([ss, se, (ah << 4) | al])
    writer = _BitWriter()
    state = _EobEncState()
    # an EOB run spans blocks only in a one-component progressive AC scan
    eob_codes = ac_codes[min(cis[0], 1)]
    enc_ac = _enc_ac_refine if ah else _enc_ac_first
    ac_start = max(ss, 1)
    preds = [0] * len(coefs)
    for n, mcu in enumerate(_scan_mcus(samps, cis, w, h)):
        if restart_interval and n and n % restart_interval == 0:
            # RSTn: flush the pending EOB run, byte-align, reset predictors
            _emit_eobrun(writer, state, eob_codes)
            writer.restart(n // restart_interval - 1)
            preds = [0] * len(coefs)
        for ci, yb, xb in mcu:
            zz = coefs[ci][yb, xb]
            tid = min(ci, 1)
            if ss == 0:
                if ah == 0:
                    preds[ci] = _enc_dc_first(writer, zz, al, preds[ci],
                                              dc_codes[tid])
                else:
                    writer.write((int(zz[0]) >> al) & 1, 1)
            if se:
                enc_ac(writer, zz, ac_start, se, al, ac_codes[tid], state)
                if ss == 0:  # sequential
                    _emit_eobrun(writer, state, ac_codes[tid])
    _emit_eobrun(writer, state, eob_codes)
    writer.flush()
    return (b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            + bytes(writer.buf))


def _encode(img, quality, subsampling, restart_interval, progressive,
            scan_script) -> bytes:
    """The one JFIF writer, SOF0 or SOF2. `scan_script` None is one
    interleaved sequential scan (SOF0) or the libjpeg-style default
    script (SOF2)."""
    gray, h, w, planes, quants, samps = _plan_components(img, quality, subsampling)
    coefs = _coef_arrays(planes, quants, samps)
    ncomp = len(planes)
    if progressive:
        ac_specs = [PROG_AC_SPEC, PROG_AC_SPEC]
        default = _SCRIPT_GRAY if gray else _SCRIPT_COLOR
    else:
        ac_specs = [AC_LUMA_SPEC, AC_CHROMA_SPEC]
        default = [(list(range(ncomp)), 0, 63, 0, 0)]
    dc_specs = [DC_LUMA_SPEC, DC_CHROMA_SPEC]
    ntables = 1 if gray else 2

    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci, (hs, vs) in enumerate(samps):
        sof += bytes([ci + 1, (hs << 4) | vs, min(ci, 1)])
    out = bytearray(b"\xff\xd8")  # SOI
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HHBB", 1, 1, 0, 0))
    for tid in range(ntables):
        out += _dqt_segment(tid, quants[tid])
    out += (b"\xff\xc2" if progressive else b"\xff\xc0")
    out += struct.pack(">H", len(sof) + 2) + sof
    for tid in range(ntables):
        out += _dht_segment(0, tid, dc_specs[tid])
        out += _dht_segment(1, tid, ac_specs[tid])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    dc_codes = [_canonical_codes(*s) for s in dc_specs]
    ac_codes = [_canonical_codes(*s) for s in ac_specs]
    for scan in default if scan_script is None else scan_script:
        out += _write_scan(coefs, samps, w, h, scan, dc_codes, ac_codes,
                           restart_interval)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode(img: np.ndarray, quality: int = 90, subsampling: str = "444",
           restart_interval: int = 0) -> bytes:
    """Encode (H,W) grayscale or (H,W,3) RGB uint8 as baseline JFIF
    (Annex K tables scaled by libjpeg-style quality). subsampling: '444'
    (every component full-resolution) or '420' (chroma halved both ways —
    the common camera/web layout; exercises the decoder's MCU sampling).
    restart_interval > 0 emits DRI + RSTn markers every that many MCUs
    (the camera-JPEG resync layout; DC predictors reset at each)."""
    return _encode(img, quality, subsampling, restart_interval, False, None)


def encode_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    scan_script: list[tuple[list[int], int, int, int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode as progressive JFIF (SOF2). scan_script entries are
    (component indexes, Ss, Se, Ah, Al); the default is the libjpeg-style
    script (interleaved DC first + refine, per-component spectral AC bands
    with successive approximation). Progressive transmits the same
    quantized coefficients as `encode`, so decode() of both forms is
    pixel-identical — the self-verification the fixtures rely on."""
    return _encode(img, quality, subsampling, restart_interval, True,
                   scan_script)


# -- decoder -----------------------------------------------------------------

class _BitReader:
    """Entropy-coded segment reader: 0xFF00 unstuffing, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise EOFError("truncated entropy segment")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker inside entropy segment")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Drop the padding bits before the expected RSTn, step past it."""
        try:
            while True:
                self.bit()
        except _RestartMarker:
            self.acc = 0
            self.n = 0
            self.pos += 2  # consume FF Dn


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _huff_decode(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


class _Frame:
    """One SOF: size, per-component ids, sampling and quantization table
    ids, and the coefficient store every scan decodes into — one
    (by, bx, 64) int32 zigzag array per component over the MCU-padded
    grid, allocated here, once."""

    def __init__(self, seg: bytes, progressive: bool) -> None:
        if len(seg) < 6 or not seg[5] or len(seg) < 6 + 3 * seg[5]:
            raise ValueError("truncated or empty JPEG frame header (SOF)")
        self.progressive = progressive
        self.h, self.w = struct.unpack(">HH", seg[1:5])
        self.ids, self.samps, self.tqs = [], [], []
        for c in range(seg[5]):
            cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
            hs, vs = hv >> 4, hv & 0xF
            if not (1 <= hs <= 4 and 1 <= vs <= 4):  # T.81 B.2.2
                raise ValueError(f"JPEG component {cid} sampling factors "
                                 f"{hs}x{vs} outside 1..4")
            self.ids.append(cid)
            self.samps.append((hs, vs))
            self.tqs.append(tq)
        if not (self.h and self.w):
            raise ValueError(f"JPEG frame has zero size {self.w}x{self.h}")
        _, _, mcux, mcuy = _mcu_grid(self.samps, self.w, self.h)
        shapes = [(mcuy * vs, mcux * hs, 64) for hs, vs in self.samps]
        samples = sum(by * bx * 64 for by, bx, _ in shapes)
        if samples > MAX_FRAME_SAMPLES:
            raise ValueError(f"JPEG frame {self.w}x{self.h} needs {samples} "
                             f"coefficient samples, above {MAX_FRAME_SAMPLES}")
        self.coefs = [np.zeros(shape, dtype=np.int32) for shape in shapes]


def decode(data: bytes) -> np.ndarray:
    """Decode a JFIF byte string (sequential SOF0/1 or progressive SOF2).
    Returns (H,W) uint8 for single-component images, (H,W,3) RGB uint8
    otherwise."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame: _Frame | None = None
    scanned = False
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xFF:  # T.81 B.1.1.2: 0xFF fill bytes before a marker
            pos += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            # standalone markers carry no length word — a stray SOI (0xD8)
            # in a corrupt header must not be read as length-prefixed or
            # the scan desyncs and reports garbage
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if seglen < 2:
            raise ValueError(
                f"corrupt JPEG header: segment FF{marker:02X} declares "
                f"length {seglen} < 2"
            )
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0xF
                if prec != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(seg[i + 1 : i + 65], dtype=np.uint8).astype(np.int32)
                t = np.zeros(64, dtype=np.int32)
                t[ZIGZAG] = zz
                qtables[tid] = t.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tclass, tid = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated JPEG Huffman table (DHT)")
                htables[(tclass, tid)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, 2 progressive
            frame = _Frame(seg, marker == 0xC2)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding process (SOF marker 0x{marker:02x}"
                " — lossless/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated JPEG restart interval (DRI)")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG scan (SOS) before the frame (SOF)")
            pos = _read_scan(data, pos + 2 + seglen, seg, frame, htables,
                             restart_interval)
            scanned = True
            continue
        pos += 2 + seglen
    if not scanned:
        raise ValueError("no SOS marker found")
    # a truncated/missing EOI is tolerated once the scans parsed
    return _reconstruct(frame, qtables)


def _huffman_table(htables, tclass: int, tid: int):
    table = htables.get((tclass, tid))
    if table is None:
        raise ValueError(f"JPEG scan uses undefined Huffman table "
                         f"{'DC' if tclass == 0 else 'AC'}{tid}")
    return table


def _read_scan(data, pos, seg, frame: _Frame, htables,
               restart_interval) -> int:
    """Decode one SOS, sequential or progressive, interleaved or not, into
    `frame.coefs`; return the byte position just past its entropy-coded
    data. A sequential scan is the (Ss=0, Se=63, Ah=Al=0) case of the
    progressive primitives."""
    ns = seg[0] if seg else 0
    if not ns or len(seg) < 4 + 2 * ns:
        raise ValueError("truncated JPEG scan header (SOS)")
    cis, tables = [], []
    for c in range(ns):
        cs, tds = seg[1 + 2 * c], seg[2 + 2 * c]
        if cs not in frame.ids:
            raise ValueError(
                f"JPEG scan names component {cs}, absent from SOF")
        cis.append(frame.ids.index(cs))
        tables.append((tds >> 4, tds & 0xF))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
    if not frame.progressive:
        ss, se, ah, al = 0, 63, 0, 0
    elif ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    elif ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    dct = {ci: _huffman_table(htables, 0, td)
           for ci, (td, _) in zip(cis, tables) if ss == 0 and ah == 0}
    act = {ci: _huffman_table(htables, 1, ta)
           for ci, (_, ta) in zip(cis, tables) if se}
    dec_ac = _dec_ac_refine if ah else _dec_ac_first
    ac_start = max(ss, 1)
    coefs = frame.coefs

    reader = _BitReader(data, pos)
    eob = _EobState()
    preds = [0] * len(frame.ids)
    for n, mcu in enumerate(_scan_mcus(frame.samps, cis, frame.w, frame.h)):
        if restart_interval and n and n % restart_interval == 0:
            reader.restart()
            preds = [0] * len(frame.ids)
            eob.run = 0
        for ci, yb, xb in mcu:
            zz = coefs[ci][yb, xb]
            if ss == 0:
                if ah == 0:
                    preds[ci] = _dec_dc_first(reader, dct[ci], zz, preds[ci],
                                              al)
                else:
                    _dec_dc_refine(reader, zz, al)
            if se:
                dec_ac(reader, act[ci], zz, ac_start, se, al, eob)
    return reader.pos


# -- scan primitives (T.81 Annex G.2; F.2 is their Ss=0, Se=63 case) ----------
#
# Coefficients accumulate in the store in ZIGZAG index order (spectral
# bands are contiguous). DC first (may be interleaved), DC refine (one raw
# bit per block), AC first (EOB runs), AC refine (correction bits for
# already-nonzero coefficients).


class _EobState:
    __slots__ = ("run",)

    def __init__(self) -> None:
        self.run = 0


def _dec_dc_first(reader, dct, zz, pred, al):
    t = _huff_decode(reader, dct)
    diff = _extend(reader.bits(t), t) if t else 0
    pred += diff
    zz[0] = pred << al
    return pred


def _dec_dc_refine(reader, zz, al):
    if reader.bit():
        zz[0] |= 1 << al


def _dec_ac_first(reader, act, zz, ss, se, al, eob: _EobState) -> None:
    if eob.run > 0:
        eob.run -= 1
        return
    k = ss
    while k <= se:
        rs = _huff_decode(reader, act)
        r, s = rs >> 4, rs & 0xF
        if s:
            k += r
            if k > se:
                raise ValueError("AC coefficient index overruns the band")
            zz[k] = _extend(reader.bits(s), s) << al
            k += 1
        else:
            if r == 15:  # ZRL
                k += 16
                continue
            eob.run = (1 << r) - 1
            if r:
                eob.run += reader.bits(r)
            break


def _dec_ac_refine(reader, act, zz, ss, se, al, eob: _EobState) -> None:
    p1 = 1 << al
    m1 = -(1 << al)

    def correct(k):
        # already-nonzero coefficient: one correction bit refines it
        if reader.bit() and not (int(zz[k]) & p1):
            zz[k] += p1 if zz[k] >= 0 else m1

    k = ss
    if eob.run == 0:
        while k <= se:
            rs = _huff_decode(reader, act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:
                    eob.run = 1 << r
                    if r:
                        eob.run += reader.bits(r)
                    break  # this block finishes in the EOB-run tail below
                newval = 0  # ZRL: advance 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("invalid AC refinement magnitude")
                newval = p1 if reader.bit() else m1
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eob.run > 0:
        while k <= se:
            if zz[k] != 0:
                correct(k)
            k += 1
        eob.run -= 1


def _reconstruct(frame: _Frame, qtables) -> np.ndarray:
    """The one dequantize -> IDCT -> upsample -> colour step, run once over
    the coefficient store after the last scan. Block by block: a per-block
    _idct (a batched matmul/einsum sums in a different FP order) and no
    whole-image float copy of the store."""
    hmax, vmax, _, _ = _mcu_grid(frame.samps, frame.w, frame.h)
    coef = np.empty(64)
    full = []
    for (hs, vs), tq, store in zip(frame.samps, frame.tqs, frame.coefs):
        q = qtables.get(tq)
        if q is None:
            raise ValueError(f"JPEG component uses undefined quantization "
                             f"table {tq}")
        by, bx = store.shape[:2]
        plane = np.empty((by * 8, bx * 8))
        for yb in range(by):
            for xb in range(bx):
                coef[ZIGZAG] = store[yb, xb]
                plane[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8] = _idct(
                    coef.reshape(8, 8) * q
                )
        plane += 128.0
        ry, rx = vmax // vs, hmax // hs
        if ry > 1 or rx > 1:
            plane = np.kron(plane, np.ones((ry, rx)))
        full.append(plane[: frame.h, : frame.w])
    return _color_convert(full)


def _color_convert(full: list[np.ndarray]) -> np.ndarray:
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
