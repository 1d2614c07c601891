"""Pure-numpy JPEG (JFIF) codec — no libjpeg.

The decoder handles the Huffman-coded DCT frames of ITU T.81: baseline
and extended sequential (SOF0/SOF1) and progressive (SOF2: spectral
selection and successive approximation, with DC and AC first and
refinement scans and shared EOB runs, per Annex G.2).  Samples are
8-bit (decoded to uint8) or 12-bit (decoded to uint16).  Frames are
grayscale, YCbCr at 4:4:4 / 4:2:2 / 4:2:0, or Adobe 4-component
CMYK/YCCK (APP14 transform, inverted-ink multiply to RGB), with or
without restart intervals.  Lossless (SOF3), differential (SOF5-7,
SOF13-15), arithmetic (SOF9-11) and hierarchical (DHP) streams raise
ValueError.

The progressive decoder is checked against real progressive JPEGs
(nodejs docs, Spark's mllib grayscale sample, the rust embedded-book
photo) and against an exact cross-codec oracle:
`encode_jpeg_progressive` emits the same quantized coefficients as
`encode_jpeg`, so both decodes must be bit-identical.  Nothing else in
the package calls the codec.

Design notes:

* the DECODER takes Huffman and quantization tables from the stream's
  own DHT/DQT segments, so decoding external JPEGs does not depend on
  any table transcribed here;
* the ENCODERS exist to test the decoder; they use the JPEG standard's
  Annex K example tables and write them into the stream, so a
  round-trip exercises the full bitstream path end-to-end;
* zigzag order is GENERATED (diagonal walk), not transcribed;
* the 2-D DCT/IDCT are exact orthonormal matrix products (numpy float64)
  — bit-identical reconstruction is impossible for a lossy codec, so the
  round-trip tests bound the error by the quantization step instead.
"""

from __future__ import annotations

import numpy as np

# ------------------------------------------------------------------ DCT

def _dct_matrix() -> np.ndarray:
    x = np.arange(8)
    M = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    M[0] /= np.sqrt(2)
    return M / 2  # orthonormal: M @ M.T = I


_DCT = _dct_matrix()


def _zigzag_order() -> np.ndarray:
    """(row, col) visit order of the canonical JPEG zigzag, generated."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left → top-right
        order.extend(diag)
    idx = np.array([r * 8 + c for r, c in order])
    assert len(set(idx.tolist())) == 64
    return idx


_ZIGZAG = _zigzag_order()
_UNZIGZAG = np.argsort(_ZIGZAG)

# JPEG Annex K example tables (public standard constants) — used by the
# ENCODER only; the decoder always reads tables from the stream.
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)
_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# Flat tables for 12-bit sample precision — Annex K's example tables
# only cover the 8-bit symbol range (DC categories ≤ 11, AC size ≤ 10).
# Canonical and Kraft-valid: DC categories 0..15 at 5 bits (16·2⁻⁵ = ½);
# AC EOB/ZRL + every (run, size ≤ 14) at 9 bits (226·2⁻⁹ < ½).
_DC_EXT = ([0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
           list(range(16)))
_AC_EXT_VALS = [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                               for s in range(1, 15)]
_AC_EXT = ([0, 0, 0, 0, 0, 0, 0, 0, len(_AC_EXT_VALS),
            0, 0, 0, 0, 0, 0, 0], _AC_EXT_VALS)


def _build_huffman(bits: list[int], vals: list[int]):
    """(code, length) per value — canonical JPEG Huffman assignment."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decoder(bits: list[int], vals: list[int]):
    """(code, length) → value lookup dict for decoding."""
    enc = _build_huffman(bits, vals)
    return {(c, l): v for v, (c, l) in enc.items()}


# ------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill padding


def _segment(marker: int, body: bytes) -> bytes:
    """Marker segment: FF marker, big-endian length (incl. itself), body."""
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended bits for a signed value."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(w: _BitWriter, block: np.ndarray, q: np.ndarray,
                  dc_codes, ac_codes, pred: int, center: int) -> int:
    coef = _DCT @ (block - float(center)) @ _DCT.T
    quant = np.round(coef / q).astype(np.int64)
    zz = quant.ravel()[_ZIGZAG]
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    c, l = dc_codes[size]
    w.write(c, l)
    if size:
        w.write(bits, size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, l = ac_codes[0xF0]  # ZRL
            w.write(c, l)
            run -= 16
        size, bits = _magnitude(v)
        c, l = ac_codes[(run << 4) | size]
        w.write(c, l)
        w.write(bits, size)
        run = 0
    if run:
        c, l = ac_codes[0x00]  # EOB
        w.write(c, l)
    return dc


def encode_jpeg(rgb: np.ndarray, subsample: bool = False,
                restart_interval: int = 0, bits: int = 8) -> bytes:
    """Sequential JFIF encoder with Annex-K tables, used by the tests.
    `rgb`: (H, W, 3) or (H, W) uint8 — or, with bits=12, uint16
    samples in 0..4095 (extended sequential, SOF1, flat Kraft-valid
    Huffman tables since Annex K's stop at the 8-bit symbol range).
    subsample=True writes 4:2:0 (2×2 Y blocks per MCU, box-averaged
    chroma); restart_interval>0 emits DRI + RSTn markers — all exist so
    the decoder's paths are hermetically testable."""
    if bits not in (8, 12):
        raise ValueError(f"unsupported sample precision {bits}")
    center = 1 << (bits - 1)
    gray = rgb.ndim == 2
    h, w = rgb.shape[:2]
    if gray:
        comps = [rgb.astype(np.float64)]
        subsample = False
    else:
        f = rgb.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        comps = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + center,
            0.5 * r - 0.418688 * g - 0.081312 * b + center,
        ]
    ncomp = len(comps)
    ys = 2 if subsample else 1  # luma sampling factor
    mcu = 8 * ys
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    comps = [np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge")
             for c in comps]
    if subsample:
        for ci in (1, 2):
            c = comps[ci]
            comps[ci] = c.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    samp = [(ys, ys)] + [(1, 1)] * (ncomp - 1)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    qtabs = [_QUANT_LUMA] + ([] if gray else [_QUANT_CHROMA])
    for tid, q in enumerate(qtabs):
        out += _segment(0xDB, bytes([tid]) + bytes(
            int(x) for x in q.ravel()[_ZIGZAG]))
    sof = bytes([bits]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([ncomp])
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += _segment(0xC0 if bits == 8 else 0xC1, sof)
    if bits == 8:
        dc_luma, ac_luma, dc_chroma, ac_chroma = (
            _DC_LUMA, _AC_LUMA, _DC_CHROMA, _AC_CHROMA)
    else:
        dc_luma = dc_chroma = _DC_EXT
        ac_luma = ac_chroma = _AC_EXT
    huffs = [(0x00, dc_luma), (0x10, ac_luma)]
    if not gray:
        huffs += [(0x01, dc_chroma), (0x11, ac_chroma)]
    for tclass, (tbits, tvals) in huffs:
        out += _segment(0xC4, bytes([tclass]) + bytes(tbits) + bytes(tvals))
    if restart_interval:
        out += _segment(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _segment(0xDA, sos)

    dc_l = _build_huffman(*dc_luma)
    ac_l = _build_huffman(*ac_luma)
    dc_c = _build_huffman(*dc_chroma)
    ac_c = _build_huffman(*ac_chroma)
    wtr = _BitWriter()
    preds = [0] * ncomp
    mcu_count = 0
    rst = 0
    for my in range(ph // mcu):
        for mx in range(pw // mcu):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * ncomp
            for ci in range(ncomp):
                hs, vs = samp[ci]
                q = _QUANT_LUMA if ci == 0 else _QUANT_CHROMA
                dc_codes = dc_l if ci == 0 else dc_c
                ac_codes = ac_l if ci == 0 else ac_c
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        block = comps[ci][y0: y0 + 8, x0: x0 + 8]
                        preds[ci] = _encode_block(
                            wtr, block, q, dc_codes, ac_codes, preds[ci],
                            center)
            mcu_count += 1
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_adobe(cmyk: np.ndarray, ycck: bool = False) -> bytes:
    """Adobe 4-component sequential encoder — test support for the
    CMYK/YCCK decode path.  `cmyk`: (H, W, 4) uint8 STORED values
    (Adobe inverted-ink convention, i.e. stored = 255 - ink).
    ycck=True forward-converts the first three channels to YCbCr
    before coding (APP14 transform 2); otherwise they are coded as-is
    (transform 0).  1x1 sampling, Annex-K luma tables for every
    component."""
    if cmyk.ndim != 3 or cmyk.shape[2] != 4:
        raise ValueError("expected (H, W, 4) stored-CMYK samples")
    h, w = cmyk.shape[:2]
    f = cmyk.astype(np.float64)
    if ycck:
        c, m, ye = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        comps = [
            0.299 * c + 0.587 * m + 0.114 * ye,
            -0.168736 * c - 0.331264 * m + 0.5 * ye + 128,
            0.5 * c - 0.418688 * m - 0.081312 * ye + 128,
            f[:, :, 3],
        ]
    else:
        comps = [f[:, :, ci] for ci in range(4)]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    comps = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
             for p in comps]

    out = bytearray(b"\xff\xd8")
    out += _segment(0xEE, b"Adobe\x00\x64\x00\x00\x00\x00"
                    + bytes([2 if ycck else 0]))
    out += _segment(0xDB, bytes([0]) + bytes(
        int(x) for x in _QUANT_LUMA.ravel()[_ZIGZAG]))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([4])
    for ci in range(4):
        sof += bytes([ci + 1, 0x11, 0])
    out += _segment(0xC0, sof)
    for tclass, (tbits, tvals) in ((0x00, _DC_LUMA), (0x10, _AC_LUMA)):
        out += _segment(0xC4, bytes([tclass]) + bytes(tbits) + bytes(tvals))
    sos = bytes([4])
    for ci in range(4):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _segment(0xDA, sos)
    dc = _build_huffman(*_DC_LUMA)
    ac = _build_huffman(*_AC_LUMA)
    wtr = _BitWriter()
    preds = [0] * 4
    for my in range(ph // 8):
        for mx in range(pw // 8):
            for ci in range(4):
                block = comps[ci][my * 8: my * 8 + 8,
                                  mx * 8: mx * 8 + 8]
                preds[ci] = _encode_block(wtr, block, _QUANT_LUMA, dc,
                                          ac, preds[ci], 128)
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(rgb: np.ndarray, cmyk: bool = False) -> bytes:
    """Progressive (SOF2) JFIF encoder — test support for the
    progressive decoder: writes the SAME quantized coefficients as
    `encode_jpeg` (4:4:4 / grayscale), spread over a spectral-selection
    + successive-approximation scan script (DC Al=1 first + DC refine;
    AC bands 1-5 / 6-63 at Al=1 first + full-band refines to Al=0), so
    ``decode_jpeg(encode_jpeg_progressive(x)) ==
    decode_jpeg(encode_jpeg(x))`` EXACTLY — a cross-codec differential
    oracle.  Emits per-block EOB0 only (the Annex K tables carry no
    EOBn>0 symbols); the decoder's longer-EOB-run paths are covered by
    the real-file corpus in tests.

    cmyk=True (round 8): `rgb` is (H, W, 4) STORED Adobe CMYK — the
    four channels are coded as-is with an APP14 transform-0 marker
    (4-component progressive)."""
    gray = rgb.ndim == 2
    h, w = rgb.shape[:2]
    if cmyk:
        if rgb.ndim != 3 or rgb.shape[2] != 4:
            raise ValueError("cmyk=True expects (H, W, 4) stored values")
        f = rgb.astype(np.float64)
        comps = [f[:, :, ci] for ci in range(4)]
    elif gray:
        comps = [rgb.astype(np.float64)]
    else:
        f = rgb.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        comps = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    ncomp = len(comps)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    comps = [np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge")
             for c in comps]
    bh, bw = ph // 8, pw // 8
    zzs = []
    for ci in range(ncomp):
        q = _QUANT_LUMA if ci == 0 else _QUANT_CHROMA
        plane = comps[ci].reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ij,xyjk,kl->xyil", _DCT, plane - 128.0, _DCT.T)
        quant = np.round(coef / q).astype(np.int64)
        zzs.append(quant.reshape(bh, bw, 64)[:, :, _ZIGZAG])
    out = bytearray(b"\xff\xd8")
    if cmyk:
        out += _segment(0xEE, b"Adobe\x00\x64\x00\x00\x00\x00\x00")
    else:
        out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    qtabs = [_QUANT_LUMA] + ([] if gray else [_QUANT_CHROMA])
    for tid, qt in enumerate(qtabs):
        out += _segment(0xDB, bytes([tid]) + bytes(
            int(x) for x in qt.ravel()[_ZIGZAG]))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += _segment(0xC2, sof)
    huffs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if not gray:
        huffs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tclass, (bits, vals) in huffs:
        out += _segment(0xC4, bytes([tclass]) + bytes(bits) + bytes(vals))

    dc_codes = [_build_huffman(*_DC_LUMA), _build_huffman(*_DC_CHROMA)]
    ac_codes = [_build_huffman(*_AC_LUMA), _build_huffman(*_AC_CHROMA)]

    def sos_header(cids, ss, se, ah, al):
        body = bytes([len(cids)])
        for cid in cids:
            t = 0 if cid == 1 else 1
            body += bytes([cid, (t << 4) | t])
        body += bytes([ss, se, (ah << 4) | al])
        return _segment(0xDA, body)

    def scan_bytes(emit):
        wtr = _BitWriter()
        emit(wtr)
        wtr.flush()
        return bytes(wtr.out)

    # ---- scan 1: DC first, Al=1, all components interleaved (block ==
    # MCU at 4:4:4); grayscale degenerates to a single-component scan
    def dc_first_scan(wtr):
        preds = [0] * ncomp
        for by in range(bh):
            for bx in range(bw):
                for ci in range(ncomp):
                    dc = int(zzs[ci][by, bx, 0]) >> 1   # arithmetic
                    size, bits = _magnitude(dc - preds[ci])
                    c, ln = dc_codes[0 if ci == 0 else 1][size]
                    wtr.write(c, ln)
                    if size:
                        wtr.write(bits, size)
                    preds[ci] = dc

    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    out += scan_bytes(dc_first_scan)

    # ---- AC first scans at Al=1 (per component, two bands for Y)
    def ac_first_scan(ci, ss, se):
        def emit(wtr):
            codes = ac_codes[0 if ci == 0 else 1]
            for by in range(bh):
                for bx in range(bw):
                    zz = zzs[ci][by, bx]
                    run = 0
                    for k in range(ss, se + 1):
                        v = int(zz[k])
                        v = (abs(v) >> 1) * (1 if v >= 0 else -1)
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            c, ln = codes[0xF0]
                            wtr.write(c, ln)
                            run -= 16
                        size, bits = _magnitude(v)
                        c, ln = codes[(run << 4) | size]
                        wtr.write(c, ln)
                        wtr.write(bits, size)
                        run = 0
                    if run:
                        c, ln = codes[0x00]
                        wtr.write(c, ln)
        return emit

    bands = [(0, 1, 5), (0, 6, 63)] + [(ci, 1, 63)
                                       for ci in range(1, ncomp)]
    for ci, ss, se in bands:
        out += sos_header([ci + 1], ss, se, 0, 1)
        out += scan_bytes(ac_first_scan(ci, ss, se))

    # ---- AC refinement scans Ah=1 → Al=0 (libjpeg buffered-bit scheme)
    def ac_refine_scan(ci):
        def emit(wtr):
            codes = ac_codes[0 if ci == 0 else 1]
            for by in range(bh):
                for bx in range(bw):
                    zz = zzs[ci][by, bx]
                    run = 0
                    buffered: list[int] = []
                    for k in range(1, 64):
                        v = int(zz[k])
                        a = abs(v)
                        if a == 0:
                            run += 1
                            continue
                        if a > 1:
                            # history-nonzero: correction bit, run
                            # unaffected
                            buffered.append(a & 1)
                            continue
                        # newly nonzero at this precision
                        while run > 15:
                            c, ln = codes[0xF0]
                            wtr.write(c, ln)
                            run -= 16
                            for bit in buffered:
                                wtr.write(bit, 1)
                            buffered = []
                        c, ln = codes[(run << 4) | 1]
                        wtr.write(c, ln)
                        wtr.write(1 if v >= 0 else 0, 1)
                        for bit in buffered:
                            wtr.write(bit, 1)
                        buffered = []
                        run = 0
                    if run or buffered:
                        c, ln = codes[0x00]        # EOB0
                        wtr.write(c, ln)
                        for bit in buffered:
                            wtr.write(bit, 1)
        return emit

    for ci in range(ncomp):
        out += sos_header([ci + 1], 1, 63, 1, 0)
        out += scan_bytes(ac_refine_scan(ci))

    # ---- DC refinement, Ah=1 → Al=0
    def dc_refine_scan(wtr):
        for by in range(bh):
            for bx in range(bw):
                for ci in range(ncomp):
                    wtr.write(int(zzs[ci][by, bx, 0]) & 1, 1)

    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    out += scan_bytes(dc_refine_scan)
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------- decoder

class _BitReader:
    """Entropy-coded segment reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        while self.nbits < 25:
            if self.pos >= len(d):
                self.acc = (self.acc << 8) | 0xFF  # pad past EOI
                self.nbits += 8
                continue
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    return  # restart marker — caller consumes it
                else:
                    return  # real marker (EOI/next segment)
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                raise ValueError("truncated entropy-coded segment")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self):
        """Skip to just after the next RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_huff(r: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        if (code, length) in table:
            return table[(code, length)]
    raise ValueError("invalid Huffman code")


def _read_dqt(body: bytes, qtabs: dict) -> None:
    """DQT segment (possibly several tables) → qtabs[id] in natural order."""
    while body:
        prec, tid = body[0] >> 4, body[0] & 0xF
        n = 64 * (2 if prec else 1)
        raw = np.frombuffer(body[1: 1 + n],
                            dtype=">u2" if prec else np.uint8)
        q = np.zeros(64, dtype=np.int32)
        q[_ZIGZAG] = raw
        qtabs[tid] = q.reshape(8, 8)
        body = body[1 + n:]


def _read_dht(body: bytes, htabs: dict) -> None:
    """DHT segment (possibly several tables) → htabs[(class, id)]."""
    while body:
        tclass, tid = body[0] >> 4, body[0] & 0xF
        bits = list(body[1:17])
        nval = sum(bits)
        vals = list(body[17: 17 + nval])
        htabs[(tclass, tid)] = _build_decoder(bits, vals)
        body = body[17 + nval:]


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JFIF decoder → (H, W, C) uint8, or uint16 for 12-bit streams
    (C = 1 or 3, RGB).

    Reads DQT/DHT/APP14/SOF0/SOF1/SOF2/SOS/DRI from the stream and
    decodes 8- and 12-bit sequential and progressive Huffman frames with
    4:4:4, 4:2:2 or 4:2:0 sampling and restart intervals.  Adobe
    4-component CMYK/YCCK frames convert to RGB (see _adobe_to_rgb).
    Raises ValueError for every other frame type: lossless (SOF3),
    differential (SOF5-7, SOF13-15), arithmetic (SOF9-11) and
    hierarchical (DHP)."""
    d = payload
    if len(d) < 4 or d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    adobe_transform = None   # APP14: 0 CMYK, 1 YCbCr, 2 YCCK
    while pos + 4 <= len(d):
        if d[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = d[pos + 1]
        if marker == 0xD9:  # EOI without SOS
            break
        size = int.from_bytes(d[pos + 2: pos + 4], "big")
        body = d[pos + 4: pos + 2 + size]
        if pos + 2 + size > len(d):
            raise ValueError(f"truncated segment {marker:02x}")
        if marker == 0xDB:
            _read_dqt(body, qtabs)
        elif marker == 0xC4:
            _read_dht(body, htabs)
        elif marker == 0xEE and body[:5] == b"Adobe":  # APP14
            adobe_transform = body[11] if len(body) > 11 else 0
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2
            prec = body[0]
            if prec not in (8, 12):   # 12-bit: extended sequential (C1)
                raise ValueError(f"unsupported precision {prec}")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3, 4):   # 4: Adobe CMYK/YCCK
                raise ValueError(f"unsupported component count {nc}")
            comps = []
            for ci in range(nc):
                cid, samp, qid = body[6 + 3 * ci: 9 + 3 * ci]
                comps.append({"id": cid, "hs": samp >> 4, "vs": samp & 0xF,
                              "q": qid})
            frame = {"h": h, "w": w, "comps": comps, "prec": prec,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF, 0xDE):
            raise ValueError(f"unsupported SOF type {marker:02x}")
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if len(frame["comps"]) == 4:
                # 4 components with no Adobe marker: assume plain CMYK
                # (libjpeg's convention)
                frame["adobe"] = (adobe_transform
                                  if adobe_transform is not None else 0)
            if frame["progressive"]:
                # multi-scan driver owns the rest of the stream
                return _decode_progressive(d, pos, frame, qtabs, htabs,
                                           restart_interval)
            scan = {}
            for si in range(body[0]):
                cid, tsel = body[1 + 2 * si: 3 + 2 * si]
                scan[cid] = (tsel >> 4, tsel & 0xF)
            return _decode_scan(d, pos + 2 + size, frame, scan, qtabs,
                                htabs, restart_interval)
        pos += 2 + size
    raise ValueError("no SOS segment")


def _decode_scan(d, pos, frame, scan, qtabs, htabs, restart_interval):
    """Sequential-DCT MCU loop over one interleaved scan → image."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    center = 1 << (frame["prec"] - 1)   # level shift: 128 / 2048 (12-bit)
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["hs"], mcuy * 8 * c["vs"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))
    r = _BitReader(d, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                r.align_restart()
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_tab = htabs[(0, scan[c["id"]][0])]
                ac_tab = htabs[(1, scan[c["id"]][1])]
                q = qtabs[c["q"]].astype(np.float64)
                for by in range(c["vs"]):
                    for bx in range(c["hs"]):
                        zz = np.zeros(64, dtype=np.float64)
                        size = _decode_huff(r, dc_tab)
                        diff = _extend(r.receive(size), size) if size else 0
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(r, ac_tab)
                            run, size = rs >> 4, rs & 0xF
                            if rs == 0x00:   # EOB
                                break
                            if rs == 0xF0:   # ZRL
                                k += 16
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(r.receive(size), size)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[_ZIGZAG] = zz
                        coef = block.reshape(8, 8) * q
                        px = _DCT.T @ coef @ _DCT + center
                        y0 = (my * c["vs"] + by) * 8
                        x0 = (mx * c["hs"] + bx) * 8
                        planes[ci][y0: y0 + 8, x0: x0 + 8] = px
            mcu_count += 1
    return _planes_to_image(frame, planes)


def _planes_to_image(frame, planes) -> np.ndarray:
    """Upsample per-component planes to full resolution, crop, and
    convert YCbCr → RGB (shared by the sequential and progressive
    paths)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    prec = frame["prec"]
    center, maxval = 1 << (prec - 1), (1 << prec) - 1
    dtype = np.uint8 if prec == 8 else np.uint16
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["hs"] != hmax or c["vs"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["vs"], axis=0),
                          hmax // c["hs"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, maxval).astype(dtype)
        return out[:, :, None]
    if len(full) == 4:
        return _adobe_to_rgb(frame, full, center, maxval, dtype)
    y, cb, cr = full
    cb = cb - center
    cr = cr - center
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=2)
    return np.clip(np.round(rgb), 0, maxval).astype(dtype)


def _adobe_to_rgb(frame, full, center, maxval, dtype) -> np.ndarray:
    """Adobe 4-component finish (round 8).  Adobe streams store
    INVERTED ink (stored = maxval - ink), so the multiplicative
    CMYK→RGB model  R = maxval·(1 - C/maxval)·(1 - K/maxval)
    collapses to  R = stored_C · stored_K / maxval.  transform 2
    (YCCK) first converts the CMY triplet from YCbCr with the standard
    coefficients; transform 0 is plain (inverted) CMYK.  transform 1
    (YCbCr) is invalid for 4 components and rejected."""
    transform = frame["adobe"]
    if transform == 2:                               # YCCK
        y, cb, cr, k = full
        cb = cb - center
        cr = cr - center
        c = y + 1.402 * cr
        m = y - 0.344136 * cb - 0.714136 * cr
        ye = y + 1.772 * cb
    elif transform == 0:                             # CMYK
        c, m, ye, k = full
    else:
        raise ValueError(f"invalid Adobe transform {transform} for "
                         "4 components")
    c = np.clip(c, 0, maxval)
    m = np.clip(m, 0, maxval)
    ye = np.clip(ye, 0, maxval)
    k = np.clip(k, 0, maxval)
    rgb = np.stack([c * k, m * k, ye * k], axis=2) / maxval
    return np.clip(np.round(rgb), 0, maxval).astype(dtype)


# -------------------------------------------------- progressive decoder

def _decode_progressive(d, pos, frame, qtabs, htabs, restart_interval):
    """SOF2 progressive driver (round 7, ITU T.81 Annex G.2): owns the
    marker stream from the first SOS on, accumulates quantized
    coefficients per component across every scan (DC first/refine
    interleaved over MCUs, AC first/refine per-component over the
    component's own block raster, spectral selection Ss..Se +
    successive approximation Ah/Al with shared EOB runs), then
    dequantizes and inverse-transforms once."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        cw = -(-(w * c["hs"]) // hmax)       # component pixel dims
        ch = -(-(h * c["vs"]) // vmax)
        c["bw"] = -(-cw // 8)                # non-interleaved block dims
        c["bh"] = -(-ch // 8)
        c["bw_pad"] = mcux * c["hs"]
        c["bh_pad"] = mcuy * c["vs"]
    coefs = [np.zeros((c["bh_pad"], c["bw_pad"], 64), dtype=np.int32)
             for c in comps]
    while pos + 4 <= len(d):
        if d[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = d[pos + 1]
        if marker == 0xD9:  # EOI
            break
        size = int.from_bytes(d[pos + 2: pos + 4], "big")
        body = d[pos + 4: pos + 2 + size]
        if pos + 2 + size > len(d):
            raise ValueError(f"truncated segment {marker:02x}")
        if marker == 0xC4:
            _read_dht(body, htabs)
        elif marker == 0xDB:
            _read_dqt(body, qtabs)
        elif marker == 0xDD:
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:
            ns = body[0]
            scan = {}
            order = []
            for si in range(ns):
                cid, tsel = body[1 + 2 * si: 3 + 2 * si]
                scan[cid] = (tsel >> 4, tsel & 0xF)
                order.append(cid)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            pos = _progressive_scan(
                d, pos + 2 + size, frame, scan, order, htabs,
                restart_interval, coefs, ss, se, ah, al,
                mcux, mcuy)
            continue
        pos += 2 + size
    planes = []
    for ci, c in enumerate(comps):
        q = qtabs[c["q"]].astype(np.float64)
        arr = coefs[ci]
        bh, bw = arr.shape[:2]
        blocks = arr.reshape(-1, 64).astype(np.float64)
        nat = np.zeros_like(blocks)
        nat[:, _ZIGZAG] = blocks
        nat = nat.reshape(-1, 8, 8) * q[None]
        px = np.einsum("ij,njk,kl->nil", _DCT.T, nat, _DCT) \
            + (1 << (frame["prec"] - 1))
        planes.append(px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
                      .reshape(bh * 8, bw * 8))
    return _planes_to_image(frame, planes)


def _next_marker(d, p):
    """First non-stuffing, non-restart marker at or after p."""
    while p + 1 < len(d):
        if d[p] == 0xFF and d[p + 1] != 0x00 and \
                not (0xD0 <= d[p + 1] <= 0xD7):
            return p
        p += 1
    return len(d)


def _progressive_scan(d, pos, frame, scan, order, htabs, ri, coefs,
                      ss, se, ah, al, mcux, mcuy):
    """Decode one progressive scan into `coefs`; returns the position of
    the next marker."""
    comps = frame["comps"]
    by_id = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    sel = [by_id[cid] for cid in order]
    r = _BitReader(d, pos)
    state = {"eobrun": 0}

    def dc_first(block, pred, tab):
        size = _decode_huff(r, tab)
        diff = _extend(r.receive(size), size) if size else 0
        pred += diff
        block[0] = pred << al
        return pred

    def dc_refine(block):
        if r.read_bit():
            block[0] |= 1 << al

    p1 = 1 << al
    m1 = -1 << al

    def ac_first(block, tab):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = _decode_huff(r, tab)
            run, size = rs >> 4, rs & 0xF
            if size == 0:
                if run == 15:
                    k += 16
                    continue
                state["eobrun"] = (1 << run) - 1
                if run:
                    state["eobrun"] += r.receive(run)
                return
            k += run
            if k > se:
                raise ValueError("AC index overflow")
            block[k] = _extend(r.receive(size), size) << al
            k += 1

    def ac_refine(block, tab):
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = _decode_huff(r, tab)
                run, size = rs >> 4, rs & 0xF
                val = 0
                if size == 0:
                    if run < 15:
                        # EOB run INCLUDING this block: the tail below
                        # still owes the rest of this band its
                        # correction bits, then decrements
                        state["eobrun"] = 1 << run
                        if run:
                            state["eobrun"] += r.receive(run)
                        break
                    # run == 15, size == 0: sixteen zero-history skips
                else:
                    val = p1 if r.read_bit() else m1
                while k <= se:
                    if block[k] != 0:
                        if r.read_bit() and (block[k] & p1) == 0:
                            block[k] += p1 if block[k] >= 0 else m1
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if val and k <= se:
                    block[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if block[k] != 0:
                    if r.read_bit() and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] >= 0 else m1
                k += 1
            state["eobrun"] -= 1

    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    unit = 0
    if ss == 0 and len(sel) > 1:
        # interleaved DC scan over MCUs
        preds = {ci: 0 for ci, _ in sel}
        for my in range(mcuy):
            for mx in range(mcux):
                if ri and unit and unit % ri == 0:
                    r.align_restart()
                    preds = {ci: 0 for ci, _ in sel}
                    state["eobrun"] = 0
                for ci, c in sel:
                    tab = htabs.get((0, scan[c["id"]][0]))
                    for by in range(c["vs"]):
                        for bx in range(c["hs"]):
                            block = coefs[ci][my * c["vs"] + by,
                                              mx * c["hs"] + bx]
                            if ah == 0:
                                preds[ci] = dc_first(block, preds[ci], tab)
                            else:
                                dc_refine(block)
                unit += 1
    else:
        # single-component scan over the component's own block raster
        ci, c = sel[0]
        pred = 0
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                if ri and unit and unit % ri == 0:
                    r.align_restart()
                    pred = 0
                    state["eobrun"] = 0
                block = coefs[ci][by, bx]
                if ss == 0:
                    tab = htabs.get((0, scan[c["id"]][0]))
                    if ah == 0:
                        pred = dc_first(block, pred, tab)
                    else:
                        dc_refine(block)
                else:
                    tab = htabs.get((1, scan[c["id"]][1]))
                    if ah == 0:
                        ac_first(block, tab)
                    else:
                        ac_refine(block, tab)
                unit += 1
    return _next_marker(d, r.pos)
