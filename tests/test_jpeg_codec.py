"""Pure-numpy baseline JPEG codec (operators/jpeg.py, round-6 stretch).

A lossy codec cannot round-trip bit-exactly — the tests bound the
reconstruction error by the quantization step on smooth content, pin
the bitstream structure, and exercise the decoder paths (4:4:4, 4:2:0,
restart markers, grayscale, 12-bit, truncation) that real
libjpeg-produced files use, plus the refusal of every frame type
outside the codec.  External validity was established against
real-world JPEGs (standard-encoder files decode correctly, including a
477×720 4:2:0 photograph); those files live outside the repo, so the
hermetic tests drive the same decoder paths via the encoder's
subsample/restart options instead.
"""

from __future__ import annotations

import numpy as np
import pytest

from ifeatureomega_cli_spark.operators.jpeg import (
    _UNZIGZAG, _ZIGZAG, decode_jpeg, encode_jpeg, encode_jpeg_adobe)


def _smooth(h, w, seed=0):
    """Photographic-like content: gentle FIXED-slope gradients + mild
    noise (a size-normalized gradient would turn tiny images into
    max-frequency content, which no quantization bound survives)."""
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([40 + 2.0 * xx + 1.0 * yy, 90 + 1.5 * yy,
                    60 + 1.0 * xx + 0.5 * yy], axis=2)
    return np.clip(img % 256 + rng.normal(0, 4, img.shape), 0, 255).astype(
        np.uint8)


def test_zigzag_is_the_canonical_order():
    # generated, not transcribed — pin the first/last entries of the
    # canonical walk and the involution with its inverse
    assert _ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert _ZIGZAG[-3:].tolist() == [55, 62, 63]
    assert (_ZIGZAG[_UNZIGZAG] == np.arange(64)).all()


@pytest.mark.parametrize("kw", [
    {}, {"subsample": True}, {"restart_interval": 2},
    {"subsample": True, "restart_interval": 3},
])
def test_roundtrip_color(kw):
    img = _smooth(41, 53)  # non-multiple-of-16: MCU padding + crop
    enc = encode_jpeg(img, **kw)
    assert enc[:3] == b"\xff\xd8\xff" and enc[-2:] == b"\xff\xd9"
    dec = decode_jpeg(enc)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    # Annex-K Q50 tables on smooth content: well inside the worst
    # quantization step; 4:2:0 adds chroma box-filter loss
    assert err.mean() < 6 and err.max() < 40, kw


def test_roundtrip_gray_and_tiny():
    g = _smooth(24, 17)[:, :, 0]
    dec = decode_jpeg(encode_jpeg(g))
    assert dec.shape == (24, 17, 1)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).mean() < 6
    one = decode_jpeg(encode_jpeg(np.full((3, 5), 128, dtype=np.uint8)))
    assert one.shape == (3, 5, 1)
    assert np.abs(one.astype(int) - 128).max() <= 2


def test_flat_color_is_near_exact():
    # a constant block quantizes losslessly up to rounding
    img = np.full((16, 16, 3), 200, dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img))
    assert np.abs(dec.astype(int) - 200).max() <= 3


def test_rejects_malformed_and_truncated():
    img = _smooth(16, 16)
    good = encode_jpeg(img)
    # flipping SOF0 → SOF2 leaves a baseline full-band scan header
    # (Ss=0, Se=63), which is ILLEGAL in a progressive stream — the
    # progressive driver must reject it rather than misdecode
    sof_at = good.index(b"\xff\xc0")
    bad = good[:sof_at + 1] + b"\xc2" + good[sof_at + 2:]
    with pytest.raises(ValueError, match="progressive scan mixes"):
        decode_jpeg(bad)
    with pytest.raises(ValueError):
        decode_jpeg(good[:40])  # cut inside the header segments
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x00\x01\x02\x03")


def test_extended_frame_types_rejected():
    # lossless (SOF3), differential (SOF5-7, SOF13-15), arithmetic
    # (SOF9-11) and hierarchical (DHP) frames are outside the codec;
    # the 4-component stream checks that CMYK takes the same refusal
    streams = [encode_jpeg(_smooth(16, 16)),
               encode_jpeg_adobe(np.full((16, 16, 4), 200, np.uint8))]
    for good in streams:
        sof_at = good.index(b"\xff\xc0")
        for marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                       0xCD, 0xCE, 0xCF, 0xDE):
            bad = good[:sof_at + 1] + bytes([marker]) + good[sof_at + 2:]
            with pytest.raises(ValueError, match=f"SOF type {marker:02x}"):
                decode_jpeg(bad)


def test_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(h=st.integers(1, 40), w=st.integers(1, 40),
           sub=st.booleans(), seed=st.integers(0, 2**31 - 1))
    def prop(h, w, sub, seed):
        img = _smooth(h, w, seed)
        dec = decode_jpeg(encode_jpeg(img, subsample=sub))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).mean() < 8

    prop()


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


# ------------------------------------------------- progressive (round 7)

def test_progressive_differential_exact():
    """encode_jpeg_progressive writes the SAME quantized coefficients as
    the baseline encoder, so both decodes must agree bit-for-bit —
    covering DC first/refine, both AC spectral bands, newly-nonzero
    placement, buffered correction bits and per-block EOB."""
    from ifeatureomega_cli_spark.operators.jpeg import (
        encode_jpeg_progressive)

    for h, w in ((8, 8), (3, 5), (17, 9), (41, 67)):
        img = _smooth(h, w, seed=h * 100 + w)
        base = decode_jpeg(encode_jpeg(img))
        prog = decode_jpeg(encode_jpeg_progressive(img))
        assert np.array_equal(base, prog), (h, w)
        gray = img[:, :, 0]
        assert np.array_equal(decode_jpeg(encode_jpeg(gray)),
                              decode_jpeg(encode_jpeg_progressive(gray)))


_PROGRESSIVE_REAL = [
    # (path, expected shape, channels)
    ("/usr/share/doc/nodejs/thin-white-stripe.jpg", (58, 493, 3)),
    ("/usr/share/doc/nodejs/full-white-stripe.jpg", (312, 493, 3)),
    ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
     "multi-channel/grayscale.jpg", (215, 300, 1)),
]


@pytest.mark.parametrize("path,shape", _PROGRESSIVE_REAL)
def test_progressive_real_files(path, shape):
    """Real progressive JPEGs shipped in this container (libjpeg-encoded
    with full scan scripts incl. AC refinement and EOB runs) decode
    without desync.  Huffman streams are self-checking — surviving six
    refinement scans end-to-end is the correctness signal."""
    import os

    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    img = decode_jpeg(open(path, "rb").read())
    assert img.shape == shape
    # the nodejs images are white stripes on white — overwhelmingly
    # bright; the mllib grayscale photo is mid-gray on average
    if "stripe" in path:
        assert img.mean() > 220
    else:
        assert 80 < img.mean() < 200


def test_progressive_real_photo_4_2_0():
    """The rust embedded-book photo: 477×720 4:2:0 progressive with a
    long multi-scan script — the heaviest real vector available."""
    import os

    path = ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/"
            "share/doc/rust/html/embedded-book/assets/f3.jpg")
    if not os.path.exists(path):
        pytest.skip("rust docs not present")
    img = decode_jpeg(open(path, "rb").read())
    assert img.shape == (477, 720, 3)
    # a real photo: all three channels carry structure
    assert all(img[:, :, c].std() > 20 for c in range(3))
