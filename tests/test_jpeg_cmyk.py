"""Adobe 4-component (CMYK / YCCK) JPEG decode (round 8).

Validation: the color math is pinned by hand on exact stored values
(Adobe inverted-ink convention: R = stored_C * stored_K / 255), and
the full bitstream path round-trips flat-color images (where the DCT
is near-exact) through the test-support Adobe encoder for both
transform 0 (CMYK) and transform 2 (YCCK).
"""

import numpy as np
import pytest

from ifeatureomega_cli_spark.operators.jpeg import (
    decode_jpeg, encode_jpeg_adobe)


def _flat(stored, h=16, w=24):
    img = np.zeros((h, w, 4), dtype=np.uint8)
    img[:, :] = stored
    return img


def test_cmyk_color_math_hand_fixture():
    """stored C=200, K=255 -> R=200 (no black); K=128 halves it
    (200*128/255 = 100.39 -> 100); K=0 -> black."""
    out = decode_jpeg(encode_jpeg_adobe(_flat([200, 150, 100, 255])))
    assert out.shape == (16, 24, 3)
    center = out[8, 12]
    assert abs(int(center[0]) - 200) <= 2
    assert abs(int(center[1]) - 150) <= 2
    assert abs(int(center[2]) - 100) <= 2

    out = decode_jpeg(encode_jpeg_adobe(_flat([200, 150, 100, 128])))
    center = out[8, 12]
    assert abs(int(center[0]) - 100) <= 2      # 200*128/255
    assert abs(int(center[1]) - 75) <= 2       # 150*128/255
    assert abs(int(center[2]) - 50) <= 2       # 100*128/255

    out = decode_jpeg(encode_jpeg_adobe(_flat([200, 150, 100, 0])))
    assert out[8, 12].max() <= 2               # full black ink


@pytest.mark.parametrize("ycck", [False, True])
def test_flat_panels_roundtrip(ycck):
    panels = [[255, 255, 255, 255],     # white
              [255, 0, 0, 255],         # pure cyan ink removed -> red?
              [60, 200, 240, 200],
              [0, 0, 0, 255]]           # max CMY ink -> black
    for stored in panels:
        out = decode_jpeg(encode_jpeg_adobe(_flat(stored), ycck=ycck))
        want = [round(stored[0] * stored[3] / 255),
                round(stored[1] * stored[3] / 255),
                round(stored[2] * stored[3] / 255)]
        got = out[8, 12].astype(int)
        assert all(abs(g - w_) <= 3 for g, w_ in zip(got, want)), \
            (stored, got.tolist(), want, ycck)


def test_quadrant_image_roundtrip():
    """Block-aligned quadrants: each 8x8 block is flat, so the whole
    image survives the DCT within rounding everywhere."""
    img = np.zeros((16, 16, 4), dtype=np.uint8)
    img[:8, :8] = [255, 128, 0, 255]
    img[:8, 8:] = [0, 255, 128, 200]
    img[8:, :8] = [128, 0, 255, 150]
    img[8:, 8:] = [255, 255, 255, 0]
    out = decode_jpeg(encode_jpeg_adobe(img))
    for (ys, xs), stored in (((2, 2), img[0, 0]), ((2, 12), img[0, 15]),
                             ((12, 2), img[15, 0]), ((12, 12), img[15, 15])):
        want = [round(int(stored[c]) * int(stored[3]) / 255)
                for c in range(3)]
        got = out[ys, xs].astype(int)
        assert all(abs(g - w_) <= 3 for g, w_ in zip(got, want))


def test_no_adobe_marker_defaults_to_cmyk():
    payload = bytearray(encode_jpeg_adobe(_flat([200, 150, 100, 255])))
    i = payload.index(b"\xff\xee")
    ln = int.from_bytes(payload[i + 2: i + 4], "big")
    del payload[i: i + 2 + ln]             # strip APP14 entirely
    out = decode_jpeg(bytes(payload))
    assert abs(int(out[8, 12, 0]) - 200) <= 2


def test_four_component_progressive_decodes():
    """4-component PROGRESSIVE (SOF2 + APP14): the progressive driver
    is component-generic, so CMYK rides the same accumulation path and
    finishes through the Adobe color conversion."""
    from ifeatureomega_cli_spark.operators.jpeg import (
        encode_jpeg_progressive)

    img = _flat([200, 150, 100, 128])
    out = decode_jpeg(encode_jpeg_progressive(img, cmyk=True))
    assert out.shape == (16, 24, 3)
    center = out[8, 12].astype(int)
    assert abs(center[0] - 100) <= 3       # 200*128/255
    assert abs(center[1] - 75) <= 3
    assert abs(center[2] - 50) <= 3
