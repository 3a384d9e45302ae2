"""Pure-numpy codec round-trips (no Spark): BMP, PPM and WAV decode and
encode, the magic-byte sniff and the nearest-neighbour resize."""

from __future__ import annotations

import numpy as np
import pytest

from stixtoneodb_spark.functions import codecs


def _img(h, w, seed=0):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("h,w", [(1, 1), (7, 5), (16, 16), (13, 31)])
def test_bmp_roundtrip_exact(h, w):
    # odd widths exercise the 4-byte row padding
    arr = _img(h, w, seed=h * 100 + w)
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(arr)), arr)


def test_bmp_top_down_variant():
    arr = _img(6, 4, seed=3)
    b = bytearray(codecs.encode_bmp(arr))
    # flip to top-down: negate height, reverse the stored row order
    import struct
    h = struct.unpack_from("<i", b, 22)[0]
    struct.pack_into("<i", b, 22, -h)
    stride = (4 * 3 + 3) // 4 * 4
    off = struct.unpack_from("<I", b, 10)[0]
    rows = [bytes(b[off + i * stride : off + (i + 1) * stride]) for i in range(h)]
    b[off:] = b"".join(reversed(rows))
    assert np.array_equal(codecs.decode_bmp(bytes(b)), arr)


def test_bmp_rejects_garbage_and_truncation():
    with pytest.raises(ValueError):
        codecs.decode_bmp(b"notbmp" * 20)
    good = codecs.encode_bmp(_img(8, 8))
    with pytest.raises(ValueError):
        codecs.decode_bmp(good[: len(good) // 2])


def test_ppm_roundtrip_and_comments():
    arr = _img(9, 11, seed=7)
    assert np.array_equal(codecs.decode_ppm(codecs.encode_ppm(arr)), arr)
    # header comments are legal PPM
    raw = codecs.encode_ppm(arr)
    commented = b"P6\n# a comment\n11 9\n# another\n255\n" + raw.split(b"255\n", 1)[1]
    assert np.array_equal(codecs.decode_ppm(commented), arr)


@pytest.mark.parametrize("channels", [1, 2])
def test_wav_roundtrip_exact(channels):
    rng = np.random.RandomState(channels)
    samples = rng.randint(-32768, 32767, size=(480, channels)).astype(np.int16)
    out, rate = codecs.decode_wav(codecs.encode_wav(samples, 8000))
    assert rate == 8000
    assert np.array_equal(out, samples)


def test_sniff():
    assert codecs.sniff(codecs.encode_bmp(_img(2, 2))) == "bmp"
    assert codecs.sniff(codecs.encode_ppm(_img(2, 2))) == "ppm"
    assert codecs.sniff(codecs.encode_wav(np.zeros(4, dtype=np.int16), 8000)) == "wav"
    assert codecs.sniff(b"\xff\xd8\xff jpeg-ish") == "jpeg"  # recognised, not decoded


def test_resize_nearest_semantics():
    # solid color survives any resize
    solid = np.full((10, 10, 3), 42, dtype=np.uint8)
    assert (codecs.resize_nearest(solid, 224, 224) == 42).all()
    # exact index-gather expectation on a gradient
    arr = _img(8, 6, seed=1)
    out = codecs.resize_nearest(arr, 3, 4)
    rows = (np.arange(4) * 8 // 4).clip(0, 7)
    cols = (np.arange(3) * 6 // 3).clip(0, 5)
    assert np.array_equal(out, arr[rows][:, cols])
