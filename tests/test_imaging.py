"""Stdlib-only media codec tests (PNG/BMP/PNM/WAV)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pm25ml_spark.sources.imaging import (
    PNG_SIGNATURE,
    decode_bmp,
    decode_png,
    decode_pnm,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_wav,
    to_grayscale,
)


def _img(h, w, ch=None, seed=0):
    rng = np.random.RandomState(seed)
    shape = (h, w) if ch is None else (h, w, ch)
    return rng.randint(0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("ch", [None, 2, 3, 4])
def test_png_roundtrip(ch):
    img = _img(13, 17, ch)
    out = decode_png(encode_png(img))
    expect = img if ch is not None else img
    if ch is None:
        assert out.shape == (13, 17)
        assert np.array_equal(out, img)
    else:
        assert out.shape == (13, 17, ch)
        assert np.array_equal(out, img)


def test_png_all_filter_types_decode():
    """Hand-build a PNG whose five scanlines use filters 0-4 and check
    against an independently computed reconstruction."""
    w, ch = 4, 1
    rng = np.random.RandomState(1)
    recon = rng.randint(0, 256, size=(5, w), dtype=np.uint8).astype(int)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):
        raw.append(f)
        for x in range(w):
            cur = recon[y, x]
            left = recon[y, x - 1] if x else 0
            up = recon[y - 1, x] if y else 0
            ul = recon[y - 1, x - 1] if (x and y) else 0
            if f == 0:
                v = cur
            elif f == 1:
                v = cur - left
            elif f == 2:
                v = cur - up
            elif f == 3:
                v = cur - (left + up) // 2
            else:
                v = cur - paeth(left, up, ul)
            raw.append(v % 256)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    png = (
        PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, 5, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), recon.astype(np.uint8))


def test_png_rejects_bad_signature():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JUNK" * 10)


def test_bmp_roundtrip_odd_width():
    img = _img(5, 7, 3)  # odd width exercises the 4-byte row padding
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_pnm_decode():
    img = _img(4, 6)
    p5 = b"P5\n# comment\n6 4\n255\n" + img.tobytes()
    assert np.array_equal(decode_pnm(p5), img)
    rgb = _img(3, 2, 3)
    p6 = b"P6 2 3 255\n" + rgb.tobytes()
    assert np.array_equal(decode_pnm(p6), rgb)


def test_wav_roundtrip():
    rng = np.random.RandomState(2)
    samples = rng.randint(-30000, 30000, size=(100, 2)).astype(np.int16)
    data, rate = decode_wav(encode_wav(samples, 16000))
    assert rate == 16000
    assert np.array_equal(data, samples)


def test_grayscale_luma():
    img = np.zeros((1, 1, 3), dtype=np.uint8)
    img[0, 0] = [255, 0, 0]
    assert to_grayscale(img)[0, 0] == 76  # round(0.299*255)

