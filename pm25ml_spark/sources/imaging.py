"""Stdlib-only PNG/BMP/PNM/WAV codecs.

Real byte-level decoders for the formats that need no native library:

* PNG — stdlib ``zlib`` inflate + scanline unfiltering (filters 0-4 per
  the public PNG spec); bit depth 8, color types gray / gray+alpha /
  RGB / RGBA, non-interlaced. A minimal encoder (filter 0) exists so
  tests and fixtures can fabricate real PNG bytes.
* BMP — 24-bit uncompressed BI_RGB (bottom-up rows, 4-byte padding).
* PGM/PPM — binary P5/P6.
* WAV — stdlib ``wave``, 16-bit PCM → (n_samples, n_channels) int16.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w) or (h, w, channels) uint8 array."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    channels = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if interlace:
                raise ValueError("interlaced PNG not supported")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None or channels is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub — per-channel cumulative sum mod 256
            recon = line.reshape(width, channels)
            recon = np.cumsum(recon, axis=0).astype(np.int64) % 256
            recon = recon.reshape(stride).astype(np.int32)
        elif ftype == 2:  # Up
            recon = (line + prev) % 256
        elif ftype == 3:  # Average
            recon = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = recon[x - channels] if x >= channels else 0
                recon[x] = (line[x] + (left + prev[x]) // 2) % 256
        elif ftype == 4:  # Paeth
            recon = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = recon[x - channels] if x >= channels else 0
                ul = prev[x - channels] if x >= channels else 0
                recon[x] = (line[x] + _paeth(left, int(prev[x]), ul)) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    img = out.reshape(height, width, channels)
    return img[:, :, 0] if channels == 1 else img


def encode_png(img: np.ndarray) -> bytes:
    """(h, w[, channels]) uint8 -> PNG bytes (filter 0, one IDAT)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", crc
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BI_RGB BMP -> (h, w, 3) uint8 (RGB order)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack("<ii", payload[18:26])
    bpp, comp = struct.unpack("<HI", payload[28:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: {bpp}bpp compression {comp}")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = []
    for y in range(h):
        off = data_off + y * stride
        row = np.frombuffer(payload, np.uint8, count=w * 3, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR -> RGB
    img = np.stack(rows)
    return img[::-1] if flip else img


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit BMP bytes."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + bytes(body)


def decode_pnm(payload: bytes) -> np.ndarray:
    """Binary PGM (P5) -> (h, w); PPM (P6) -> (h, w, 3)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    ch = 1 if payload[:2] == b"P5" else 3
    arr = np.frombuffer(payload, np.uint8, count=w * h * ch, offset=pos)
    return arr.reshape((h, w) if ch == 1 else (h, w, 3))


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """16-bit PCM WAV -> ((n_samples, n_channels) int16, sample_rate)."""
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV supported")
        n = wf.getnframes()
        data = np.frombuffer(wf.readframes(n), dtype="<i2")
        return data.reshape(n, wf.getnchannels()), wf.getframerate()


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_samples[, n_channels]) int16 -> 16-bit PCM WAV bytes."""
    import wave

    samples = np.asarray(samples, dtype="<i2")
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """(h, w[, channels]) -> (h, w) uint8 luma (ITU-R 601 weights;
    alpha ignored)."""
    if img.ndim == 2:
        return img
    rgb = img[:, :, :3].astype(np.float64)
    if rgb.shape[2] == 1:
        return img[:, :, 0]
    if rgb.shape[2] == 2:  # gray + alpha
        return img[:, :, 0]
    luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    return np.clip(np.round(luma), 0, 255).astype(np.uint8)
