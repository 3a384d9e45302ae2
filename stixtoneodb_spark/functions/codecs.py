"""Pure-numpy codecs for header-plus-raw-samples media formats (BMP /
PPM / WAV), a magic-byte sniff and a nearest-neighbour resize.

The container ships no image/audio codec libraries (PIL, cv2, librosa,
ffmpeg), and these formats need none: each carries raw samples behind a
fixed header.  No KG path calls this module; it is kept only until its
tests can be retired (ROADMAP item 8, step 2b).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- BMP ----


def decode_bmp(b: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP → (H, W, 3) uint8 RGB array.

    Handles the standard quirks: bottom-up row order (positive height),
    top-down (negative height), BGR channel order, 4-byte row padding.
    Raises ValueError on anything that is not plain BI_RGB 24-bit.
    """
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", b, 10)[0]
    width, height = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("degenerate BMP dimensions")
    stride = (width * 3 + 3) // 4 * 4
    need = pixel_off + stride * height
    if len(b) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * height, offset=pixel_off)
    rows = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR → RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → uncompressed bottom-up 24-bit BMP bytes."""
    h, w, c = arr.shape
    assert c == 3
    stride = (w * 3 + 3) // 4 * 4
    bgr = arr[..., ::-1]
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    pixels = rows[::-1].tobytes()  # bottom-up
    pixel_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", pixel_off + len(pixels), 0, 0, pixel_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


# ---------------------------------------------------------------- PPM ----


def decode_ppm(b: bytes) -> np.ndarray:
    """Decode a binary P6 PPM (maxval ≤ 255) → (H, W, 3) uint8 RGB."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace/comment-separated
    # tokens, then ONE whitespace byte, then raw RGB
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tokens.append(b[start:pos])
    pos += 1  # the single whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255 or w <= 0 or h <= 0:
        raise ValueError("unsupported PPM")
    need = w * h * 3
    if len(b) - pos < need:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(b, dtype=np.uint8, count=need, offset=pos).reshape(h, w, 3).copy()


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    assert c == 3
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


# ---------------------------------------------------------------- WAV ----


def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM-16 RIFF/WAVE payload → ((n, channels) int16, rate)."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16 or channels < 1:
        raise ValueError(f"unsupported WAV (fmt={audio_fmt}, bits={bits})")
    samples = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    n = len(samples) // channels
    return samples[: n * channels].reshape(n, channels).copy(), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    if samples.ndim == 1:
        samples = samples[:, None]
    n, channels = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# ------------------------------------------------------------- helpers ----


def sniff(b: bytes) -> str | None:
    """Cheap magic-byte format sniff; None for an unknown payload.  PNG
    and JPEG are recognised but have no decoder here."""
    if b[:2] == b"BM":
        return "bmp"
    if b[:2] == b"P6":
        return "ppm"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if b[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return None


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (H, W, 3) → (height, width, 3).

    Pure index-gather (two take()s), the standard pre-embedding resize;
    deterministic and allocation-bounded.
    """
    h, w = arr.shape[:2]
    rows = (np.arange(height) * h // height).clip(0, h - 1)
    cols = (np.arange(width) * w // width).clip(0, w - 1)
    return arr[rows][:, cols]
