"""Dependency-free image container codecs: 24-bit BMP and 8-bit PNG.

BMP is raw little-endian structs + BGR rows; PNG is stdlib ``zlib`` + the
five scanline filters, so neither needs a codec library. Nothing in the
validation engine calls this module: the engine checks audio clips, and
the image/video operators that used it were removed as out of scope. It
stays as a standalone codec with its own tests.

Scope: BMP = BITMAPINFOHEADER, 24 bpp, BI_RGB, bottom-up or top-down.
PNG = 8-bit depth, color types 0/2/4/6, non-interlaced. Anything else
raises ``UnsupportedImageError``.

Encoders exist so tests can synthesize real containers round-trip.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type → channel count
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class UnsupportedImageError(ValueError):
    """Payload is not a container/profile this codec handles."""


# ------------------------------------------------------------------- BMP --
def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_bmp expects (h, w, 3) uint8")
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    pix = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + dib + pix


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP → (h, w, 3) uint8 RGB."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise UnsupportedImageError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if dib_size < 40 or bpp != 24 or comp != 0:
        raise UnsupportedImageError(
            f"unsupported BMP profile (dib={dib_size}, bpp={bpp}, comp={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    need = offset + stride * h
    if w <= 0 or h == 0 or len(payload) < need:
        raise UnsupportedImageError("degenerate size or truncated BMP pixel array")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR→RGB
    return (img[::-1] if bottom_up else img).copy()


# ------------------------------------------------------------------- PNG --
def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w) or (h, w, c) uint8 → 8-bit non-interlaced PNG. ``filter_type``
    applies one scanline filter (0–4) to every row — exercising all five
    decode paths from tests without an external encoder."""
    if img.dtype != np.uint8:
        raise ValueError("encode_png expects uint8")
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if color_type is None:
        raise ValueError(f"unsupported channel count {c}")
    raw = img.reshape(h, w * c).astype(np.int16)
    prev = np.zeros(w * c, dtype=np.int16)
    lines = []
    for y in range(h):
        cur = raw[y]
        left = np.zeros(w * c, dtype=np.int16)
        left[c:] = cur[:-c]
        ul = np.zeros(w * c, dtype=np.int16)
        ul[c:] = prev[:-c]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (left + prev) // 2
        elif filter_type == 4:
            filt = cur - _paeth(left, prev, ul)
        else:
            raise ValueError(f"bad filter {filter_type}")
        lines.append(bytes([filter_type]) + (filt % 256).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, ul: np.ndarray) -> np.ndarray:
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    return np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))


def png_header(payload: bytes) -> tuple[int, int, int]:
    """Parse just IHDR → (width, height, channels); validates the profile."""
    if len(payload) < 33 or payload[:8] != PNG_SIG or payload[12:16] != b"IHDR":
        raise UnsupportedImageError("not a PNG payload")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack_from(">IIBBBBB", payload, 16)
    c = _PNG_CHANNELS.get(ctype)
    if depth != 8 or c is None or comp != 0 or filt != 0 or interlace != 0:
        raise UnsupportedImageError(
            f"unsupported PNG profile (depth={depth}, color={ctype}, interlace={interlace})"
        )
    if w == 0 or h == 0:
        raise UnsupportedImageError("degenerate PNG dimensions")
    return w, h, c


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG → (h, w, c) uint8. All five scanline filters
    supported; Sub is a per-channel cumulative sum (mod-256 addition is
    associative), Up a vector add, Average/Paeth walk pixels left→right with
    the channel dimension vectorized."""
    w, h, c = png_header(payload)
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    try:
        raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    except zlib.error as e:  # corrupt or absent IDAT must stay a clean
        raise UnsupportedImageError(f"PNG IDAT inflate failed: {e}") from e
    rowlen = w * c + 1
    if len(raw) != rowlen * h:
        raise UnsupportedImageError("PNG scanline payload size mismatch")
    raw = raw.reshape(h, rowlen)
    out = np.zeros((h, w * c), dtype=np.uint8)
    prev = np.zeros(w * c, dtype=np.uint8)
    for y in range(h):
        ftype, line = int(raw[y, 0]), raw[y, 1:]
        if ftype == 0:
            rec = line.copy()
        elif ftype == 1:  # Sub: prefix sum per channel stride
            rec = (
                np.cumsum(line.reshape(w, c).astype(np.uint64), axis=0) % 256
            ).astype(np.uint8).reshape(w * c)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype in (3, 4):  # Average / Paeth: left-dependency walk
            rec = np.zeros(w * c, dtype=np.uint8)
            lineM = line.reshape(w, c).astype(np.int16)
            prevM = prev.reshape(w, c).astype(np.int16)
            recM = rec.reshape(w, c)
            left = np.zeros(c, dtype=np.int16)
            ul = np.zeros(c, dtype=np.int16)
            for x in range(w):
                up = prevM[x]
                pred = (
                    (left + up) // 2
                    if ftype == 3
                    else _paeth(left, up, ul)
                )
                recM[x] = ((lineM[x] + pred) % 256).astype(np.uint8)
                left, ul = recM[x].astype(np.int16), up
        else:
            raise UnsupportedImageError(f"bad PNG filter byte {ftype}")
        out[y] = rec
        prev = rec
    return out.reshape(h, w, c)


# -------------------------------------------------------------- dispatch --
def image_header(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from a real container header — BMP or PNG.
    Validates the same profile decode would accept, so metadata and pixel
    decode never disagree about the same payload."""
    if payload is None or len(payload) < 2:
        raise UnsupportedImageError("empty payload")
    if payload[:2] == b"BM":
        if len(payload) < 34:
            raise UnsupportedImageError("truncated BMP header")
        dib_size, w, h = struct.unpack_from("<Iii", payload, 14)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if dib_size < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
            raise UnsupportedImageError(
                f"unsupported BMP profile (dib={dib_size}, bpp={bpp}, "
                f"comp={comp}, w={w}, h={h})"
            )
        return w, abs(h), 3
    return png_header(payload)


def decode_image(payload: bytes) -> np.ndarray:
    """Dispatch on container magic → (h, w, c) uint8 pixel array."""
    if payload is None or len(payload) < 2:
        raise UnsupportedImageError("empty payload")
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    return decode_png(payload)
