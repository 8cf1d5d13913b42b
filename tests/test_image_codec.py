"""Real image container codecs (BMP 24-bit, PNG 8-bit, stdlib-only)."""

from __future__ import annotations

import numpy as np
import pytest

from pyanomalydetector2_spark.operators.image_codec import (
    UnsupportedImageError,
    decode_bmp,
    decode_image,
    decode_png,
    encode_bmp,
    encode_png,
    image_header,
)


@pytest.mark.parametrize("shape", [(5, 7), (1, 1), (16, 13), (3, 64)])
def test_bmp_roundtrip_including_row_padding(shape):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters_and_color_types(channels, filter_type):
    rng = np.random.default_rng(11 + channels * 5 + filter_type)
    img = rng.integers(0, 256, (9, 11, channels), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img, filter_type)), img)


def test_header_parse_without_pixel_decode():
    img = np.zeros((6, 10, 3), dtype=np.uint8)
    assert image_header(encode_bmp(img)) == (10, 6, 3)
    assert image_header(encode_png(img)) == (10, 6, 3)


def test_unsupported_containers_raise_cleanly():
    with pytest.raises(UnsupportedImageError):
        decode_image(b"\xff\xd8\xff\xe0JFIF")  # JPEG magic
    with pytest.raises(UnsupportedImageError):
        decode_image(None)
    with pytest.raises(UnsupportedImageError):
        decode_bmp(b"BM" + bytes(20))  # truncated header


def test_corrupt_payloads_raise_codec_error_not_zlib(tmp_path):
    """Every malformed-but-magic-valid payload must surface as
    UnsupportedImageError (the type the Spark fallbacks catch), never a
    raw zlib/struct error that would kill the task."""
    from pyanomalydetector2_spark.operators.image_codec import PNG_SIG, _png_chunk
    import struct as _s

    ihdr = _png_chunk(b"IHDR", _s.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
    # IDAT present but not a zlib stream
    with pytest.raises(UnsupportedImageError):
        decode_png(
            PNG_SIG + ihdr + _png_chunk(b"IDAT", b"not-a-zlib-stream")
            + _png_chunk(b"IEND", b"")
        )
    # PNG signature + IHDR but NO IDAT at all
    with pytest.raises(UnsupportedImageError):
        decode_png(PNG_SIG + ihdr + _png_chunk(b"IEND", b""))
    # zero-dimension PNG header
    zero = _png_chunk(b"IHDR", _s.pack(">IIBBBBB", 0, 4, 8, 2, 0, 0, 0))
    with pytest.raises(UnsupportedImageError):
        decode_png(PNG_SIG + zero + _png_chunk(b"IEND", b""))
    # non-24bpp BMP: header parse and pixel decode must AGREE (both raise)
    from pyanomalydetector2_spark.operators.image_codec import image_header

    bmp32 = bytearray(encode_bmp(np.zeros((3, 3, 3), dtype=np.uint8)))
    bmp32[28] = 32  # claim 32 bpp
    with pytest.raises(UnsupportedImageError):
        image_header(bytes(bmp32))
    with pytest.raises(UnsupportedImageError):
        decode_bmp(bytes(bmp32))

