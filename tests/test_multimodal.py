"""Codec-free image header parsing and the `image_meta` row map."""

import pytest

from dce_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    _parse_image_header,
    image_meta,
)


def _png(w, h):
    return (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02")


def _gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")


def _jpeg(w, h):
    # SOI + APP0 stub + SOF0 with dimensions + SOS; the length field
    # counts itself plus the payload (2 + 14 = 16)
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
           + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
           + b"\x00" * 9)
    return b"\xff\xd8" + app0 + sof + b"\xff\xda\x00\x02"


def test_parse_image_header_formats():
    assert _parse_image_header(_png(640, 480)) == ("png", 640, 480)
    assert _parse_image_header(_gif(13, 9)) == ("gif", 13, 9)
    assert _parse_image_header(_jpeg(1024, 768)) == ("jpeg", 1024, 768)
    assert _parse_image_header(b"not an image at all!") == (
        None, None, None)
    assert _parse_image_header(b"") == (None, None, None)
    assert _parse_image_header(None) == (None, None, None)
    # truncated JPEG: format recognized, dimensions unknown
    assert _parse_image_header(b"\xff\xd8\xff\xe0\x00\x10JFIF") == (
        "jpeg", None, None)


@pytest.mark.spark
def test_image_meta_spark(spark):
    rows = [
        (1, "image", _png(640, 480), "image/png", 640, 480, None),
        (2, "image", _png(640, 480), "image/png", 999, 480, None),  # lies
        (3, "image", _jpeg(32, 16), "image/jpeg", None, None, None),
        (4, "image", b"garbage", "image/png", 10, 10, None),
    ]
    out = {r.media_id: r for r in image_meta(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert (out[1].format, out[1].width, out[1].height,
            out[1].meta_matches) == ("png", 640, 480, True)
    assert out[2].meta_matches is False  # declared metadata lies
    assert (out[3].format, out[3].width) == ("jpeg", 32)
    assert out[3].meta_matches is None  # no declared side to check
    assert out[4].format is None and out[4].n_bytes == 7
