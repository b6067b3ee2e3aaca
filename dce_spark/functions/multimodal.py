"""Binary media columns: codec-free metadata and PDF text.

Media rides through the pipeline as a `binary` payload column with a
declared-metadata struct (`MEDIA_SCHEMA`). Two Arrow-batched row maps
(`udf.map_rows`) read it, each total per row (a failure is a status or
NULL value, never a task failure) and neither needs a codec library:
`image_meta` parses image container headers for format and dimensions,
and `pdf_text` runs the pure-Python extractor in `core/pdftext.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dce_spark.spark.udf import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|pdf|...
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def pdf_text(media: DataFrame) -> DataFrame:
    """PDF text extraction over binary payloads (the pipeline's
    "PDF/layout parse" leg): Arrow-batched per-row map running the
    pure-Python extractor in core/pdftext.py (FlateDecode via stdlib
    zlib, BT..ET / Tj / TJ content-stream parsing, no external
    codec)."""
    from dce_spark.core.pdftext import extract_pdf_text

    def text(media_id, kind, payload):
        if kind != "pdf":
            yield media_id, "skipped", None
            return
        try:
            t = extract_pdf_text(payload if payload is not None else b"")
            yield media_id, "ok" if t else "empty", t
        except Exception as exc:
            yield media_id, f"error:{type(exc).__name__}", None

    return map_rows(
        media.select("media_id", "kind", "payload"), PDF_TEXT_SCHEMA, text
    )


def _parse_image_header(b: bytes):
    """(format, width, height) from container headers ALONE — no codec:
    PNG IHDR, GIF logical-screen descriptor, JPEG SOFn scan, BMP
    DIB header, WEBP VP8/VP8L/VP8X chunks. Returns (None, None, None)
    for unrecognized/truncated bytes; never raises. Dimension/format
    metadata is what corpus filters key on (aspect-ratio gates,
    min-resolution gates, format allowlists), and reading it needs no
    pixel decode."""
    if b is None or len(b) < 10:
        return None, None, None
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            return (
                "png",
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"),
            )
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return (
                "gif",
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"),
            )
        if b[:2] == b"BM" and len(b) >= 26:
            return (
                "bmp",
                int.from_bytes(b[18:22], "little", signed=True),
                abs(int.from_bytes(b[22:26], "little", signed=True)),
            )
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 30:
            chunk = b[12:16]
            if chunk == b"VP8X":
                return (
                    "webp",
                    int.from_bytes(b[24:27], "little") + 1,
                    int.from_bytes(b[27:30], "little") + 1,
                )
            if chunk == b"VP8L" and b[20] == 0x2F:
                bits = int.from_bytes(b[21:25], "little")
                return (
                    "webp",
                    (bits & 0x3FFF) + 1,
                    ((bits >> 14) & 0x3FFF) + 1,
                )
            if chunk == b"VP8 " and len(b) >= 30:
                return (
                    "webp",
                    int.from_bytes(b[26:28], "little") & 0x3FFF,
                    int.from_bytes(b[28:30], "little") & 0x3FFF,
                )
            return "webp", None, None
        if b[:2] == b"\xff\xd8":  # JPEG: scan markers for SOFn
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                if marker == 0xDA:  # start of scan: dimensions passed
                    break
                seg_len = int.from_bytes(b[i + 2:i + 4], "big")
                if seg_len < 2:
                    break
                if 0xC0 <= marker <= 0xCF and marker not in (
                    0xC4, 0xC8, 0xCC
                ):
                    return (
                        "jpeg",
                        int.from_bytes(b[i + 7:i + 9], "big"),
                        int.from_bytes(b[i + 5:i + 7], "big"),
                    )
                i += 2 + seg_len
            return "jpeg", None, None
    except (IndexError, ValueError):
        pass
    return None, None, None


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("meta_matches", T.BooleanType(), True),
    ]
)


def image_meta(media: DataFrame) -> DataFrame:
    """Header-derived image metadata for every media row:
    (media_id, format, width, height, n_bytes, meta_matches) —
    `meta_matches` cross-checks the parsed dimensions against the
    table's DECLARED width/height metadata (null when either side is
    unknown), the standard corpus-hygiene check for mislabeled media.
    Arrow-batched row map; per-row work is bounded header
    scanning, so the kernel is payload-size-independent except for
    pathological JPEGs (marker scan capped by segment lengths)."""

    def meta(media_id, payload, width, height):
        payload = payload or b""
        fmt, w, h = _parse_image_header(payload)
        matches = None
        if None not in (w, h, width, height):
            matches = w == width and h == height
        yield media_id, fmt, w, h, len(payload), matches

    return map_rows(
        media.select("media_id", "payload", "width", "height"),
        IMAGE_META_SCHEMA, meta,
    )
