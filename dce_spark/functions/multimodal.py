"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with a
metadata struct; decode, feature extraction, resize, frame sampling
and header parsing are Arrow-batched row maps (`udf.map_rows`), each
total per row: a failure is a status value or no output rows, never a
task failure. The actual codecs are NOT available in this
environment, so the decode step is a clearly-marked stub behind
`DecodeBackend`: the default `FakeDecodeBackend` produces deterministic
features from the bytes (so the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — is real and tested), and a
real backend (PIL/librosa/pyav) plugs in by implementing the same two
methods.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dce_spark.spark.udf import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("payload_sha1", T.StringType(), True),
    ]
)


class DecodeBackend:
    """Interface for media decoding. Real implementations would wrap
    PIL (image), librosa/soundfile (audio), pyav (video frame sampling).
    None of those libraries exist in this container."""

    def decode_image(self, payload: bytes) -> np.ndarray:  # H x W x C
        raise NotImplementedError(
            "real image decoding requires PIL/opencv, not present in "
            "this environment — plug in a backend"
        )

    def decode_audio(self, payload: bytes) -> np.ndarray:  # samples
        raise NotImplementedError(
            "real audio decoding requires soundfile/librosa — plug in "
            "a backend"
        )

    def decode_video(self, payload: bytes) -> np.ndarray:  # T x H x W x C
        raise NotImplementedError(
            "real video decoding requires pyav/ffmpeg — plug in a backend"
        )


class FakeDecodeBackend(DecodeBackend):
    """Deterministic stand-in: 'decodes' bytes into a pseudo-signal via
    a seeded hash expansion. Keeps every downstream shape honest."""

    def decode_image(self, payload: bytes) -> np.ndarray:
        h = hashlib.sha256(payload).digest()
        rng = np.random.default_rng(np.frombuffer(h[:8], dtype=np.uint64))
        return rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)

    def decode_audio(self, payload: bytes) -> np.ndarray:
        h = hashlib.sha256(payload).digest()
        rng = np.random.default_rng(np.frombuffer(h[8:16], dtype=np.uint64))
        return rng.standard_normal(1024).astype(np.float32)

    def decode_video(self, payload: bytes) -> np.ndarray:
        h = hashlib.sha256(payload).digest()
        rng = np.random.default_rng(np.frombuffer(h[16:24], dtype=np.uint64))
        return rng.integers(0, 256, size=(32, 16, 16, 3), dtype=np.uint8)


def media_features(
    media: DataFrame, backend: DecodeBackend | None = None
) -> DataFrame:
    """media table -> per-item feature vectors via an Arrow-batched
    row map. Pure per-row map: salting/partitioning follows the
    same url/id-hash strategy as page extraction."""
    backend = backend or FakeDecodeBackend()

    def features(media_id, kind, payload):
        if payload is None:
            yield media_id, kind, "empty", None, None
            return
        status, feat = "ok", None
        try:
            if kind == "image":
                arr = backend.decode_image(payload).astype(np.float32)
                # 12-dim feature: per-channel mean/std + downsampled
                feat = np.concatenate(
                    [
                        arr.mean(axis=(0, 1)) / 255.0,
                        arr.std(axis=(0, 1)) / 255.0,
                        arr.reshape(-1)[:6] / 255.0,
                    ]
                )
            elif kind == "audio":
                sig = backend.decode_audio(payload)
                if len(sig) < 8:  # too short to frame: zero-pad
                    sig = np.pad(sig, (0, 8 - len(sig)))
                # frame-level energy profile (8 frames) + rms + zc rate
                frames = sig[: len(sig) - (len(sig) % 8)].reshape(8, -1)
                feat = np.concatenate(
                    [
                        np.sqrt((frames**2).mean(axis=1)),
                        [float(np.sqrt((sig**2).mean()))],
                        [float((np.diff(np.sign(sig)) != 0).mean())],
                    ]
                )
            else:
                status = "unsupported"
        except NotImplementedError:
            status = "no_backend"
        except Exception as exc:  # total per row, like extraction
            status = f"error:{type(exc).__name__}"
        yield (
            media_id, kind, status,
            None if feat is None else feat.astype(np.float32).tolist(),
            hashlib.sha1(payload).hexdigest(),
        )

    return map_rows(
        media.select("media_id", "kind", "payload"), FEATURE_SCHEMA, features
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),  # raw HxWxC uint8
    ]
)


def _nn_resize(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize in pure NumPy (the resize math itself is
    real — only the codec decode sits behind DecodeBackend)."""
    h, w = arr.shape[:2]
    ri = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    ci = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return arr[ri][:, ci]


def resize_images(
    media: DataFrame,
    out_h: int = 8,
    out_w: int = 8,
    backend: DecodeBackend | None = None,
) -> DataFrame:
    """Batch image resize: decode -> nearest-neighbor downsample -> raw
    uint8 pixel buffer column. One Arrow-batched per-row map, no
    shuffle; output rows carry typed dims so downstream kernels can
    reinterpret the binary without metadata lookups."""
    backend = backend or FakeDecodeBackend()

    def resize(media_id, kind, payload):
        if payload is None or kind != "image":
            yield media_id, "skipped", None, None, None
            return
        try:
            arr = backend.decode_image(payload)
            small = np.ascontiguousarray(
                _nn_resize(arr, out_h, out_w).astype(np.uint8)
            )
            yield media_id, "ok", out_h, out_w, small.tobytes()
        except NotImplementedError:
            yield media_id, "no_backend", None, None, None
        except Exception as exc:
            yield media_id, f"error:{type(exc).__name__}", None, None, None

    return map_rows(
        media.select("media_id", "kind", "payload"), RESIZED_SCHEMA, resize
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
    zlib, BT..ET / Tj / TJ content-stream parsing — no external codec,
    so unlike image/audio this path is NOT stubbed)."""
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


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("source_frame", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),
    ]
)


def sample_frames(
    media: DataFrame,
    n_frames: int = 4,
    backend: DecodeBackend | None = None,
) -> DataFrame:
    """Uniform video frame sampling: decode -> pick n uniformly-spaced
    frames -> one output row per frame (a per-row flatMap; row counts
    multiply by n_frames, so the Arrow batch size bounds still hold).
    Total per row: a video whose decode raises, or that decodes to zero
    frames, yields no rows. The sampling index math is real; only the
    codec is backend-pluggable."""
    backend = backend or FakeDecodeBackend()

    def frames(media_id, kind, payload):
        if payload is None or kind != "video":
            return
        try:
            vid = backend.decode_video(payload)
            t, h, w = vid.shape[:3]
        except Exception:  # no backend or undecodable: no frames
            return
        if t == 0:
            return
        picks = (
            (np.arange(n_frames) * (t / n_frames))
            .astype(np.int64)
            .clip(0, t - 1)
        )
        for out_i, src_i in enumerate(picks):
            yield (media_id, out_i, int(src_i), h, w,
                   np.ascontiguousarray(vid[src_i]).tobytes())

    return map_rows(
        media.select("media_id", "kind", "payload"), FRAME_SCHEMA, frames
    )


def _parse_image_header(b: bytes):
    """(format, width, height) from container headers ALONE — no codec:
    PNG IHDR, GIF logical-screen descriptor, JPEG SOFn scan, BMP
    DIB header, WEBP VP8/VP8L/VP8X chunks. Returns (None, None, None)
    for unrecognized/truncated bytes; never raises. This is REAL
    parsing (unlike pixel decode, which stays behind DecodeBackend):
    dimension/format metadata is what corpus filters actually key on
    (aspect-ratio gates, min-resolution gates, format allowlists)."""
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


def _parse_audio_header(b: bytes):
    """(format, sample_rate, channels, duration_ms) from container
    headers alone — WAV fmt chunk (exact duration from data size) and
    MP3 first MPEG-1 Layer III frame (bitrate-based estimate over the
    payload length; None duration for VBR-ambiguous cases is NOT
    attempted — a constant-bitrate estimate is the standard corpus
    signal). Returns (None, None, None, None) when unrecognized."""
    if b is None or len(b) < 12:
        return None, None, None, None
    try:
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            pos, sr, ch, byte_rate, data_len = 12, None, None, None, None
            while pos + 8 <= len(b):
                cid = b[pos:pos + 4]
                clen = int.from_bytes(b[pos + 4:pos + 8], "little")
                if cid == b"fmt " and pos + 24 <= len(b):
                    ch = int.from_bytes(b[pos + 10:pos + 12], "little")
                    sr = int.from_bytes(b[pos + 12:pos + 16], "little")
                    byte_rate = int.from_bytes(
                        b[pos + 16:pos + 20], "little"
                    )
                elif cid == b"data":
                    data_len = clen
                pos += 8 + clen + (clen & 1)
            dur = None
            if byte_rate and data_len is not None:
                dur = int(data_len * 1000 // byte_rate)
            return "wav", sr, ch, dur
        if b[:3] == b"ID3" or (b[0] == 0xFF and (b[1] & 0xE0) == 0xE0):
            start = 0
            if b[:3] == b"ID3" and len(b) >= 10:
                # syncsafe 28-bit tag size
                start = 10 + (
                    (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
                )
            if start + 4 > len(b):
                return "mp3", None, None, None
            h = b[start:start + 4]
            if len(h) < 4 or h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
                return "mp3", None, None, None
            # MPEG-1 Layer III tables
            bitrates = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                        192, 224, 256, 320, 0]
            rates = [44100, 48000, 32000, 0]
            br = bitrates[(h[2] >> 4) & 0xF]
            sr = rates[(h[2] >> 2) & 0x3]
            ch = 1 if (h[3] >> 6) & 0x3 == 3 else 2
            if not br or not sr:
                return "mp3", sr or None, ch, None
            dur = int((len(b) - start) * 8 * 1000 // (br * 1000))
            return "mp3", sr, ch, dur
    except (IndexError, ValueError):
        pass
    return None, None, None, None


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def audio_meta(media: DataFrame) -> DataFrame:
    """Header-derived audio metadata (media_id, format, sample_rate,
    channels, duration_ms, n_bytes) — WAV exact, MP3 CBR-estimated;
    same codec-free discipline as image_meta."""

    def meta(media_id, payload):
        payload = payload or b""
        yield (media_id, *_parse_audio_header(payload), len(payload))

    return map_rows(
        media.select("media_id", "payload"), AUDIO_META_SCHEMA, meta
    )


def _parse_video_header(b: bytes):
    """(format, width, height, duration_ms) from the MP4/QuickTime box
    structure (ftyp -> moov -> mvhd for timescale/duration, trak ->
    tkhd for the presentation matrix's width/height) and the WebM/
    Matroska EBML magic (format only — vint-encoded duration is not
    worth a full EBML parser here). Codec-free, bounded walk, total:
    damage returns what was recovered."""
    if b is None or len(b) < 12:
        return None, None, None, None
    try:
        if b[:4] == b"\x1aE\xdf\xa3":
            return "webm", None, None, None
        if b[4:8] not in (b"ftyp", b"moov", b"mdat", b"wide", b"free"):
            return None, None, None, None
        dur_ms = width = height = None

        def walk(pos, end, depth):
            nonlocal dur_ms, width, height
            while pos + 8 <= end and depth < 8:
                size = int.from_bytes(b[pos:pos + 4], "big")
                box = b[pos + 4:pos + 8]
                if size == 1 and pos + 16 <= end:
                    size = int.from_bytes(b[pos + 8:pos + 16], "big")
                if size < 8:
                    return
                body = pos + 8
                if box == b"mvhd" and body + 20 <= end:
                    ver = b[body]
                    if ver == 1 and body + 32 <= end:
                        ts = int.from_bytes(b[body + 20:body + 24], "big")
                        dur = int.from_bytes(b[body + 24:body + 32], "big")
                    elif ver == 1:
                        # v1 truncated inside the 64-bit duration:
                        # the v0 offsets would read matrix bytes, so
                        # report no duration rather than garbage.
                        ts = dur = 0
                    else:
                        ts = int.from_bytes(b[body + 12:body + 16], "big")
                        dur = int.from_bytes(b[body + 16:body + 20], "big")
                    if ts:
                        dur_ms = int(dur * 1000 // ts)
                elif box == b"tkhd" and body + 84 <= end:
                    ver = b[body]
                    # v0: 24 bytes of times/ids + 52 bytes layer/
                    # matrix = width at +76; v1 durations add 12
                    off = body + (88 if ver == 1 else 76)
                    if off + 8 <= end and width is None:
                        # 16.16 fixed point
                        w = int.from_bytes(b[off:off + 4], "big") >> 16
                        h = int.from_bytes(b[off + 4:off + 8], "big") >> 16
                        if w and h:
                            width, height = w, h
                elif box in (b"moov", b"trak"):
                    walk(body, min(pos + size, end), depth + 1)
                pos += size

        walk(0, len(b), 0)
        return "mp4", width, height, dur_ms
    except (IndexError, ValueError):
        return None, None, None, None


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def video_meta(media: DataFrame) -> DataFrame:
    """Header-derived video metadata — MP4 box walk (exact duration
    from mvhd, dims from tkhd), WebM magic; same codec-free
    discipline as image_meta/audio_meta."""

    def meta(media_id, payload):
        payload = payload or b""
        yield (media_id, *_parse_video_header(payload), len(payload))

    return map_rows(
        media.select("media_id", "payload"), VIDEO_META_SCHEMA, meta
    )


def curate_media(
    media: DataFrame, min_width: int = 64, min_height: int = 64,
) -> DataFrame:
    """Media-corpus curation decision, mirroring the text side's
    composed gates: (media_id, keep, reason) where a row is dropped
    for the FIRST failing stage —
    'unparseable' (no recognized container header), 'duplicate'
    (identical payload bytes seen under a smaller media_id — exact
    dedup on md5(payload), one hash shuffle), or 'too_small'
    (parsed dimensions under the floor; images only — formats
    without parsed dims pass the size gate). Total over input."""
    from pyspark.sql import functions as F

    meta = image_meta(media)
    # Null-safe fingerprint: md5(NULL) is NULL and equi-joins drop
    # NULL keys, which would silently lose null-payload rows from the
    # decision table (they must surface as keep=false/'unparseable').
    # The null sentinel cannot collide with a real digest (md5 output
    # is 32 hex chars), so NULL payloads and genuinely EMPTY payloads
    # form separate dedup groups — an empty-bytes row is never judged
    # a 'duplicate' of a null-payload keeper or vice versa.
    fp = media.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.when(F.col("payload").isNull(), F.lit("\x00null"))
        .otherwise(F.md5(F.col("payload")))
        .alias("_fp"),
    )
    keep_fp = fp.groupBy("_fp").agg(
        F.min("media_id").alias("_keep_id")
    )
    decided = (
        meta.join(fp, "media_id")
        .join(keep_fp, "_fp")
        .select(
            "media_id",
            F.when(F.col("format").isNull(), F.lit("unparseable"))
            .when(F.col("media_id") != F.col("_keep_id"),
                  F.lit("duplicate"))
            .when(
                F.col("width").isNotNull()
                & F.col("height").isNotNull()
                & (
                    (F.col("width") < min_width)
                    | (F.col("height") < min_height)
                ),
                F.lit("too_small"),
            )
            .alias("reason"),
        )
    )
    return decided.select(
        "media_id",
        F.col("reason").isNull().alias("keep"),
        "reason",
    )
