"""Multimodal plumbing: schema, batching, stub decode, error paths."""

import pytest

from dce_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    DecodeBackend,
    FakeDecodeBackend,
    media_features,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes 1", "image/png", 16, 16, None),
        (2, "image", b"\x89PNG fake bytes 2", "image/png", 16, 16, None),
        (3, "audio", b"RIFF fake wav", "audio/wav", None, None, 1000),
        (4, "video", b"\x00\x00ftyp fake mp4", "video/mp4", None, None, 2000),
        (5, "image", None, "image/png", None, None, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_feature_extraction_shapes(media):
    out = {r.media_id: r for r in media_features(media).collect()}
    assert len(out) == 5
    assert out[1].status == "ok" and len(out[1].feature) == 12
    assert out[3].status == "ok" and len(out[3].feature) == 10
    assert out[4].status == "unsupported" and out[4].feature is None
    assert out[5].status == "empty"


def test_features_deterministic(media):
    a = {r.media_id: r.feature for r in media_features(media).collect()}
    b = {r.media_id: r.feature for r in media_features(media).collect()}
    assert a == b
    assert a[1] != a[2]  # different payloads -> different features


def test_real_backend_is_stubbed(media):
    class RealBackendPlaceholder(DecodeBackend):
        pass

    out = {
        r.media_id: r.status
        for r in media_features(media, backend=RealBackendPlaceholder()).collect()
    }
    # without codec libraries the decode raises NotImplementedError,
    # surfaced as a status code — never a task failure
    assert out[1] == "no_backend"
    assert out[3] == "no_backend"


def test_payload_hash_lineage(media):
    out = {r.media_id: r for r in media_features(media).collect()}
    assert out[1].payload_sha1 and len(out[1].payload_sha1) == 40
    assert out[5].payload_sha1 is None


def test_resize_images_real_nn_math(media):
    import numpy as np

    from dce_spark.functions.multimodal import (
        FakeDecodeBackend,
        _nn_resize,
        resize_images,
    )

    out = {r.media_id: r for r in resize_images(media, 8, 8).collect()}
    assert out[1].status == "ok"
    assert (out[1].height, out[1].width) == (8, 8)
    assert len(bytes(out[1].pixels)) == 8 * 8 * 3
    # the resize math is real: spark output == local numpy resize
    src = FakeDecodeBackend().decode_image(b"\x89PNG fake bytes 1")
    expect = np.ascontiguousarray(_nn_resize(src, 8, 8)).tobytes()
    assert bytes(out[1].pixels) == expect
    assert out[3].status == "skipped"  # audio row
    assert out[5].status == "skipped"  # null payload


def test_sample_frames_uniform(media):
    from dce_spark.functions.multimodal import sample_frames

    rows = sample_frames(media, n_frames=4).collect()
    # only the video row (media_id 4) yields frames
    assert {r.media_id for r in rows} == {4}
    assert sorted(r.frame_idx for r in rows) == [0, 1, 2, 3]
    # uniformly spaced over the fake backend's 32 frames
    assert [r.source_frame for r in sorted(rows, key=lambda r: r.frame_idx)] \
        == [0, 8, 16, 24]
    for r in rows:
        assert len(bytes(r.pixels)) == r.height * r.width * 3



def _videos(spark):
    from dce_spark.functions.multimodal import MEDIA_SCHEMA

    rows = [
        (i, "video", f"clip {i}".encode(), "video/mp4", None, None, 1000)
        for i in (1, 2, 3)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_sample_frames_zero_frame_video_yields_no_frames(spark):
    """A backend may decode a video to zero frames: that media_id gets
    no frames (index t-1 = -1 would otherwise kill the task)."""
    import numpy as np

    from dce_spark.functions.multimodal import (
        FakeDecodeBackend,
        sample_frames,
    )

    class EmptyClip(FakeDecodeBackend):
        def decode_video(self, payload):
            if payload == b"clip 2":
                return np.zeros((0, 16, 16, 3), dtype=np.uint8)
            return super().decode_video(payload)

    rows = sample_frames(_videos(spark), 4, backend=EmptyClip()).collect()
    assert sorted((r.media_id, r.frame_idx) for r in rows) == [
        (m, i) for m in (1, 3) for i in range(4)
    ]


def test_sample_frames_backend_error_yields_no_frames(spark):
    """Any decode exception (not only NotImplementedError) costs that
    media_id its frames, never the task."""
    from dce_spark.functions.multimodal import (
        FakeDecodeBackend,
        sample_frames,
    )

    class Corrupt(FakeDecodeBackend):
        def decode_video(self, payload):
            if payload == b"clip 3":
                raise ValueError("corrupt stream")
            return super().decode_video(payload)

    rows = sample_frames(_videos(spark), 2, backend=Corrupt()).collect()
    assert sorted((r.media_id, r.frame_idx) for r in rows) == [
        (m, i) for m in (1, 2) for i in range(2)
    ]


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
    from dce_spark.functions.multimodal import _parse_image_header

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
    from dce_spark.functions.multimodal import image_meta

    rows = [
        (1, "image", _png(640, 480), "image/png", 640, 480, None),
        (2, "image", _png(640, 480), "image/png", 999, 480, None),  # lies
        (3, "image", _jpeg(32, 16), "image/jpeg", None, None, None),
        (4, "image", b"garbage", "image/png", 10, 10, None),
    ]
    from dce_spark.functions.multimodal import MEDIA_SCHEMA

    out = {r.media_id: r for r in image_meta(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert (out[1].format, out[1].width, out[1].height,
            out[1].meta_matches) == ("png", 640, 480, True)
    assert out[2].meta_matches is False  # declared metadata lies
    assert (out[3].format, out[3].width) == ("jpeg", 32)
    assert out[3].meta_matches is None  # no declared side to check
    assert out[4].format is None and out[4].n_bytes == 7


def _wav(sr=8000, ch=1, seconds=2):
    import struct
    byte_rate = sr * ch * 2
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, ch, sr, byte_rate, ch * 2, 16)
    n = byte_rate * seconds
    data = b"data" + struct.pack("<I", n) + b"\x00" * n
    return (b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(data))
            + b"WAVE" + fmt + data)


def test_parse_audio_header_formats():
    from dce_spark.functions.multimodal import _parse_audio_header

    assert _parse_audio_header(_wav(8000, 1, 2)) == ("wav", 8000, 1, 2000)
    assert _parse_audio_header(_wav(44100, 2, 1)) == ("wav", 44100, 2, 1000)
    # MP3 CBR 128kbps @44100: 4000 bytes ~ 250 ms
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 3996
    assert _parse_audio_header(mp3) == ("mp3", 44100, 2, 250)
    # ID3v2-prefixed frame
    id3 = (b"ID3\x03\x00\x00\x00\x00\x00\x0a" + b"x" * 10
           + b"\xff\xfb\x90\x00" + b"\x00" * 996)
    fmt, sr, ch, dur = _parse_audio_header(id3)
    assert (fmt, sr, ch) == ("mp3", 44100, 2)
    assert _parse_audio_header(b"junk bytes not audio") == (
        None, None, None, None)


@pytest.mark.spark
def test_audio_meta_spark(spark):
    from dce_spark.functions.multimodal import MEDIA_SCHEMA, audio_meta

    rows = [
        (1, "audio", _wav(16000, 2, 1), "audio/wav", None, None, 1000),
        (2, "audio", b"noise", "audio/mpeg", None, None, None),
    ]
    out = {r.media_id: r for r in audio_meta(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert (out[1].format, out[1].sample_rate, out[1].channels,
            out[1].duration_ms) == ("wav", 16000, 2, 1000)
    assert out[2].format is None


def _mp4(w=640, h=360, dur_ms=2500, timescale=1000):
    def box(name, payload):
        return (len(payload) + 8).to_bytes(4, "big") + name + payload
    mvhd = box(b"mvhd", b"\x00" * 12 + timescale.to_bytes(4, "big")
               + (dur_ms * timescale // 1000).to_bytes(4, "big")
               + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00" * 76 + ((w << 16).to_bytes(4, "big"))
               + ((h << 16).to_bytes(4, "big")))
    return (box(b"ftyp", b"isom" + b"\x00" * 4)
            + box(b"moov", mvhd + box(b"trak", tkhd)))


def test_parse_video_header_formats():
    from dce_spark.functions.multimodal import _parse_video_header

    assert _parse_video_header(_mp4(640, 360, 2500)) == (
        "mp4", 640, 360, 2500)
    assert _parse_video_header(_mp4(1920, 1080, 90000)) == (
        "mp4", 1920, 1080, 90000)
    assert _parse_video_header(b"\x1a\x45\xdf\xa3" + b"\x00" * 20) == (
        "webm", None, None, None)
    assert _parse_video_header(b"definitely not a video") == (
        None, None, None, None)
    # truncated moov: format recognized, fields None — never raises
    cut = _parse_video_header(_mp4()[:40])
    assert cut[0] == "mp4"


def test_parse_video_header_mvhd_v1_truncated_duration():
    """An mvhd v1 cut inside the 8-byte duration must yield no
    duration, not a garbage value from a short int.from_bytes read
    (or from misreading matrix bytes via the v0 offsets)."""
    from dce_spark.functions.multimodal import _parse_video_header

    def box(name, payload):
        return (len(payload) + 8).to_bytes(4, "big") + name + payload

    # v1 body: ver/flags(4) + creation(8) + modification(8) +
    # timescale(4 @ +20) + duration(8 @ +24); stop 2 bytes short of
    # the duration's end -> body len 30 (old guard +28 passed).
    mvhd_v1_cut = (b"\x01\x00\x00\x00" + b"\x00" * 16
                   + (1000).to_bytes(4, "big") + b"\x00" * 6)
    data = (box(b"ftyp", b"isom" + b"\x00" * 4)
            + box(b"moov", box(b"mvhd", mvhd_v1_cut)))
    fmt, w, h, dur = _parse_video_header(data)
    assert fmt == "mp4" and dur is None

    # and an intact v1 mvhd parses the 64-bit duration exactly
    mvhd_v1 = (b"\x01\x00\x00\x00" + b"\x00" * 16
               + (1000).to_bytes(4, "big")
               + (4321).to_bytes(8, "big") + b"\x00" * 80)
    data = (box(b"ftyp", b"isom" + b"\x00" * 4)
            + box(b"moov", box(b"mvhd", mvhd_v1)))
    assert _parse_video_header(data)[3] == 4321


@pytest.mark.spark
def test_video_meta_spark(spark):
    from dce_spark.functions.multimodal import MEDIA_SCHEMA, video_meta

    rows = [
        (1, "video", _mp4(320, 240, 1500), "video/mp4", None, None, None),
        (2, "video", b"noise", "video/mp4", None, None, None),
    ]
    out = {r.media_id: r for r in video_meta(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert (out[1].format, out[1].width, out[1].height,
            out[1].duration_ms) == ("mp4", 320, 240, 1500)
    assert out[2].format is None


@pytest.mark.spark
def test_curate_media_gates(spark):
    from dce_spark.functions.multimodal import MEDIA_SCHEMA, curate_media

    big, small = _png(640, 480), _png(8, 8)
    rows = [
        (1, "image", big, "image/png", None, None, None),
        (2, "image", big, "image/png", None, None, None),   # dup of 1
        (3, "image", small, "image/png", None, None, None),  # tiny
        (4, "image", b"junk bytes", "image/png", None, None, None),
        (5, "image", _gif(100, 100), "image/gif", None, None, None),
        (6, "image", None, "image/png", None, None, None),  # null payload
        (7, "image", b"", "image/png", None, None, None),   # EMPTY payload
    ]
    out = {r.media_id: (r.keep, r.reason) for r in curate_media(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    # Total over input: the null-payload row must SURVIVE to the
    # decision table (md5(NULL) would vanish through the equi-joins)
    assert len(out) == 7
    assert out[1] == (True, None)
    assert out[2] == (False, "duplicate")
    assert out[3] == (False, "too_small")
    assert out[4] == (False, "unparseable")
    assert out[5] == (True, None)
    assert out[6] == (False, "unparseable")
    # null and zero-byte payloads are distinct fingerprint groups (the
    # null sentinel can't collide with md5(b'')): each is judged
    # independently as unparseable, never as the other's duplicate
    assert out[7] == (False, "unparseable")
