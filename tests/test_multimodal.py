"""Multimodal plumbing: binaryFile source, Arrow-batched feature
extraction, frame sampling (decoders stubbed, plumbing real)."""

from __future__ import annotations

import hashlib

from postgresimporter_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    read_media_dir,
    sample_frames,
)


def _write_media(tmp_path, n=3):
    files = {}
    for i in range(n):
        p = tmp_path / f"img_{i}.bin"
        content = bytes([i]) * (100 + i * 50)
        p.write_bytes(content)
        files[f"file:{p}"] = content
    return files


def test_extract_features(spark, tmp_path):
    # undecodable bytes: byte-level features (size, hash) are real,
    # decode-level columns are nulls — never fabricated, never a task
    # failure (the explicit honesty boundary)
    files = _write_media(tmp_path)
    media = read_media_dir(spark, str(tmp_path / "*.bin"), "image")
    feats = {r.path: r for r in extract_features(media).collect()}
    assert len(feats) == len(files)
    for path, content in files.items():
        r = feats[path]
        assert r.n_bytes == len(content)
        assert r.sha256 == hashlib.sha256(content).hexdigest()
        assert (r.width, r.height, r.duration_ms) == (None, None, None)


def test_unknown_modality_yields_nulls_not_failures(spark, tmp_path):
    _write_media(tmp_path, n=1)
    media = read_media_dir(spark, str(tmp_path / "*.bin"), "hologram")
    rows = extract_features(media).collect()
    assert len(rows) == 1
    assert rows[0].width is None
    assert rows[0].n_bytes > 0  # byte-level features still computed


def test_sample_frames_expands_rows(spark, tmp_path):
    # a real MJPEG AVI: 7 frames at 2 fps = 3500ms timeline; sampling
    # every 1000ms lands at 0/1000/2000/3000 (real frames attached —
    # pixel-level assertions live in test_mjpeg.py)
    import numpy as np

    from postgresimporter_spark.operators.jpeg import encode_jpeg
    from postgresimporter_spark.operators.mjpeg import build_avi_mjpeg

    frames_jpeg = [
        encode_jpeg(np.full((8, 8), 40 + 8 * i, dtype=np.uint8))
        for i in range(7)
    ]
    p = tmp_path / "clip.bin"
    p.write_bytes(build_avi_mjpeg(frames_jpeg, fps_milli=2_000))
    media = read_media_dir(spark, str(tmp_path / "*.bin"), "video")
    frames = sample_frames(media, every_ms=1000).collect()
    assert [f.frame_ms for f in sorted(frames, key=lambda r: r.frame_ms)] == [
        0,
        1000,
        2000,
        3000,
    ]
    assert all(f.frame is not None for f in frames)


def test_resize_media_transforms_per_row(spark, tmp_path):
    from postgresimporter_spark.operators.multimodal import (
        deterministic_fake_resize,
        resize_media,
    )

    (tmp_path / "a.bin").write_bytes(b"x" * 100)
    (tmp_path / "b.bin").write_bytes(b"y" * 300)
    media = read_media_dir(spark, str(tmp_path / "*.bin"), "image")
    out = {r.path.rsplit("/", 1)[-1]: r for r in resize_media(media, 64, 48).collect()}
    assert out["a.bin"].width == 64 and out["a.bin"].height == 48
    # the stub transform ran per row with the row's own content
    assert bytes(out["a.bin"].content) == deterministic_fake_resize(b"x" * 100, 64, 48)
    assert bytes(out["b.bin"].content) == deterministic_fake_resize(b"y" * 300, 64, 48)
    assert bytes(out["a.bin"].content) != bytes(out["b.bin"].content)


def test_resize_media_unsupported_modality_raises(spark, tmp_path):
    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    from postgresimporter_spark.operators.multimodal import resize_media

    (tmp_path / "a.bin").write_bytes(b"x")
    media = read_media_dir(spark, str(tmp_path / "*.bin"), "hologram")
    with pytest.raises(PySparkException, match="no resizer"):
        resize_media(media, 64, 48).collect()
    # video now HAS a resizer (MJPEG), but non-MJPEG video bytes hit
    # the explicit codec boundary instead of a silent fake
    media_v = read_media_dir(spark, str(tmp_path / "*.bin"), "video")
    with pytest.raises(PySparkException, match="MJPEG"):
        resize_media(media_v, 64, 48).collect()


def _tiny_png(w, h):
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + len(ihdr).to_bytes(4, "big")
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"
    )


def _tiny_jpeg(w, h):
    sof0_payload = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
    sof0 = b"\xff\xc0" + (len(sof0_payload) + 2).to_bytes(2, "big") + sof0_payload
    app0 = b"\xff\xe0\x00\x04\x4a\x46"  # minimal APP0 to exercise the scan
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _tiny_wav(rate, channels, bits, n_samples):
    block = channels * bits // 8
    data = b"\x00" * (n_samples * block)
    fmt = (
        b"\x01\x00"
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    body = b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_parse_media_header_real_formats():
    from postgresimporter_spark.operators.multimodal import parse_media_header

    assert parse_media_header(_tiny_png(640, 480)) == {
        "codec": "png", "width": 640, "height": 480,
    }
    assert parse_media_header(_tiny_jpeg(320, 200)) == {
        "codec": "jpeg", "width": 320, "height": 200,
    }
    gif = b"GIF89a" + (12).to_bytes(2, "little") + (34).to_bytes(2, "little")
    assert parse_media_header(gif) == {
        "codec": "gif", "width": 12, "height": 34,
    }
    wav = parse_media_header(_tiny_wav(8000, 1, 16, 4000))  # 0.5s
    assert wav["codec"] == "wav" and wav["sample_rate"] == 8000
    assert wav["channels"] == 1 and wav["duration_ms"] == 500
    assert parse_media_header(b"not a media file") is None
    assert parse_media_header(b"") is None


def test_extract_media_metadata_distributed(spark):
    from postgresimporter_spark.operators.multimodal import (
        extract_media_metadata,
    )

    rows = [
        ("a.png", "image", _tiny_png(100, 50), None),
        ("b.jpg", "image", _tiny_jpeg(64, 64), None),
        ("c.wav", "audio", _tiny_wav(16000, 2, 16, 16000), None),
        ("d.bin", "image", b"garbage", None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.path: r for r in extract_media_metadata(media).collect()}
    assert got["a.png"].codec == "png" and got["a.png"].width == 100
    assert got["b.jpg"].height == 64
    assert got["c.wav"].duration_ms == 1000 and got["c.wav"].channels == 2
    assert got["d.bin"].codec is None and got["d.bin"].n_bytes == 7


def _huge_header_media():
    """Header fields at the top of their byte width: a PNG IHDR width
    and a WAV sample rate of 0xFFFFFFFF, an AVI whose usec-per-frame
    of 0xFFFFFFFF over 501 frames gives ~2.15e9 ms, and an MP4 whose
    mvhd gives 0xFFFFFFFF seconds."""
    import numpy as np

    from postgresimporter_spark.operators.jpeg import encode_jpeg
    from postgresimporter_spark.operators.mediagen import mp4_bytes
    from postgresimporter_spark.operators.mjpeg import build_avi_mjpeg

    huge = 0xFFFFFFFF
    wav = bytearray(_tiny_wav(8000, 1, 16, 8))
    wav[24:28] = huge.to_bytes(4, "little")  # fmt sample rate
    frame = encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))
    avi = bytearray(build_avi_mjpeg([frame] * 501, fps_milli=1000))
    at = avi.index(b"avih") + 8
    avi[at : at + 4] = huge.to_bytes(4, "little")  # usec per frame
    return [
        ("a.png", "image", _tiny_png(huge, 7), None),
        ("b.wav", "audio", bytes(wav), None),
        ("c.avi", "video", bytes(avi), None),
        ("d.mp4", "video", mp4_bytes(duration_ms=huge * 1000, timescale=1), None),
    ]


def test_out_of_range_header_fields_give_nulls_not_failures(spark):
    # header fields are outside input: a value its declared column
    # cannot hold comes back NULL in its own row; it never fails the
    # task or wraps around
    from postgresimporter_spark.operators.multimodal import (
        extract_media_metadata,
    )

    media = spark.createDataFrame(_huge_header_media(), MEDIA_SCHEMA)
    meta = {r.path: r for r in extract_media_metadata(media).collect()}
    assert (meta["a.png"].codec, meta["a.png"].width) == ("png", None)
    assert meta["a.png"].height == 7
    assert (meta["b.wav"].sample_rate, meta["b.wav"].channels) == (None, 1)
    assert meta["c.avi"].width == 8  # duration_ms is a long: it fits
    assert meta["c.avi"].duration_ms == 501 * 0xFFFFFFFF // 1000
    assert meta["d.mp4"].duration_ms == 0xFFFFFFFF * 1000

    feats = {r.path: r for r in extract_features(media).collect()}
    assert feats["a.png"].width is None and feats["a.png"].height == 7
    # duration_ms is an int here: ~2.15e9 and ~4.3e12 ms do not fit
    assert (feats["c.avi"].width, feats["c.avi"].duration_ms) == (8, None)
    assert (feats["d.mp4"].width, feats["d.mp4"].duration_ms) == (320, None)
    assert all(r.n_bytes > 0 for r in feats.values())


def test_sample_frames_bounds_a_header_duration(spark):
    # a 232-byte MP4 whose mvhd declares 0xFFFFFFFF seconds would
    # yield ~4.3e9 offset rows at every_ms=1000; the frameless path
    # caps them, still starting at 0 and stepping by every_ms
    from pyspark.sql import functions as F

    from postgresimporter_spark.operators.mediagen import mp4_bytes
    from postgresimporter_spark.operators.multimodal import (
        _MAX_FRAMELESS_OFFSETS,
    )

    mp4 = mp4_bytes(duration_ms=0xFFFFFFFF * 1000, timescale=1)
    assert len(mp4) == 232
    media = spark.createDataFrame(
        [("d.mp4", "video", mp4, None)], MEDIA_SCHEMA
    )
    got = (
        sample_frames(media, every_ms=1000)
        .agg(
            F.count("*").alias("n"),
            F.min("frame_ms").alias("lo"),
            F.max("frame_ms").alias("hi"),
            F.count("frame").alias("frames"),
        )
        .first()
    )
    assert got.n == _MAX_FRAMELESS_OFFSETS
    assert (got.lo, got.hi) == (0, (_MAX_FRAMELESS_OFFSETS - 1) * 1000)
    assert got.frames == 0


def _box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def test_mp4_header_parse_real():
    from postgresimporter_spark.operators.multimodal import (
        parse_media_header,
    )

    # mvhd v0: ver/flags(4) ctime(4) mtime(4) timescale(4) duration(4)
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + (600).to_bytes(4, "big") + (3000).to_bytes(4, "big")
        + b"\x00" * 80,
    )
    # tkhd: 84-byte v0 body; width/height are the LAST 8 bytes (16.16)
    tkhd_body = b"\x00" * 76 + (640 << 16).to_bytes(4, "big") + (
        360 << 16
    ).to_bytes(4, "big")
    trak = _box(b"trak", _box(b"tkhd", tkhd_body))
    moov = _box(b"moov", mvhd + trak)
    mp4 = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov
    meta = parse_media_header(mp4)
    assert meta["codec"] == "mp4"
    assert meta["duration_ms"] == 5000  # 3000 ticks at timescale 600
    assert meta["width"] == 640 and meta["height"] == 360


def test_mp3_header_parse_real():
    from postgresimporter_spark.operators.multimodal import (
        parse_media_header,
    )

    # ID3v2 tag (10 bytes header + 20-byte body), then an MPEG-1
    # Layer III frame header: 0xFF 0xFB = MPEG-1 L3; 0x90 = 128 kbps
    # + 44100 Hz
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
    frame = b"\xff\xfb\x90\x00"
    audio = frame + b"\x00" * (16000 - 4)  # 16000 audio bytes
    meta = parse_media_header(id3 + audio)
    assert meta["codec"] == "mp3"
    assert meta["sample_rate"] == 44100
    assert meta["duration_ms"] == 16000 * 8 // 128  # = 1000 ms


def test_mp4_truncated_returns_codec_only():
    from postgresimporter_spark.operators.multimodal import (
        parse_media_header,
    )

    junk = _box(b"ftyp", b"isom") + b"\x00\x00\x00\xff"  # bogus tail
    meta = parse_media_header(junk)
    assert meta == {"codec": "mp4"}


def test_decompression_bomb_guards():
    """r13 probe: a forged header must raise BEFORE any
    size-proportional allocation or inflation — a kilobyte-scale input
    declaring gigapixel output would otherwise OOM the executor, which
    no row-level try/except can catch. ValueError is the contract the
    media mappers already convert to null-field rows."""
    import struct
    import zlib

    import pytest

    from postgresimporter_spark.operators.gif import decode_gif
    from postgresimporter_spark.operators.jpeg import decode_jpeg
    from postgresimporter_spark.operators.mediacaps import (
        MAX_DECODE_PIXELS,
    )
    from postgresimporter_spark.operators.png import (
        PNG_MAGIC,
        decode_png,
    )

    # PNG: IHDR declares 100k x 100k RGB (1e10 px, 30 GB decoded) with
    # a ~100 KB IDAT that would inflate toward it; must raise at the
    # header, instantly.
    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"\x00" * 10_000_000)  # ~10 KB compressed
    bomb_png = (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    assert len(bomb_png) < 100_000  # the whole bomb is tiny
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_png(bomb_png)

    # PNG: small declared size but an IDAT inflating far PAST it must
    # fail the scanline mismatch without materializing the excess.
    ihdr_small = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    fat_idat = zlib.compress(b"\x00" * 5_000_000)
    with pytest.raises(ValueError, match="scanline size mismatch"):
        decode_png(
            PNG_MAGIC
            + chunk(b"IHDR", ihdr_small)
            + chunk(b"IDAT", fat_idat)
            + chunk(b"IEND", b"")
        )

    # JPEG: forged SOF0 declaring 65535 x 65535 (34 GB of int64
    # coefficients per component) must raise at the SOF.
    sof = struct.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0])
    bomb_jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">H", 2 + len(sof))
        + sof
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_jpeg(bomb_jpeg)

    # GIF: a forged 65535 x 65535 frame rect (4.3e9 px of int32 LZW
    # indices, 17 GB) must raise at the image descriptor; the animated
    # path additionally guards the logical-screen canvas allocation.
    bomb_gif = (
        b"GIF89a"
        + struct.pack("<HH", 8, 8)  # modest screen
        + bytes([0x80, 0, 0])  # GCT flag, 2-entry table
        + b"\x00\x00\x00\xff\xff\xff"  # global color table
        + b"\x2c"  # image descriptor
        + struct.pack("<HHHH", 0, 0, 65535, 65535)  # forged rect
        + bytes([0x00, 2])  # no LCT; LZW min code size
        + bytes([1, 0x00, 0x00])  # one tiny data sub-block
        + b"\x3b"
    )
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_gif(bomb_gif)

    from postgresimporter_spark.operators.gif import iter_gif_frames

    # animated path: forged logical screen -> canvas guard fires
    screen_bomb = (
        b"GIF89a"
        + struct.pack("<HH", 65535, 65535)
        + bytes([0x00, 0, 0])
        + b"\x3b"
    )
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        next(iter_gif_frames(screen_bomb))

    assert 65535 * 65535 > MAX_DECODE_PIXELS  # the guard is binding
