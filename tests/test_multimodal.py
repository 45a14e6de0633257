"""Multimodal plumbing tests: binaryFile scan, magic-byte sniffing, sha256,
mapInPandas batch shapes for decode / features / resize / frame-sample /
pHash, and the ``on_unsupported`` gate for every format without a
built-in decoder (JPEG, WebP, AVI, MP4, …)."""

from __future__ import annotations

import hashlib
import struct
import zlib

import pytest

from astro_sdk_spark.multimodal.ops import (
    attach_media_metadata,
    decode_audio_batch,
    decode_image_batch,
    extract_audio_features,
    extract_image_features,
    frame_sample_video,
    image_phash_batch,
    media_table_from_files,
    resize_images,
)


def _tiny_png() -> bytes:
    """A structurally-valid 1x1 grayscale PNG built by hand."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00\x00")
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _riff(form: bytes, *chunks: tuple[bytes, bytes]) -> bytes:
    """RIFF container of the given form type from (fourcc, payload) chunks."""
    body = form + b"".join(
        cc + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) & 1)
        for cc, data in chunks
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _tiny_wav() -> bytes:
    """Minimal RIFF/WAVE container with a silent sample."""
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return _riff(b"WAVE", (b"fmt ", fmt), (b"data", b"\x00\x00" * 4))


def _jpeg_header(sof: int) -> bytes:
    """SOI + a one-component 1x1 SOFn segment + EOI: baseline (0xC0),
    progressive (0xC2) or lossless (0xC3)."""
    seg = struct.pack(">BBHBHHB", 0xFF, sof, 11, 8, 1, 1, 1) + bytes([1, 0x11, 0])
    return b"\xff\xd8" + seg + b"\xff\xd9"


# 1x1 WebP bitstreams: VP8L signature + packed size, and a VP8 key frame
# tag + start code + size
_VP8L = b"\x2f" + bytes(4) + bytes(8)
_VP8 = b"\x10\x02\x00\x9d\x01\x2a" + struct.pack("<HH", 1, 1) + bytes(8)

# blobs in formats the built-in codecs do not decode
_BLOBS = {
    "jpeg-lossless": _jpeg_header(0xC3),
    "jpeg-baseline": _jpeg_header(0xC0),
    "jpeg-progressive": _jpeg_header(0xC2),
    "webp-lossless": _riff(b"WEBP", (b"VP8L", _VP8L)),
    "webp-lossy": _riff(b"WEBP", (b"VP8 ", _VP8)),
    "webp-animated": _riff(
        b"WEBP",
        (b"VP8X", b"\x02" + bytes(9)),
        (b"ANIM", bytes(6)),
        (b"ANMF", bytes(16) + b"VP8L" + struct.pack("<I", len(_VP8L)) + _VP8L),
        (b"ANMF", bytes(16) + b"VP8 " + struct.pack("<I", len(_VP8)) + _VP8),
    ),
    # hdrl header list + a movi list holding one MJPEG frame chunk
    "avi": _riff(
        b"AVI ",
        (b"LIST", b"hdrl" + b"avih" + struct.pack("<I", 56) + bytes(56)),
        (b"LIST", b"movi" + b"00dc" + struct.pack("<I", 4) + b"\xff\xd8\xff\xd9"),
    ),
    "mp4": b"\x00\x00\x00\x18ftypmp42" + bytes(range(256)),
}


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "a.png").write_bytes(_tiny_png())
    (d / "b.wav").write_bytes(_tiny_wav())
    (d / "c.jpg").write_bytes(_BLOBS["jpeg-lossless"])
    (d / "d.mp4").write_bytes(_BLOBS["mp4"])
    return str(d)


def test_media_table_types_and_metadata(spark, media_dir):
    mt = media_table_from_files(spark, media_dir + "/*")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in attach_media_metadata(mt).collect()}
    assert rows["a.png"].media_type == "image"
    assert rows["b.wav"].media_type == "audio"
    assert rows["c.jpg"].media_type == "image"
    assert rows["d.mp4"].media_type == "video"
    assert rows["a.png"].sniffed_format == "png"
    assert rows["b.wav"].sniffed_format == "wav"
    assert rows["c.jpg"].sniffed_format == "jpeg"
    assert rows["d.mp4"].sniffed_format == "unknown"
    # sha256 matches a local hash of the same bytes
    assert rows["a.png"].sha256 == hashlib.sha256(_tiny_png()).hexdigest()
    assert rows["a.png"].n_bytes == len(_tiny_png())


def test_decode_batch_real_png(spark, media_dir):
    mt = media_table_from_files(spark, media_dir + "/*.png")
    out = decode_image_batch(mt)
    assert out.columns == ["path", "width", "height", "channels"]
    row = out.collect()[0]
    # real decode of the 1x1 grayscale PNG
    assert (row.width, row.height, row.channels) == (1, 1, 1)


def test_decode_batch_unsupported_modes(spark, media_dir):
    jpgs = media_table_from_files(spark, media_dir + "/*.jpg")
    with pytest.raises(Exception, match="Pillow|NotImplemented"):
        decode_image_batch(jpgs).collect()
    stubbed = decode_image_batch(jpgs, on_unsupported="stub").collect()
    assert len(stubbed) == 1 and stubbed[0].channels == 3
    assert decode_image_batch(jpgs, on_unsupported="skip").count() == 0


@pytest.mark.parametrize(
    "fmt",
    ["jpeg-lossless", "jpeg-baseline", "jpeg-progressive", "webp-lossless",
     "webp-lossy", "avi"],
)
def test_gated_formats_follow_on_unsupported(spark, tmp_path, fmt):
    """No built-in decoder for JPEG, WebP or AVI: decode, resize and pHash
    raise NotImplementedError under 'error' and follow the opt-ins."""
    blob = _BLOBS[fmt]
    (tmp_path / ("x." + fmt.split("-")[0])).write_bytes(blob)
    mt = media_table_from_files(spark, str(tmp_path) + "/*")
    for stage in (decode_image_batch, image_phash_batch,
                  lambda df, **kw: resize_images(df, 8, 8, **kw)):
        with pytest.raises(Exception, match="NotImplementedError"):
            stage(mt).collect()
        assert stage(mt, on_unsupported="skip").count() == 0
    stubbed = decode_image_batch(mt, on_unsupported="stub").collect()
    assert len(stubbed) == 1 and stubbed[0].channels == 3
    passed = resize_images(mt, 8, 8, on_unsupported="passthrough").collect()
    assert [bytes(r.content) for r in passed] == [blob]


def test_decode_audio_real_wav(spark, media_dir):
    mt = media_table_from_files(spark, media_dir + "/*.wav")
    row = decode_audio_batch(mt).collect()[0]
    assert (row.sample_rate, row.n_channels, row.n_frames) == (8000, 1, 4)
    assert row.duration_s == round(4 / 8000, 6)


def test_extract_features_fixed_dim(spark, media_dir):
    mt = media_table_from_files(spark, media_dir + "/*")
    out = extract_image_features(mt, dim=16).collect()
    assert len(out) == 4
    assert all(len(r.features) == 16 for r in out)
    assert all(0.0 <= x <= 1.0 for r in out for x in r.features)


def test_extract_features_real_pixels(spark, tmp_path):
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import encode_png

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:, :, 0] = 255  # solid red
    (tmp_path / "red.png").write_bytes(encode_png(img))
    mt = media_table_from_files(spark, str(tmp_path) + "/*.png")
    f = extract_image_features(mt, dim=8).collect()[0].features
    # [Rmean, Rstd, Gmean, Gstd, Bmean, Bstd, hist×2]; gray=85 → low bin
    assert abs(f[0] - 1.0) < 1e-6 and abs(f[1]) < 1e-6
    assert abs(f[2]) < 1e-6 and abs(f[4]) < 1e-6
    assert abs(f[6] - 1.0) < 1e-6 and abs(f[7]) < 1e-6


def test_resize_real_png_reencode(spark, media_dir):
    from astro_sdk_spark.multimodal.codecs import decode_png

    mt = media_table_from_files(spark, media_dir + "/*.png")
    out = resize_images(mt, 32, 32)
    row = out.collect()[0]
    assert (row.width, row.height) == (32, 32)
    # the output blob is a valid PNG of the target size
    arr = decode_png(bytes(row.content))
    assert arr.shape == (32, 32, 1)


def test_resize_passthrough_for_unsupported(spark, media_dir):
    mt = media_table_from_files(spark, media_dir + "/*.jpg")
    row = resize_images(mt, 32, 32, on_unsupported="passthrough").collect()[0]
    # the fixture is the lossless-JPEG stub — gated, passed through
    assert bytes(row.content).startswith(b"\xff\xd8\xff\xc3")


@pytest.mark.parametrize(
    "fmt", ["mp4", "avi", "webp-animated", "jpeg-baseline", "webp-lossless",
            "webp-lossy"],
)
def test_frame_sample_explodes_rows(spark, tmp_path, fmt):
    """Containers without a built-in decoder take the byte-slice stub:
    frame_idx is a byte offset and each frame the bytes at it."""
    blob = _BLOBS[fmt]
    (tmp_path / "v.bin").write_bytes(blob)
    mt = media_table_from_files(spark, str(tmp_path) + "/*")
    out = frame_sample_video(mt, every_n=30, max_frames=8).collect()
    assert len(out) == min(8, max(1, len(blob) // 30))
    for r in out:
        assert bytes(r.frame) == blob[r.frame_idx : r.frame_idx + 30]


def _wav_bytes(samples, sr=8000):
    """16-bit mono WAV from a float array in [-1, 1]."""
    import numpy as np

    pcm = (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    return _riff(b"WAVE", (b"fmt ", fmt), (b"data", pcm))


def test_image_phash_stable_across_formats(spark, tmp_path):
    """The same picture saved as PNG and as a 2x-upscaled 24-bit BMP must
    land within a few Hamming bits; a structurally different picture must
    be far."""
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import encode_png, resize_nearest

    yy, xx = np.mgrid[0:64, 0:64]
    img = np.stack(
        [
            ((xx // 8 + yy // 8) % 2) * 255,
            xx * 255 // 63,
            yy * 255 // 63,
        ],
        axis=-1,
    ).astype(np.uint8)
    other = img[::-1, ::-1].copy()
    other[..., 0] = 255 - other[..., 0]
    (tmp_path / "a.png").write_bytes(encode_png(img))
    big = resize_nearest(img, 128, 128)
    pix = big[::-1, :, ::-1].tobytes()  # bottom-up BGR rows, 4-byte aligned
    (tmp_path / "a2x.bmp").write_bytes(
        b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 128, 128, 1, 24, 0, len(pix), 0, 0, 0, 0)
        + pix
    )
    (tmp_path / "b.png").write_bytes(encode_png(other))
    mt = media_table_from_files(spark, str(tmp_path) + "/*")
    from astro_sdk_spark.multimodal.ops import phash_near_dup

    hashes = image_phash_batch(mt)
    got = {r.path.rsplit("/", 1)[-1]: r.phash for r in hashes.collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(got["a.png"], got["a2x.bmp"]) <= 10
    assert ham(got["a.png"], got["b.png"]) > 20
    # 16 blocks -> exhaustive recall for hamming <= 15
    pairs = phash_near_dup(hashes, max_hamming=10, n_blocks=16).collect()
    names = {
        tuple(sorted((p.id_a.rsplit("/", 1)[-1], p.id_b.rsplit("/", 1)[-1])))
        for p in pairs
    }
    assert ("a.png", "a2x.bmp") in names
    assert not any("b.png" in pair for pair in names)


def test_extract_audio_features_tones(spark, tmp_path):
    """A low tone and a high tone must fingerprint differently, and the
    same tone twice identically (deterministic DSP)."""
    import numpy as np

    t = np.arange(16000) / 8000.0
    (tmp_path / "low.wav").write_bytes(_wav_bytes(np.sin(2 * np.pi * 100 * t)))
    (tmp_path / "low2.wav").write_bytes(_wav_bytes(np.sin(2 * np.pi * 100 * t)))
    (tmp_path / "high.wav").write_bytes(_wav_bytes(np.sin(2 * np.pi * 3000 * t)))
    mt = media_table_from_files(spark, str(tmp_path) + "/*.wav")
    got = {
        r.path.rsplit("/", 1)[-1]: np.asarray(r.features)
        for r in extract_audio_features(mt).collect()
    }
    assert np.allclose(got["low.wav"], got["low2.wav"])
    cos = float(
        got["low.wav"] @ got["high.wav"]
        / (np.linalg.norm(got["low.wav"]) * np.linalg.norm(got["high.wav"]))
    )
    assert cos < 0.9
    # energy concentrates in different bands
    assert got["low.wav"].argmax() < got["high.wav"].argmax()


def test_corrupt_blob_respects_skip_policy(spark, tmp_path):
    """A truncated PNG (valid magic, cut IDAT stream) must be absorbed
    by skip/stub — one bad blob in a scraped corpus must not kill the
    job the caller asked to degrade gracefully."""
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import encode_png

    rng = np.random.default_rng(0)
    good = encode_png(rng.integers(0, 256, (16, 16, 3)).astype(np.uint8))
    (tmp_path / "ok.png").write_bytes(good)
    (tmp_path / "bad.png").write_bytes(good[:-20])
    mt = media_table_from_files(spark, str(tmp_path) + "/*.png")
    assert decode_image_batch(mt, on_unsupported="skip").count() == 1
    assert decode_image_batch(mt, on_unsupported="stub").count() == 2
    assert image_phash_batch(mt, on_unsupported="skip").count() == 1
    assert resize_images(mt, 8, 8, on_unsupported="skip").count() == 1
    with pytest.raises(Exception, match="truncated stream"):
        decode_image_batch(mt).collect()


@pytest.mark.parametrize("cut", ["header", "mid_sample"])
def test_corrupt_wav_respects_skip_policy(spark, tmp_path, cut):
    """A WAV cut off inside its header (EOFError) or mid-sample
    (ValueError) is dropped by 'skip' and by the fingerprint stage, as a
    non-WAV blob is, and still raises under 'error'."""
    import numpy as np

    good = _wav_bytes(np.sin(np.arange(4096) / 10.0))
    (tmp_path / "ok.wav").write_bytes(good)
    (tmp_path / "bad.wav").write_bytes(good[:20] if cut == "header" else good[:-1])
    mt = media_table_from_files(spark, str(tmp_path) + "/*.wav")
    kept = decode_audio_batch(mt, on_unsupported="skip").collect()
    assert [r.path.rsplit("/", 1)[-1] for r in kept] == ["ok.wav"]
    with pytest.raises(Exception, match="EOFError|ValueError"):
        decode_audio_batch(mt).collect()
    feats = extract_audio_features(mt).collect()
    assert [r.path.rsplit("/", 1)[-1] for r in feats] == ["ok.wav"]


def test_sniff_distinguishes_avi_from_wav(spark, tmp_path):
    (tmp_path / "v.avi").write_bytes(_BLOBS["avi"])
    (tmp_path / "s.wav").write_bytes(_tiny_wav())
    mt = attach_media_metadata(media_table_from_files(spark, str(tmp_path) + "/*"))
    rows = {r.path.rsplit("/", 1)[-1]: r.sniffed_format for r in mt.collect()}
    assert rows == {"v.avi": "avi", "s.wav": "wav"}
