"""multimodal/codecs.py: real PNG/BMP/GIF/WAV codecs (stdlib+numpy).

The PNG unfilter is verified against an independent, naive per-pixel
implementation of the PNG spec's filter recovery (not by round-tripping
through our own encoder alone), on IDAT streams crafted with every filter
type."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from astro_sdk_spark.multimodal.codecs import (
    decode_bmp,
    decode_png,
    decode_wav,
    encode_png,
    resize_nearest,
    sniff_image,
)

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_from_scanlines(w, h, ctype, scanlines: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines))
        + _chunk(b"IEND", b"")
    )


def _naive_unfilter(raw: bytes, w, h, ch) -> np.ndarray:
    """Independent reference: PNG filter recovery straight from the spec,
    pure Python, one byte at a time."""
    stride, bpp = w * ch, ch
    out = []
    prev = [0] * stride
    p = 0
    for _y in range(h):
        f = raw[p]
        line = list(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        cur = [0] * stride
        for i in range(stride):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            x = line[i]
            if f == 0:
                v = x
            elif f == 1:
                v = x + a
            elif f == 2:
                v = x + b
            elif f == 3:
                v = x + (a + b) // 2
            elif f == 4:
                pr = a + b - c
                pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                v = x + (a if pa <= pb and pa <= pc else (b if pb <= pc else c))
            cur[i] = v % 256
        out.append(cur)
        prev = cur
    return np.array(out, dtype=np.uint8).reshape(h, w, ch)


@pytest.mark.parametrize("ctype,ch", [(0, 1), (2, 3), (6, 4)])
def test_png_all_filters_match_spec_reference(ctype, ch):
    rng = np.random.RandomState(7)
    w, h = 5, 5
    stride = w * ch
    # one scanline per filter type 0..4
    raw = b"".join(
        bytes([f]) + rng.randint(0, 256, stride, dtype=np.uint8).tobytes()
        for f in range(5)
    )
    blob = _png_from_scanlines(w, h, ctype, raw)
    got = decode_png(blob)
    expect = _naive_unfilter(raw, w, h, ch)
    assert np.array_equal(got, expect)


def test_png_roundtrip_rgb():
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_roundtrip_gray_2d_input():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = decode_png(encode_png(img))
    assert out.shape == (3, 4, 1)
    assert np.array_equal(out[:, :, 0], img)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        decode_png(b"notapng")
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    blob = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(blob)


def _bmp_24(w, h, pixels_rgb: np.ndarray) -> bytes:
    """Hand-build a bottom-up 24-bit BI_RGB BMP."""
    row_bytes = ((w * 3 + 3) // 4) * 4
    body = b""
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = b""
        for x in range(w):
            r, g, b = pixels_rgb[y, x]
            row += bytes([b, g, r])
        body += row + b"\x00" * (row_bytes - len(row))
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
    return hdr + dib + body


def test_bmp_decode_pixels_and_orientation():
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    got = decode_bmp(_bmp_24(2, 2, px))
    assert got.shape == (2, 2, 3)
    assert np.array_equal(got, px)


def test_wav_decode_stdlib():
    import io
    import wave

    buf = io.BytesIO()
    samples = (np.sin(np.linspace(0, 20, 800)) * 30000).astype(np.int16)
    with wave.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(16000)
        f.writeframes(np.repeat(samples, 2).tobytes())
    sr, arr = decode_wav(buf.getvalue())
    assert sr == 16000
    assert arr.shape == (800, 2)
    assert np.array_equal(arr[:, 0], samples)


def test_resize_nearest_quadrants():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:2, :2] = [255, 0, 0]
    img[:2, 2:] = [0, 255, 0]
    img[2:, :2] = [0, 0, 255]
    img[2:, 2:] = [255, 255, 0]
    out = resize_nearest(img, 2, 2)
    assert np.array_equal(
        out,
        np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 0]]],
            dtype=np.uint8,
        ),
    )
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8, 3)
    assert np.array_equal(up[0, 0], [255, 0, 0]) and np.array_equal(up[7, 7], [255, 255, 0])


def test_sniff():
    assert sniff_image(PNG_SIG + b"x") == "png"
    assert sniff_image(b"BMxxxx") == "bmp"
    assert sniff_image(b"\xff\xd8\xff") == "jpeg"
    assert sniff_image(b"GIF89a") == "gif"
    assert sniff_image(b"\x00\x01\x02\x03") is None


def test_jpeg_lossless_still_gated():
    """Lossless (SOF3) JPEG has no built-in decoder: the shared dispatch
    raises NotImplementedError rather than a corrupt-data error."""
    from astro_sdk_spark.multimodal.ops import _decode_image_array

    sof3 = struct.pack(">BBHBHHB", 0xFF, 0xC3, 11, 8, 1, 1, 1) + bytes(
        [1, 0x11, 0]
    )
    with pytest.raises(NotImplementedError, match="JPEG"):
        _decode_image_array(b"\xff\xd8" + sof3 + b"\xff\xd9")


# -------------------------------------------------------------------- gif


def _gif_bytes(idx, palette, interlace=False, transparent=None, version=b"89a"):
    """Hand-assembled GIF using the classic 'uncompressed LZW' trick:
    every index is emitted as a literal code with a clear code before
    the dictionary could grow past the initial width."""
    import struct as _struct

    import numpy as np

    idx = np.asarray(idx)
    h, w = idx.shape
    n = len(palette)
    size_field = max(1, (n - 1).bit_length() - 1)  # GCT size exponent - 1
    while (2 << size_field) < n:
        size_field += 1
    out = bytearray(b"GIF" + version)
    out += _struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field, 0, 0])
    for r, g, b in palette:
        out += bytes([r, g, b])
    out += b"\x00" * 3 * ((2 << size_field) - n)
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    out += b"\x2C" + _struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    min_code = max(2, size_field + 1)
    clear, width = 1 << min_code, min_code + 1
    rows = idx
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = idx[order]
    codes = []
    for v in rows.reshape(-1):
        codes += [clear, int(v)]
    codes.append(clear + 1)  # end
    acc = nbits = 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3B"
    return bytes(out)


def test_gif_decode_palette_image():
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import decode_gif

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0], [1, 1, 2, 2]])
    arr = decode_gif(_gif_bytes(idx, pal))
    assert arr.shape == (3, 4, 3)
    for y in range(3):
        for x in range(4):
            assert tuple(arr[y, x]) == pal[idx[y, x]]


def test_gif_interlaced_and_transparent():
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import decode_gif

    pal = [(0, 0, 0), (255, 255, 255), (128, 0, 128), (0, 128, 0)]
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 4, (9, 5))
    arr = decode_gif(_gif_bytes(idx, pal, interlace=True))
    for y in range(9):
        for x in range(5):
            assert tuple(arr[y, x]) == pal[idx[y, x]], (y, x)
    # transparency adds an alpha channel: 0 where idx == transparent
    arr = decode_gif(_gif_bytes(idx, pal, transparent=2))
    assert arr.shape == (9, 5, 4)
    assert ((arr[..., 3] == 0) == (idx == 2)).all()


def test_gif_real_lzw_dictionary_growth():
    """A repetitive image makes real LZW emit dictionary codes — decode
    must still be exact (this exercises the prev+entry[0] growth path,
    not just literals)."""
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import _lzw_decode, decode_gif

    # hand-build a real LZW stream: abababab... over a 2-symbol alphabet
    # min_code=2: clear=4, end=5; encode 'ababab ab' naively:
    # we just verify _lzw_decode against a known-compressible sequence
    # produced by the reference algorithm below.
    def lzw_encode(seq, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        dict_ = {(i,): i for i in range(clear)}
        next_code = end + 1
        width = min_code + 1
        codes = [clear]
        wseq = ()
        for s in seq:
            if wseq + (s,) in dict_:
                wseq = wseq + (s,)
                continue
            codes.append(dict_[wseq])
            dict_[wseq + (s,)] = next_code
            next_code += 1
            wseq = (s,)
        if wseq:
            codes.append(dict_[wseq])
        codes.append(end)
        # pack with the GIF variable-width rule (width grows when the
        # NEXT code would not fit)
        out = bytearray()
        acc = nbits = 0
        width = min_code + 1
        ncode = end + 1
        for i, c in enumerate(codes):
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
            if i == 0:
                continue  # clear code
            if c != clear and c != end:
                pass
            # emitted one code; decoder adds a dict entry per code after
            # the first — mirror its width bump
            if i >= 1 and c not in (clear, end):
                if ncode == (1 << width) and width < 12:
                    width += 1
                if c != end:
                    ncode += 1
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    seq = [0, 1] * 40 + [2, 3] * 10 + [0] * 20
    encoded = lzw_encode(seq, 2)
    assert _lzw_decode(encoded, 2, len(seq)) == seq


def test_gif_batch_decode_and_resize(spark, tmp_path):
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import decode_png
    from astro_sdk_spark.multimodal.ops import (
        decode_image_batch,
        media_table_from_files,
        resize_images,
    )

    pal = [(i * 16, 0, 255 - i * 16) for i in range(16)]
    idx = np.arange(64).reshape(8, 8) % 16
    (tmp_path / "p.gif").write_bytes(_gif_bytes(idx, pal))
    mt = media_table_from_files(spark, str(tmp_path) + "/*.gif")
    row = decode_image_batch(mt).collect()[0]
    assert (row.width, row.height, row.channels) == (8, 8, 3)
    rrow = resize_images(mt, 4, 4).collect()[0]
    assert decode_png(bytes(rrow.content)).shape == (4, 4, 3)


def test_extract_features_gif_pixels_and_corrupt_fallback(spark, tmp_path):
    """extract_image_features decodes through the shared dispatch: a GIF
    gets real pixel features, and a truncated PNG (zlib fails on the cut
    IDAT stream) gets the documented sha256 pseudo-features instead of
    failing the job."""
    import hashlib

    from astro_sdk_spark.multimodal.ops import (
        extract_image_features,
        media_table_from_files,
    )

    (tmp_path / "red.gif").write_bytes(
        _gif_bytes(np.zeros((4, 4), int), [(255, 0, 0), (0, 0, 0)])
    )
    rng = np.random.default_rng(0)
    png = encode_png(rng.integers(0, 256, (16, 16, 3)).astype(np.uint8))
    bad = png[:-20]
    (tmp_path / "cut.png").write_bytes(bad)
    mt = media_table_from_files(spark, str(tmp_path) + "/*")
    got = {
        r.path.rsplit("/", 1)[-1]: r.features
        for r in extract_image_features(mt, dim=8).collect()
    }
    # [Rmean, Rstd, Gmean, Gstd, Bmean, Bstd, hist×2]; gray=85 → low bin
    assert got["red.gif"] == pytest.approx([1, 0, 0, 0, 0, 0, 1, 0], abs=1e-6)
    sha = hashlib.sha256(bad).digest()
    assert got["cut.png"] == pytest.approx([sha[i] / 255.0 for i in range(8)])


def _gif_anim_bytes(sw, sh, palette, frames):
    """Multi-frame GIF89a: frames = [(ix, iy, idx2d, transparent,
    delay_cs, disposal), ...] — same uncompressed-LZW trick as
    _gif_bytes, plus graphic-control extensions."""
    import struct as _struct

    import numpy as np

    n = len(palette)
    size_field = max(1, (n - 1).bit_length() - 1)
    while (2 << size_field) < n:
        size_field += 1
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", sw, sh)
    out += bytes([0x80 | size_field, 0, 0])
    for r, g, b in palette:
        out += bytes([r, g, b])
    out += b"\x00" * 3 * ((2 << size_field) - n)
    min_code = max(2, size_field + 1)
    clear, width = 1 << min_code, min_code + 1
    for (ix, iy, idx, transparent, delay, disposal) in frames:
        idx = np.asarray(idx)
        h, w = idx.shape
        flags = (disposal << 2) | (0x01 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, flags, delay & 0xFF, delay >> 8,
                      transparent or 0, 0])
        out += b"\x2C" + _struct.pack("<HHHH", ix, iy, w, h) + b"\x00"
        codes = []
        for v in idx.reshape(-1):
            codes += [clear, int(v)]
        codes.append(clear + 1)
        acc = nbits = 0
        data = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                data.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            data.append(acc & 0xFF)
        out += bytes([min_code])
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def test_gif_animation_frames_composite():
    """decode_gif_frames composites per GIF89a: transparent pixels keep
    the canvas, disposal 2 clears the frame rect, disposal 3 restores
    the pre-frame canvas; delays convert centiseconds → ms."""
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import decode_gif_frames

    pal = [(250, 10, 10), (10, 250, 10), (10, 10, 250), (0, 0, 0)]
    full = np.zeros((8, 8), int)              # all red
    patch = np.full((4, 4), 1, int)           # green patch
    patch_t = np.array([[1, 3], [3, 1]])      # green + transparent(3)
    frames, delays = decode_gif_frames(_gif_anim_bytes(8, 8, pal, [
        (0, 0, full, None, 5, 0),
        (2, 2, patch, None, 10, 3),           # restore-previous after
        (0, 0, patch, None, 15, 2),           # clear own rect after
        (4, 4, patch_t, 3, 20, 0),            # transparency keeps canvas
    ]))
    assert delays == [50, 100, 150, 200]
    assert (frames[0][..., :3] == (250, 10, 10)).all()
    assert (frames[0][..., 3] == 255).all()
    # frame 1: green patch at (2,2) over red
    assert (frames[1][2:6, 2:6, :3] == (10, 250, 10)).all()
    assert (frames[1][0, 0, :3] == (250, 10, 10)).all()
    # frame 2: disposal-3 restored frame 0 before drawing at (0,0)
    assert (frames[2][0:4, 0:4, :3] == (10, 250, 10)).all()
    assert (frames[2][2:6, 4:6, :3] == (250, 10, 10)).all()
    # frame 3: frame 2's rect was cleared to transparent; the
    # transparent-index pixels at (4,4) keep whatever the canvas held
    assert (frames[3][0:4, 0:4, 3] == 0).all()
    assert frames[3][4, 4, :3].tolist() == [10, 250, 10]
    assert frames[3][4, 5].tolist() == list(frames[2][4, 5])


def test_gif_still_is_padded_frame_zero():
    """decode_gif is frame 0 of decode_gif_frames: RGB when no
    transparent index is declared, RGBA when one is, and zero padding
    outside a frame smaller than the logical screen."""
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import decode_gif, decode_gif_frames

    pal = [(250, 10, 10), (10, 250, 10), (10, 10, 250), (0, 0, 0)]
    patch = np.array([[0, 1, 2], [2, 1, 0]])
    for transparent, channels in [(None, 3), (1, 4)]:
        blob = _gif_anim_bytes(6, 5, pal, [
            (2, 1, patch, transparent, 10, 0),
            (0, 0, np.full((5, 6), 2, int), None, 10, 0),
        ])
        arr = decode_gif(blob)
        assert arr.shape == (5, 6, channels)
        assert np.array_equal(arr, decode_gif_frames(blob)[0][0][..., :channels])
        assert not arr[0].any() and not arr[:, :2].any() and not arr[:, 5].any()
        assert tuple(arr[1, 2, :3]) == pal[0]


def test_gif_animation_frame_sampling(spark, tmp_path):
    """Animated .gif flows through frame_sample_video as composited
    PNG frames; frame_idx is the frame number."""
    import numpy as np

    from astro_sdk_spark.multimodal.codecs import (
        decode_gif_frames,
        decode_png,
    )
    from astro_sdk_spark.multimodal.ops import (
        frame_sample_video,
        media_table_from_files,
    )

    pal = [(i * 60 % 256, 255 - i * 60 % 256, 30) for i in range(4)]
    frames = [(0, 0, np.full((8, 8), k, int), None, 10, 0) for k in range(4)]
    blob = _gif_anim_bytes(8, 8, pal, frames)
    (tmp_path / "anim.gif").write_bytes(blob)
    mt = media_table_from_files(spark, str(tmp_path) + "/*.gif")
    rows = sorted(frame_sample_video(mt, every_n=2, max_frames=8).collect(),
                  key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 2]
    ref, _d = decode_gif_frames(blob)
    for r in rows:
        assert np.array_equal(decode_png(bytes(r.frame)), ref[r.frame_idx])
