"""Real, dependency-free media codecs (stdlib + numpy only).

Pillow/librosa/av are not dependencies, so the decoders here are the ones
``zlib``/``struct``/``wave`` + numpy can carry cheaply: PNG (8-bit, all
filters, palette, Adam7), uncompressed BMP, GIF (full LZW, interlace,
transparency, animation compositing) and PCM WAV. Every other format —
JPEG, WebP, MP3, H.264, … — is recognised by magic bytes where useful but
not decoded; ``multimodal.ops`` routes it through the ``on_unsupported``
gate (error | stub | skip | passthrough).

Throughput note: these codecs favor clarity over speed (the PNG unfilter
walks filtered rows byte-wise); at production scale swap the per-blob
decode function for Pillow/turbojpeg inside the same mapInPandas stage —
the Spark-side contract (Arrow batch in, rows out) does not change.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type → channel count (8-bit depth, non-interlaced support)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_CTYPE = {1: 0, 3: 2, 2: 4, 4: 6}  # channels → color type


# Adam7 interlace passes: (x0, y0, dx, dy)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, p: int, w: int, h: int, ch: int) -> tuple:
    """Recover one (sub-)image's scanlines starting at byte offset p;
    returns ((h, w*ch) uint8 array, next offset)."""
    stride, bpp = w * ch, ch
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        if p >= len(raw):
            raise ValueError("PNG scanline data length mismatch")
        f = raw[p]
        if p + 1 + stride > len(raw):
            raise ValueError("PNG scanline data length mismatch")
        line = np.frombuffer(raw, np.uint8, stride, p + 1).astype(np.int32)
        p += 1 + stride
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 255
        elif f in (1, 3, 4):  # Sub / Average / Paeth — sequential in x
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    v = line[i] + a
                elif f == 3:
                    v = line[i] + (a + b) // 2
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[i] + pred
                cur[i] = v & 255
        else:
            raise ValueError(f"bad PNG filter byte {f}")
        out[y] = cur
        prev = cur
    return out, p


def decode_png(blob: bytes) -> np.ndarray:
    """PNG → (H, W, C) uint8 array. Supports 8-bit gray / gray+alpha /
    RGB / RGBA, PALETTE images (PLTE + optional tRNS → RGB/RGBA), and
    Adam7 INTERLACED streams (each pass unfiltered as its own
    sub-image, §4.5.2/§13.? of the spec); 16-bit depth and sub-byte
    palette depths raise."""
    if not blob.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos, idat, hdr = len(PNG_SIG), [], None
    plte = trns = None
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if typ == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = np.frombuffer(data[: 3 * (len(data) // 3)],
                                 np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = np.frombuffer(data, np.uint8)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if hdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, ctype, _comp, _filt, interlace = hdr
    paletted = ctype == 3
    if depth != 8 or interlace not in (0, 1) or (
            ctype not in _PNG_CHANNELS and not paletted):
        raise NotImplementedError(
            f"PNG depth={depth} ctype={ctype} interlace={interlace} "
            "not supported by the built-in codec (needs Pillow)"
        )
    if paletted and plte is None:
        raise ValueError("paletted PNG without PLTE chunk")
    ch = 1 if paletted else _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        out, p = _png_unfilter(raw, 0, w, h, ch)
        if p != len(raw):
            raise ValueError("PNG scanline data length mismatch")
        img = out.reshape(h, w, ch)
    else:
        img = np.zeros((h, w, ch), dtype=np.uint8)
        p = 0
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, p = _png_unfilter(raw, p, pw, ph, ch)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, ch)
        if p != len(raw):
            raise ValueError("PNG scanline data length mismatch")
    if paletted:
        idx = img[..., 0]
        if int(idx.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(256, 255, np.uint8)
            alpha[: len(trns)] = trns
            return np.ascontiguousarray(np.dstack([rgb, alpha[idx]]))
        return np.ascontiguousarray(rgb)
    return img


def encode_png(arr: np.ndarray) -> bytes:
    """(H, W) or (H, W, C) uint8 → PNG bytes (filter 0, 8-bit)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if ch not in _PNG_CTYPE:
        raise ValueError(f"cannot encode {ch}-channel image")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_CTYPE[ch], 0, 0, 0)
    rows = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(rows, 6))
        + chunk(b"IEND", b"")
    )


def decode_bmp(blob: bytes) -> np.ndarray:
    """Uncompressed (BI_RGB) 24/32-bit BMP → (H, W, 3|4) uint8, top-down,
    channels converted BGR(A)→RGB(A)."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", blob, 10)
    w, h = struct.unpack_from("<ii", blob, 18)
    (bpp,) = struct.unpack_from("<H", blob, 28)
    (compression,) = struct.unpack_from("<I", blob, 30)
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={compression} not supported "
            "by the built-in codec"
        )
    bottom_up, h = h > 0, abs(h)
    nch = bpp // 8
    row_bytes = ((w * nch + 3) // 4) * 4
    rows = np.frombuffer(blob, np.uint8, h * row_bytes, data_off)
    img = rows.reshape(h, row_bytes)[:, : w * nch].reshape(h, w, nch)
    if bottom_up:
        img = img[::-1]
    # BGR(A) → RGB(A)
    order = [2, 1, 0] + ([3] if nch == 4 else [])
    return np.ascontiguousarray(img[:, :, order])


def decode_wav(blob: bytes) -> tuple[int, np.ndarray]:
    """WAV → (sample_rate, (n_frames, n_channels) int array) via the
    stdlib ``wave`` module (PCM 8/16/32-bit)."""
    with wave.open(io.BytesIO(blob)) as f:
        sr, nch, sw = f.getframerate(), f.getnchannels(), f.getsampwidth()
        frames = f.readframes(f.getnframes())
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sw)
    if dtype is None:
        raise NotImplementedError(f"WAV sample width {sw} not supported")
    samples = np.frombuffer(frames, dtype=dtype).reshape(-1, nch)
    return sr, samples


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (H, W, C) array."""
    h, w = arr.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return np.ascontiguousarray(arr[rows][:, cols])


def sniff_image(blob: bytes) -> str | None:
    """Magic-byte sniff for still-image formats. JPEG and WebP are named
    so callers can report them, but only PNG/BMP/GIF decode here."""
    if blob[:8] == PNG_SIG:
        return "png"
    if blob[:2] == b"BM":
        return "bmp"
    if blob[:2] == b"\xff\xd8":
        return "jpeg"
    if blob[:4] == b"GIF8":
        return "gif"
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        return "webp"
    return None


def decode_gif(blob: bytes) -> np.ndarray:
    """GIF87a/89a → (H, W, 3|4) uint8: the first frame of
    :func:`decode_gif_frames` on the logical screen, padded with zeros
    where the frame is smaller. 4 channels only when that frame declares
    a transparent index (its pixels get alpha 0); otherwise RGB."""
    for frame, _delay_ms, has_alpha in _iter_gif_frames(bytes(blob)):
        return frame if has_alpha else np.ascontiguousarray(frame[..., :3])
    raise ValueError("gif: no image data")


def decode_gif_frames(blob: bytes):
    """Animated (or still) GIF → (frames, delays_ms): composited
    (H, W, 4) canvases per the GIF89a model — graphic-control disposal
    (keep / restore-to-background / restore-to-previous), per-frame
    transparency, local palettes, interlace. Restore-to-background
    clears to fully transparent (the modern-decoder convention rather
    than the literal background index)."""
    frames: list[np.ndarray] = []
    delays: list[int] = []
    for frame, delay_ms, _has_alpha in _iter_gif_frames(bytes(blob)):
        frames.append(frame)
        delays.append(delay_ms)
    if not frames:
        raise ValueError("gif: no image data")
    return frames, delays


def _iter_gif_frames(blob: bytes):
    """Yield ``(canvas, delay_ms, has_transparent_index)`` per image of
    the block stream, lazily, so a still decode stops after frame 0. Full
    LZW decode with variable code widths and dictionary resets,
    local/global palettes and the 4-pass interlace order — stdlib only."""
    if blob[:4] != b"GIF8" or blob[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF (bad signature)")
    sw, sh = struct.unpack("<HH", blob[6:10])
    packed = blob[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(blob[pos:pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((sh, sw, 4), dtype=np.uint8)
    transparent = None
    delay_cs = 0
    disposal = 0
    while pos < len(blob):
        b = blob[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = blob[pos + 1]
            pos += 2
            if label == 0xF9 and blob[pos] >= 4:  # graphic control
                flags = blob[pos + 1]
                delay_cs = blob[pos + 2] | (blob[pos + 3] << 8)
                disposal = (flags >> 2) & 0x07
                transparent = blob[pos + 4] if flags & 0x01 else None
            while blob[pos]:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02X}")
        ix, iy, iw, ih = struct.unpack("<HHHH", blob[pos + 1:pos + 9])
        ipacked = blob[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(blob[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("gif: no palette")
        interlaced = bool(ipacked & 0x40)
        min_code = blob[pos]
        pos += 1
        data = bytearray()
        while blob[pos]:
            ln = blob[pos]
            data += blob[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        indices = _lzw_decode(bytes(data), min_code, iw * ih)
        idx = np.asarray(indices[: iw * ih], dtype=np.int32).reshape(ih, iw)
        if interlaced:
            out = np.empty_like(idx)
            rows = (
                list(range(0, ih, 8)) + list(range(4, ih, 8))
                + list(range(2, ih, 4)) + list(range(1, ih, 2))
            )
            for src_r, dst_r in enumerate(rows):
                out[dst_r] = idx[src_r]
            idx = out
        if ix + iw > sw or iy + ih > sh:
            raise ValueError("gif: frame rectangle outside logical screen")
        prev = canvas.copy() if disposal == 3 else None
        rgb = pal[np.clip(idx, 0, len(pal) - 1)]
        region = canvas[iy:iy + ih, ix:ix + iw]
        if transparent is not None:
            opaque = idx != transparent
            region[opaque, :3] = rgb[opaque]
            region[opaque, 3] = 255
        else:
            region[..., :3] = rgb
            region[..., 3] = 255
        yield canvas.copy(), delay_cs * 10, transparent is not None
        if disposal == 2:  # restore to background
            canvas[iy:iy + ih, ix:ix + iw] = 0
        elif disposal == 3 and prev is not None:  # restore to previous
            canvas = prev
        transparent = None
        delay_cs = 0
        disposal = 0


def _lzw_decode(data: bytes, min_code: int, max_pixels: int) -> list[int]:
    """GIF-flavor LZW: variable code width (min_code+1 .. 12 bits, LSB
    first), clear/end codes, dictionary capped at 4096 entries."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    dictionary: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                dictionary = [[i] for i in range(clear)] + [[], []]
                width = min_code + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = dictionary[code]
            elif code < len(dictionary) and dictionary[code]:
                entry = dictionary[code]
                dictionary.append(prev + [entry[0]])
            elif code == len(dictionary):
                entry = prev + [prev[0]]
                dictionary.append(entry)
            else:
                raise ValueError("gif: corrupt LZW stream")
            # widen AFTER appending, per GIF LZW (deferred clear allowed)
            if len(dictionary) == (1 << width) and width < 12:
                width += 1
            out += entry
            prev = entry
            if len(out) >= max_pixels:
                return out
    return out
