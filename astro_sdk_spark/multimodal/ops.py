"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched pandas UDFs.

Decode is REAL for PNG, uncompressed BMP, GIF (incl. animation) and WAV
via the stdlib+numpy codecs in ``multimodal.codecs`` (decode, pixel resize
+ PNG re-encode, perceptual hashing, PCM samples, spectral fingerprints).
Every other format (JPEG, WebP, MP3, H.264, …) and every corrupt blob
raises unless the caller opts into ``on_unsupported="stub"``
(deterministic fake dims), ``"skip"`` or, for resize, ``"passthrough"``.
Swapping in Pillow/turbojpeg changes one per-blob function
(:func:`_decode_image_array`), not the pipeline.

Scale notes:
- ``spark.read.format("binaryFile")`` splits per file across executors;
  pair with ``spark.sql.files.maxPartitionBytes`` for many-small-files.
- decode/feature UDFs run on Arrow batches (mapInPandas) — batch size
  bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
  large blobs fits executor memory.
- blobs stay opaque bytes end-to-end; only metadata/features shuffle.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Typed metadata contract for a media table.
MEDIA_SCHEMA = (
    "path string, modification_time timestamp, length long, content binary, "
    "media_type string"
)

_IMAGE_EXT = {".png", ".jpg", ".jpeg", ".gif", ".bmp", ".webp"}
_AUDIO_EXT = {".wav", ".mp3", ".flac", ".ogg"}
_VIDEO_EXT = {".mp4", ".avi", ".mkv", ".webm"}


def media_table_from_files(
    spark: SparkSession, path_glob: str, media_type: str | None = None
) -> DataFrame:
    """Binary-file scan → media table (path, mtime, length, content bytes,
    media_type inferred from extension unless given)."""
    df = spark.read.format("binaryFile").load(path_glob)
    if media_type is not None:
        mt = F.lit(media_type)
    else:
        ext = F.lower(F.regexp_extract("path", r"(\.[A-Za-z0-9]+)$", 1))
        mt = (
            F.when(ext.isin(*_IMAGE_EXT), "image")
            .when(ext.isin(*_AUDIO_EXT), "audio")
            .when(ext.isin(*_VIDEO_EXT), "video")
            .otherwise("binary")
        )
    return df.withColumn("media_type", mt)


def attach_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap metadata derivable without decode: byte length, sha256,
    magic-byte sniffing — all built-ins / deterministic."""
    c = F.col(content_col)
    magic = F.hex(F.substring(c, 1, 4))
    riff_type = F.hex(F.substring(c, 9, 4))  # RIFF form type at offset 8
    return (
        df.withColumn("n_bytes", F.length(c))
        .withColumn("sha256", F.sha2(c, 256))
        .withColumn(
            "sniffed_format",
            F.when(magic.startswith("89504E47"), "png")
            .when(magic.startswith("FFD8"), "jpeg")
            .when(
                magic.startswith("52494646"),
                # RIFF containers split by form type: 'AVI ' vs 'WAVE'
                F.when(riff_type == F.lit("41564920"), F.lit("avi"))
                .when(riff_type == F.lit("57415645"), F.lit("wav"))
                .otherwise(F.lit("riff")),
            )
            .when(magic.startswith("47494638"), "gif")
            .otherwise("unknown"),
        )
    )


def _decode_image_stub(blob: bytes) -> tuple[int, int, int]:
    """Deterministic fake (width, height, channels) from the byte content —
    the opt-in fallback for formats the built-in codecs can't read."""
    if blob is None or len(blob) == 0:
        raise NotImplementedError("empty blob — real decoder would raise corrupt-image")
    h = hashlib.sha256(blob).digest()
    return (64 + h[0] % 192, 64 + h[1] % 192, 3)


def _decode_image_array(blob: bytes):
    """(H, W, C) array via the built-in codecs, dispatched on magic bytes.

    Raises NotImplementedError for formats (JPEG, WebP, …) or in-format
    variants (16-bit PNG, compressed BMP) the codecs gate, and
    ValueError/other errors for corrupt data in a supported format. The
    ONE dispatch site shared by decode/resize/phash/features so the
    format list can't drift between them."""
    from astro_sdk_spark.multimodal import codecs

    fmt = codecs.sniff_image(blob)
    if fmt == "png":
        return codecs.decode_png(blob)
    if fmt == "bmp":
        return codecs.decode_bmp(blob)
    if fmt == "gif":
        return codecs.decode_gif(blob)
    raise NotImplementedError(
        "built-in codecs decode PNG/BMP/GIF only; JPEG, WebP and other "
        "formats need an external codec such as Pillow — pass a "
        "non-'error' on_unsupported to proceed"
    )


def _decode_image(blob: bytes, on_unsupported: str) -> tuple[int, int, int] | None:
    """(width, height, channels); dispatch on ``on_unsupported``:
    error | stub | skip. Non-'error' modes absorb BOTH unsupported
    formats and corrupt/truncated blobs — a web-scraped corpus always
    contains some of each, and one bad blob must not kill the job the
    caller explicitly asked to degrade gracefully."""
    try:
        arr = _decode_image_array(bytes(blob or b""))
    except Exception:  # noqa: BLE001 - unsupported OR corrupt, same policy
        if on_unsupported == "stub":
            return _decode_image_stub(blob)
        if on_unsupported == "skip":
            return None
        raise
    h, w, ch = arr.shape
    return (w, h, ch)


def decode_image_batch(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "path",
    on_unsupported: str = "error",
) -> DataFrame:
    """mapInPandas decode → (id, width, height, channels). Real decode for
    PNG/BMP/GIF (``multimodal.codecs``); other formats and corrupt blobs
    follow ``on_unsupported``: error | stub | skip. The UDF sees Arrow
    batches of binary blobs — the real-world shape for GPU/CPU decode
    stages."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, cs = [], [], [], []
            for pid, b in zip(pdf[id_col], pdf[content_col]):
                dims = _decode_image(b, on_unsupported)
                if dims is None:
                    continue
                ids.append(pid)
                ws.append(dims[0])
                hs.append(dims[1])
                cs.append(dims[2])
            yield pd.DataFrame(
                {id_col: ids, "width": ws, "height": hs, "channels": cs}
            )

    schema = f"{id_col} string, width int, height int, channels int"
    return df.select(id_col, content_col).mapInPandas(_decode, schema=schema)


def _decode_audio(blob: bytes, on_unsupported: str):
    """(sample_rate, samples) for a WAV blob; otherwise ``on_unsupported``
    decides: 'skip' returns None, anything else raises. As for images,
    'skip' absorbs both unsupported formats and corrupt WAVs (cut off in
    the header or mid-sample)."""
    from astro_sdk_spark.multimodal import codecs

    try:
        if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            raise NotImplementedError(
                "built-in codec decodes WAV only; mp3/flac/ogg need "
                "external libs — pass on_unsupported='skip'"
            )
        return codecs.decode_wav(blob)
    except Exception:  # noqa: BLE001 - unsupported OR corrupt, same policy
        if on_unsupported == "skip":
            return None
        raise


def decode_audio_batch(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "path",
    on_unsupported: str = "error",
) -> DataFrame:
    """mapInPandas audio decode → (id, sample_rate, n_channels, n_frames,
    duration_s). Real for WAV/PCM (stdlib ``wave``); MP3/FLAC/OGG need
    external codecs. ``on_unsupported='skip'`` drops them and corrupt
    WAVs; 'error' raises."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (id_col, "sample_rate", "n_channels",
                                   "n_frames", "duration_s")}
            for pid, b in zip(pdf[id_col], pdf[content_col]):
                decoded = _decode_audio(bytes(b or b""), on_unsupported)
                if decoded is None:
                    continue
                sr, samples = decoded
                out[id_col].append(pid)
                out["sample_rate"].append(sr)
                out["n_channels"].append(samples.shape[1])
                out["n_frames"].append(samples.shape[0])
                out["duration_s"].append(round(samples.shape[0] / sr, 6))
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} string, sample_rate int, n_channels int, n_frames long, "
        "duration_s double"
    )
    return df.select(id_col, content_col).mapInPandas(_decode, schema=schema)


def extract_image_features(
    df: DataFrame, content_col: str = "content", id_col: str = "path", dim: int = 16
) -> DataFrame:
    """Fixed-dim float vector per blob, all values in [0, 1].

    Images the shared dispatch decodes (PNG/BMP/GIF) get REAL pixel
    features — per-channel mean and clipped std, then a normalized
    grayscale histogram filling the remaining slots. Every other blob,
    unsupported format or corrupt data alike, gets deterministic
    sha256-derived pseudo-features (documented fallback so mixed-format
    tables keep one vector space). A learned encoder slots into the same
    mapInPandas contract, typically with GPU batching."""

    def _pixel_features(arr, k: int) -> list[float]:
        import numpy as np

        feats: list[float] = []
        for c in range(arr.shape[2]):
            feats.append(float(arr[:, :, c].mean()) / 255.0)
            feats.append(min(float(arr[:, :, c].std()) / 128.0, 1.0))
        feats = feats[:k]
        nbins = k - len(feats)
        if nbins > 0:
            hist, _ = np.histogram(arr.mean(axis=2), bins=nbins, range=(0, 255))
            total = max(int(hist.sum()), 1)
            feats += [float(v) / total for v in hist]
        return feats

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[content_col]:
                blob = bytes(b or b"")
                try:
                    arr = _decode_image_array(blob)
                except Exception:  # noqa: BLE001 - unsupported OR corrupt
                    h = hashlib.sha256(blob).digest()
                    feats.append([h[i] / 255.0 for i in range(dim)])
                else:
                    feats.append(_pixel_features(arr, dim))
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, content_col).mapInPandas(
        _feat, schema=f"{id_col} string, features array<float>"
    )


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    content_col: str = "content",
    id_col: str = "path",
    on_unsupported: str = "error",
) -> DataFrame:
    """Real resize for PNG/BMP/GIF: decode → nearest-neighbor resample →
    re-encode as PNG (output blobs are valid PNGs of the target size).
    Other formats (JPEG, WebP, …) and corrupt blobs follow
    ``on_unsupported``: error | passthrough | skip ("passthrough" emits
    the original bytes with the recorded target shape — the old stub
    behavior, for mixed-format tables)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from astro_sdk_spark.multimodal import codecs

        for pdf in batches:
            ids, blobs = [], []
            for pid, b in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(b or b"")
                try:
                    # alpha survives: RGBA PNGs / transparent GIFs
                    # re-encode as 4-channel PNGs
                    arr = _decode_image_array(blob)
                except Exception:  # noqa: BLE001 - unsupported OR corrupt
                    if on_unsupported == "passthrough":
                        ids.append(pid)
                        blobs.append(blob)
                        continue
                    if on_unsupported == "skip":
                        continue
                    raise
                resized = codecs.resize_nearest(arr, target_w, target_h)
                ids.append(pid)
                blobs.append(codecs.encode_png(resized))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "content": blobs,
                    "width": [target_w] * len(ids),
                    "height": [target_h] * len(ids),
                }
            )

    return df.select(id_col, content_col).mapInPandas(
        _resize, schema=f"{id_col} string, content binary, width int, height int"
    )


def frame_sample_video(
    df: DataFrame,
    every_n: int = 30,
    max_frames: int = 8,
    content_col: str = "content",
    id_col: str = "path",
) -> DataFrame:
    """Frame sampling: emits (video, frame_idx, frame) rows — one input
    row explodes into ≤``max_frames`` output rows, the exploded layout
    downstream image ops consume.

    Animated (or still) GIF takes the REAL path: frames are composited
    per GIF89a (disposal state means every frame up to the last sampled
    one must be decoded) and re-emitted as standalone PNG blobs — feed
    them straight to :func:`decode_image_batch` /
    :func:`image_phash_batch`; ``frame_idx`` is the frame number. Every
    other container (mp4, avi, mkv, animated WebP, …) has no built-in
    decoder and keeps the deterministic byte-slice stub with
    ``frame_idx`` as a byte offset — honestly fake, shape-correct."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from astro_sdk_spark.multimodal import codecs

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for pid, b in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(b or b"")
                if codecs.sniff_image(blob) == "gif":
                    composited, _delays = codecs.decode_gif_frames(blob)
                    for i in range(0, len(composited),
                                   max(every_n, 1))[:max_frames]:
                        ids.append(pid)
                        idxs.append(i)
                        frames.append(codecs.encode_png(composited[i]))
                    continue
                n = min(max_frames, max(1, len(blob) // max(every_n, 1)))
                for i in range(n):
                    ids.append(pid)
                    idxs.append(i * every_n)
                    frames.append(blob[i * every_n : i * every_n + every_n])
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, content_col).mapInPandas(
        _sample, schema=f"{id_col} string, frame_idx int, frame binary"
    )


def image_phash_batch(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "path",
    on_unsupported: str = "error",
) -> DataFrame:
    """Perceptual image hash (classic DCT pHash) per blob →
    ``(id, phash long)``.

    decode → grayscale → 32×32 area resample → orthonormal 2D DCT-II →
    low-frequency 8×8 corner (DC excluded) → 64-bit
    sign-vs-median hash. Perceptually-similar images (re-encodes,
    resizes, small edits) land within a few Hamming bits — feed
    :func:`phash_near_dup` to find them without comparing pixels.
    Images decode through the same dispatch as :func:`decode_image_batch`
    (PNG/BMP/GIF); other formats (JPEG, WebP, …) and corrupt blobs follow
    ``on_unsupported`` (error | skip)."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        c32 = np.zeros((32, 32))
        for k in range(32):
            for n in range(32):
                c32[k, n] = np.cos(np.pi * (2 * n + 1) * k / 64) * (
                    np.sqrt(1 / 32) if k == 0 else np.sqrt(2 / 32)
                )
        for pdf in batches:
            ids, hashes = [], []
            for pid, b in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(b or b"")
                try:
                    arr = _decode_image_array(blob)[..., :3]
                except Exception:  # noqa: BLE001 - unsupported OR corrupt
                    if on_unsupported == "skip":
                        continue
                    raise
                gray = arr.astype(np.float64).mean(axis=2)
                h, w = gray.shape
                # area resample to 32×32 (pad to divisible, then box mean)
                ph = -(-h // 32) * 32
                pw = -(-w // 32) * 32
                g = np.pad(gray, ((0, ph - h), (0, pw - w)), mode="edge")
                g = g.reshape(32, ph // 32, 32, pw // 32).mean(axis=(1, 3))
                d = c32 @ g @ c32.T
                low = d[:8, :8].reshape(64)
                ref = np.median(np.concatenate([low[1:8], low[8:]]))
                bits = (low > ref).astype(np.uint64)
                bits[0] = 0  # DC carries brightness, not structure
                val = 0
                for i in range(64):
                    val = (val << 1) | int(bits[i])
                # two's-complement into a signed 64-bit for Spark LongType
                if val >= 1 << 63:
                    val -= 1 << 64
                ids.append(pid)
                hashes.append(val)
            yield pd.DataFrame({id_col: ids, "phash": hashes})

    return df.select(id_col, content_col).mapInPandas(
        _hash, schema=f"{id_col} string, phash long"
    )


def phash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "path",
    hash_col: str = "phash",
    bucket_cap: int | None = 500,
    n_blocks: int = 8,
) -> DataFrame:
    """Near-duplicate images from pHashes → (id_a, id_b, hamming).

    The SimHash pigeonhole trick on 64-bit perceptual hashes: split into
    ``n_blocks`` equal sub-keys (must divide 64) — any pair within
    hamming distance ``n_blocks − 1`` MUST agree exactly on ≥ 1 block
    (candidate buckets); exact popcount verifies. For
    ``max_hamming ≥ n_blocks`` the blocking is a high-recall heuristic,
    not exhaustive — raise ``n_blocks`` (8 → 16) to restore the
    guarantee at the cost of shorter keys / bigger buckets (bounded by
    ``bucket_cap``). Same scale shape as ``simhash_near_dup``: one
    exchange on (block, key), capped buckets, no all-pairs stage."""
    from astro_sdk_spark.functions.dedup import _bucket_pairs

    if 64 % n_blocks:
        raise ValueError(f"n_blocks must divide 64, got {n_blocks}")
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocked = hashes.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("block", "key"),
    )
    grouped = blocked.groupBy("block", "key").agg(
        F.collect_list(F.struct(F.col("_id"), F.col("_h"))).alias("_ms")
    )
    pairs = _bucket_pairs(grouped, bucket_cap).select(
        F.col("_a._id").alias("id_a"),
        F.col("_b._id").alias("id_b"),
        F.bit_count(
            F.col("_a._h").bitwiseXOR(F.col("_b._h"))
        ).alias("hamming"),
    )
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def extract_audio_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "path",
    n_bands: int = 16,
    frame_size: int = 2048,
) -> DataFrame:
    """Spectral fingerprint per WAV blob → ``(id, features array<float>)``.

    Real DSP, numpy only: mono mix → Hann-windowed ``frame_size`` frames
    → rFFT power spectrum → ``n_bands`` log-spaced band energies averaged
    over frames → log1p → L2 normalize. The audio analogue of
    :func:`extract_image_features`: a fixed-dim vector suitable for
    embedding-style dedup/similarity over an audio corpus (feed
    ``similarity.cosine_topk`` / ``embedding_near_dup``). Non-WAV blobs
    and corrupt WAVs are skipped (external codecs decode first at
    production scale)."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        win = np.hanning(frame_size)
        n_bins = frame_size // 2 + 1
        # log-spaced band edges over the positive-frequency bins
        edges = np.unique(
            np.geomspace(1, n_bins, n_bands + 1).astype(int)
        )
        for pdf in batches:
            ids, feats = [], []
            for pid, b in zip(pdf[id_col], pdf[content_col]):
                decoded = _decode_audio(bytes(b or b""), "skip")
                if decoded is None:
                    continue
                _, samples = decoded
                mono = samples.astype(np.float64).mean(axis=1)
                if len(mono) < frame_size:
                    mono = np.pad(mono, (0, frame_size - len(mono)))
                n_frames = len(mono) // frame_size
                frames = mono[: n_frames * frame_size].reshape(
                    n_frames, frame_size
                )
                power = np.abs(np.fft.rfft(frames * win, axis=1)) ** 2
                mean_power = power.mean(axis=0)
                bands = np.zeros(n_bands)
                for i in range(min(n_bands, len(edges) - 1)):
                    bands[i] = mean_power[edges[i]:edges[i + 1]].sum()
                v = np.log1p(bands)
                norm = np.linalg.norm(v)
                if norm > 0:
                    v = v / norm
                ids.append(pid)
                feats.append([float(x) for x in v])
            # object dtype: a batch whose blobs were all skipped must
            # still convert to array<float>
            yield pd.DataFrame(
                {id_col: ids, "features": pd.Series(feats, dtype=object)}
            )

    return df.select(id_col, content_col).mapInPandas(
        _feat, schema=f"{id_col} string, features array<float>"
    )
