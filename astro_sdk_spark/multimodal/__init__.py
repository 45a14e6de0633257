"""Multimodal columns (extension — no reference counterpart)."""

from astro_sdk_spark.multimodal.codecs import (
    decode_bmp,
    decode_gif,
    decode_png,
    decode_wav,
    encode_png,
    resize_nearest,
)
from astro_sdk_spark.multimodal.ops import (
    MEDIA_SCHEMA,
    attach_media_metadata,
    decode_audio_batch,
    decode_image_batch,
    extract_audio_features,
    extract_image_features,
    frame_sample_video,
    image_phash_batch,
    media_table_from_files,
    phash_near_dup,
    resize_images,
)

__all__ = [
    "MEDIA_SCHEMA",
    "media_table_from_files",
    "attach_media_metadata",
    "decode_image_batch",
    "decode_audio_batch",
    "decode_png",
    "encode_png",
    "decode_bmp",
    "decode_gif",
    "decode_wav",
    "resize_nearest",
    "extract_image_features",
    "extract_audio_features",
    "image_phash_batch",
    "phash_near_dup",
    "resize_images",
    "frame_sample_video",
]
