from crawleria_spark.multimodal.media import (
    MEDIA_META_SCHEMA,
    decode_media,
    extract_features,
    resize_images,
)

__all__ = [
    "MEDIA_META_SCHEMA",
    "decode_media",
    "extract_features",
    "resize_images",
]
