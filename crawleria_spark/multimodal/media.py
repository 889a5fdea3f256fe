"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference's media path is PIL open → downscale to max width 1920 →
ship to the external indexer (src/document_processor/processor.py:59-64,
config/config.py:47). Re-expressed for Spark: media travels as a
``binary`` column with a typed metadata struct; decode / resize /
feature-extract run as Arrow-batched ``mapInPandas``
stages over partition-local batches.

Codec layering (container has no PIL/ffmpeg): ``decode_media`` tries
PIL behind an import-guard, then the VENDORED pure-Python codecs
(multimodal/codecs.py) — real header decode for png/gif/jpeg/bmp/ppm
and real pixel decode/resize/re-encode for the uncompressed formats —
so a genuine decode path executes even here. Only bytes matching no
known image magic fall through to the clearly-marked deterministic
fake (dimensions/duration derived from a hash of the bytes; the
q_media_pipeline oracle pins that path by passing try_real=False).
Everything Spark-side (schemas, batch shapes, partitioning, UDF
signatures, null handling) is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def _try_real_image_decode(data: bytes):
    """Real decoder: PIL when importable, else the vendored pure-Python
    header codecs (multimodal/codecs.py — png/gif/jpeg/bmp/ppm true
    dimensions from the file's own bytes). Returns None only when the
    bytes match no known image magic (caller falls back to the marked
    fake); recognized-but-corrupt bytes yield a decode_error row."""
    try:
        import io

        from PIL import Image  # noqa: F401

        img = Image.open(io.BytesIO(data))
        return {"format": img.format.lower(), "width": img.width, "height": img.height}
    except ImportError:
        from crawleria_spark.multimodal.codecs import CodecError, parse_image_header

        try:
            return parse_image_header(data)
        except CodecError as e:
            return {"decode_error": f"{type(e).__name__}: {e}"}
    except Exception as e:  # decodable-but-corrupt: error row, don't raise
        return {"decode_error": f"{type(e).__name__}: {e}"}


def _fake_decode(data: bytes, media_type: str) -> dict:
    """DETERMINISTIC FAKE decode (container has no codec libs): derives
    plausible metadata from a hash of the bytes. Replace by a real
    decoder in production — the Spark plumbing is identical."""
    h = hashlib.sha256(data).digest()
    w = 160 + int.from_bytes(h[0:2], "big") % 1920
    ht = 120 + int.from_bytes(h[2:4], "big") % 1080
    dur = (int.from_bytes(h[4:6], "big") % 6000) / 10.0
    fmt = {"image": "png", "audio": "wav", "video": "mp4"}[media_type]
    return {
        "format": fmt,
        "width": w if media_type != "audio" else None,
        "height": ht if media_type != "audio" else None,
        "duration_s": dur if media_type != "image" else None,
    }


def decode_media(
    df: DataFrame,
    bytes_col: str = "content",
    type_col: str = "media_type",
    try_real: bool = True,
) -> DataFrame:
    """Append a `meta` struct column decoded from the binary payload.

    ``try_real=False`` forces the deterministic stub decoder even where
    PIL is importable — used by the oracle-checked q_media_pipeline so
    its output is identical in every environment (the stub's sha256
    derivation is SQL-expressible; a real decode of non-image bytes
    would instead yield an error row wherever PIL happens to exist)."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("meta", MEDIA_META_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for data, mtype in zip(pdf[bytes_col], pdf[type_col]):
                data = bytes(data) if data is not None else b""
                meta = {
                    "media_type": mtype,
                    "format": None,
                    "width": None,
                    "height": None,
                    "duration_s": None,
                    "n_bytes": len(data),
                    "sha256": hashlib.sha256(data).hexdigest(),
                    "decode_error": None,
                }
                real = (
                    _try_real_image_decode(data)
                    if try_real and mtype == "image"
                    else None
                )
                meta.update(real if real is not None else _fake_decode(data, mtype))
                metas.append(meta)
            yield pdf.assign(meta=pd.Series(metas, index=pdf.index, dtype="object"))

    return df.mapInPandas(run, schema=out_schema)


def resize_images(
    df: DataFrame,
    max_width: int = 1920,
    bytes_col: str = "content",
    reencode: bool = False,
) -> DataFrame:
    """Reference P4 downscale (processor.py:61-64): images wider than
    max_width get scaled preserving aspect ratio.

    Target dimensions are always computed for real. With
    ``reencode=True`` the payload is ALSO resized for real wherever the
    vendored pure-Python codecs can decode pixels (24-bit BMP, P6 PPM,
    and non-interlaced 8-bit PNG via the stdlib-zlib path — codecs.py):
    decode → nearest-neighbor resample → re-encode in the source
    format, with ``reencoded`` marking which rows carry new bytes;
    gif/jpeg pass through unchanged (their re-encode needs a real codec
    lib). CAVEAT (r6 ADVICE): an RGBA PNG re-encodes as RGB —
    ``decode_pixels`` drops the alpha channel and ``encode_png`` always
    writes color type 2 — so the reencode path changes the pixel FORMAT
    for RGBA sources, not just dimensions. The default leaves every
    payload untouched — the oracle-pinned q_media_pipeline path."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("target_width", T.IntegerType()),
            T.StructField("target_height", T.IntegerType()),
            T.StructField("resized", T.BooleanType()),
        ]
        + ([T.StructField("reencoded", T.BooleanType())] if reencode else [])
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if reencode:
            from crawleria_spark.multimodal.codecs import (
                _PNG_SIG,
                CodecError,
                decode_pixels,
                encode_bmp,
                encode_png,
                encode_ppm,
                resize_nearest,
            )
        for pdf in batches:
            tw, th, rs = [], [], []
            for meta in pdf["meta"]:
                w, h = meta["width"], meta["height"]
                if w is None or h is None:
                    tw.append(None), th.append(None), rs.append(False)
                elif w > max_width:
                    scale = max_width / w
                    tw.append(max_width), th.append(int(h * scale)), rs.append(True)
                else:
                    tw.append(w), th.append(h), rs.append(False)
            out = pdf.assign(target_width=tw, target_height=th, resized=rs)
            if reencode:
                payloads, done = [], []
                for data, needs, w2, h2 in zip(
                    pdf[bytes_col], rs, tw, th
                ):
                    new = None
                    if needs and data is not None:
                        try:
                            arr = decode_pixels(bytes(data))
                        except CodecError:
                            arr = None  # corrupt: keep original payload
                        if arr is not None:
                            resized_arr = resize_nearest(arr, int(w2), int(h2))
                            head = bytes(data)[:8]
                            if head[:2] == b"BM":
                                enc = encode_bmp
                            elif head == _PNG_SIG:
                                enc = encode_png
                            else:
                                enc = encode_ppm
                            new = enc(resized_arr)
                    payloads.append(new if new is not None else data)
                    done.append(new is not None)
                out = out.assign(**{bytes_col: payloads}, reencoded=done)
            yield out

    return df.mapInPandas(run, schema=out_schema)


def extract_features(
    df: DataFrame, bytes_col: str = "content", dim: int = 16
) -> DataFrame:
    """Deterministic feature vector per media blob (STUB embedder: seeded
    by content hash — stands in for CLIP-style features; vectorized)."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for data in pdf[bytes_col]:
                data = bytes(data) if data is not None else b""
                seed = int.from_bytes(hashlib.sha256(data).digest()[:8], "big")
                rng = np.random.default_rng(seed)
                v = rng.standard_normal(dim).astype(np.float32)
                feats.append((v / np.linalg.norm(v)).tolist())
            yield pdf.assign(features=pd.Series(feats, index=pdf.index, dtype="object"))

    return df.mapInPandas(run, schema=out_schema)
