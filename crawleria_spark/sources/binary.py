"""Media-directory ingest — the engine twin of the reference's
process/index lifecycle (SURVEY.md §3.2):

    glob *.png (src/main.py:268)
    → PIL open + downscale (processor.py:59-64)        [decode/resize]
    → process batches of 10 with error isolation (:76-99,112-125)
    → index create-or-reuse by name (:141-147)          [create-or-get]
    → per-document append, failures logged+skipped (:153-158)

Spark shape: one declarative job — ``binaryFile`` source (pattern
pushdown at the file listing) → Arrow-batched decode/resize/feature
stages → quarantine split → idempotent snapshot append. Batching is
Arrow record batches (the analogue of the reference's ``batch_size``); the
reference's 1 s inter-batch sleep (F3) is a rate-limit for a remote
indexer and is a no-op here — appends are bulk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawleria_spark.multimodal.media import decode_media, extract_features, resize_images
from crawleria_spark.plans.catalog import Catalog


def read_media_dir(
    spark: SparkSession, path: str, pattern: str = "*.png"
) -> DataFrame:
    """binaryFile scan with glob pushdown: (path, modificationTime,
    length, content). The media_type is inferred from the extension."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    ext = F.lower(F.regexp_extract("path", r"\.([A-Za-z0-9]+)$", 1))
    media_type = (
        F.when(ext.isin("png", "jpg", "jpeg", "gif", "webp"), "image")
        .when(ext.isin("mp4", "webm", "avi", "mov"), "video")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .otherwise("binary")
    )
    return df.select(
        F.regexp_extract("path", r"([^/]+)\.[A-Za-z0-9]+$", 1).alias("media_id"),
        F.col("path").alias("source_path"),
        media_type.alias("media_type"),
        F.col("content"),
    )


def ingest_media_dir(
    spark: SparkSession,
    path: str,
    catalog: Catalog,
    table: str = "media_index",
    pattern: str = "*.png",
    max_width: int = 1920,
    feature_dim: int = 16,
) -> dict:
    """Full ingest: scan → decode → resize → features → quarantine split
    → create-or-get table append. Returns {indexed, quarantined}."""
    raw = read_media_dir(spark, path, pattern)
    processed = extract_features(
        resize_images(decode_media(raw), max_width=max_width), dim=feature_dim
    )
    processed = processed.persist()
    good = processed.filter(F.col("meta.decode_error").isNull()).select(
        "media_id",
        "source_path",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
        "target_width",
        "target_height",
        "features",
    )
    bad = processed.filter(F.col("meta.decode_error").isNotNull()).select(
        "media_id", "source_path", F.col("meta.decode_error").alias("error")
    )

    # create-or-get + append (reference ConflictError→list/reuse semantics):
    # on reuse, verify the existing table is schema-compatible before
    # appending — the reference surfaces a ConflictError on name collision;
    # our equivalent failure mode is a silent mixed-schema table.
    if catalog.exists(table):
        existing = set(catalog.read(table).columns)
        if existing != set(good.columns):
            raise ValueError(
                f"media index {table!r} exists with incompatible schema: "
                f"{sorted(existing)} vs {sorted(good.columns)}"
            )
    catalog.commit(append={table: good, f"{table}_errors": bad})
    n_good = catalog.read(table).count()
    n_bad = catalog.read(f"{table}_errors").count()
    processed.unpersist()
    return {"table": table, "indexed": n_good, "quarantined": n_bad}
