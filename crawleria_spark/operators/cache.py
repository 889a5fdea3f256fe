"""Query-result cache with TTL (reference C1).

The reference memoizes retrieval results in an in-process dict keyed by
the exact query string, fresh iff ``now - ts <= cache_ttl`` (3600 s)
(src/retrieval/retriever.py:56-93; config/config.py:67-68). The engine
equivalent is one Arrow IPC stream file per query key,
``<root>/<key>.arrow``, with the entry timestamp and the query text in
its schema metadata. Unlike ``df.cache()`` this survives the session —
matching the reference's semantics of "same query within TTL returns
the stored results without recomputation".

A result is at most ``top_k`` rows, so the entry is collected once
(``toArrow``) and served from the driver: a hit reads one small file and
wraps it in a local DataFrame, with no scan of a stored table. There is
no shared index: each store replaces only its own key's file, atomically
(temp file + ``os.replace``), so concurrent clients on one root never
lose each other's entries, and a re-store leaves no orphan behind.

``now`` is injected (tests pass fixed values — reference P9 determinism
note: no wall-clock in the engine path).
"""

from __future__ import annotations

import hashlib
import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# Stream format (the schema once, no footer) with zstd buffers: an entry is
# a handful of rows, so the schema and framing are most of its bytes.
_WRITE_OPTIONS = pa.ipc.IpcWriteOptions(compression="zstd")


class QueryCache:
    def __init__(self, spark: SparkSession, root: str, ttl_s: float = 3600.0):
        self.spark = spark
        self.root = root
        self.ttl_s = ttl_s
        os.makedirs(root, exist_ok=True)

    @staticmethod
    def key_for(query: str) -> str:
        return hashlib.sha256(query.encode("utf-8")).hexdigest()[:16]

    def _path(self, query: str) -> str:
        return os.path.join(self.root, f"{self.key_for(query)}.arrow")

    def lookup(self, query: str, now: float) -> DataFrame | None:
        """Fresh cache hit → stored DataFrame; miss/stale → None."""
        path = self._path(query)
        try:
            with pa.OSFile(path, "rb") as f:
                table = pa.ipc.open_stream(f).read_all()
        except FileNotFoundError:
            return None
        meta = table.schema.metadata
        if meta[b"query"].decode("utf-8") != query:
            return None  # another query with the same 16-hex-char key
        if now - float(meta[b"ts"]) > self.ttl_s:
            # stale (reference: entry expired, recompute)
            try:
                os.remove(path)
            except FileNotFoundError:
                pass  # another client removed or replaced it first
            return None
        return self.spark.createDataFrame(table.replace_schema_metadata(None))

    def store(self, query: str, df: DataFrame, now: float) -> None:
        table = df.toArrow().replace_schema_metadata(
            {"ts": repr(float(now)), "query": query}
        )
        path = self._path(query)
        tmp = os.path.join(self.root, f".{uuid.uuid4().hex}.tmp")
        try:
            with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_stream(
                sink, table.schema, options=_WRITE_OPTIONS
            ) as w:
                w.write_table(table)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):  # the write failed before the rename
                os.remove(tmp)

    def get_or_compute(self, query: str, compute, now: float) -> tuple[DataFrame, bool]:
        """(result, was_hit). `compute` is a zero-arg fn → DataFrame."""
        hit = self.lookup(query, now)
        if hit is not None:
            return hit, True
        df = compute()
        self.store(query, df, now)
        return self.lookup(query, now), False
