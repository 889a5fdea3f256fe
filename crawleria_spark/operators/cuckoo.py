"""Partitioned cuckoo-filter URL-seen set (north-rule F4/J4 alternative).

The north rule names a "bloom/cuckoo-filter URL-seen set"; bloom.py is
the default implementation. This module is the cuckoo alternative with
the SAME delta-append architecture and anti-join contract (zero false
negatives ⇒ identical dedup results) — it is probed by the same
``bloom.bloom_split``/``bloom.anti_join_seen``, which recognise a cuckoo
table by its ``cuckoo`` blob column and use this module's
``compact_cuckoo`` and per-blob ``_probe`` — plus the capability a bloom
fundamentally lacks: DELETION. ``CrawlEngine.forget`` uses it to un-see
URLs for re-crawl/refresh scheduling by editing O(filter-bytes) of
fingerprints instead of re-hashing the entire seen set the way the
bloom path must.

Design — partial-key cuckoo hashing (Fan, Andersen, Kaminsky,
Mitzenmacher: "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014; public):

- per hash-bucket ``pmod(url_hash, n_buckets)`` one filter row
  ``(partition int, cuckoo binary, n_items long)`` — the same table
  shape as the bloom path, so the snapshot catalog treats both alike;
- each filter is a table of ``m`` buckets × 4 slots of 16-bit
  fingerprints. ``fp = high 16 bits of xxhash64`` (0 remapped to 1 so 0
  can mean "empty slot"), ``i1 = h mod m``,
  ``i2 = i1 XOR (fp * 0x5bd1e995 mod m)`` — the XOR form makes either
  bucket recoverable from the other plus the fingerprint, which is what
  makes eviction, same-``m`` merging, and deletion possible without the
  original keys;
- ``m`` is CRAWL-CONSTANT, sized once from ``capacity_per_bucket`` (≤
  0.84 load then rounded up to a power of two), so every per-round
  delta row of one crawl is mergeable with every other. Delta rows are
  serialized SPARSELY (sorted slot positions + fingerprints, 6
  bytes/entry) until one-third full, so a small round still appends
  O(delta) bytes exactly like the delta-sized blooms — the fixed ``m``
  costs nothing on disk;
- insertion that still fails after 256 evictions lands in an overflow
  STASH of (bucket, fp) pairs carried in the blob. The stash is what
  guarantees ZERO false negatives under any load — correctness never
  depends on the table having room, only probe cost degrades;
- probe FP rate ≈ 8/2^16 ≈ 1.2e-4 (8 slot comparisons × 16-bit
  fingerprints) — ~80× lower than the bloom default fpp=0.01, at ~2.4
  bytes/key capacity vs the bloom's ~1.2. The suspects side of the
  anti-join shrinks accordingly.

All build/probe/merge math is vectorized numpy over Arrow batches (no
per-row Python in the hot path); the only per-key Python loops are the
eviction residue (rare below the sized load) and the admin-only
deletion path.

Merge/delete safety: two entries with equal fingerprints whose bucket
pairs intersect have IDENTICAL pair sets ({i, i^off(fp)}), so removing
any one occurrence within a single merged row is the classic
cuckoo-filter delete. Deleting across UN-merged delta rows would not be
safe (the occurrence removed could belong to a different row's key), so
``delete_hashes`` compacts to one row per partition first.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawleria_spark.operators.bloom import _mix64

SLOTS = 4
_MAX_LOAD = 0.84
_MIX = 0x5BD1E995
_MAX_KICKS = 256

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType()),
        T.StructField("cuckoo", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
    ]
)


def cuckoo_m_buckets(capacity: int) -> int:
    """Power-of-two bucket count holding `capacity` keys at ≤0.84 load."""
    need = max(16, math.ceil(capacity / (SLOTS * _MAX_LOAD)))
    m = 1 << (need - 1).bit_length()
    # sparse encode/probe store slot positions as uint32 — a silent wrap
    # at m*SLOTS >= 2^32 would corrupt the filter (false negatives)
    if m * SLOTS >= 1 << 32:
        raise ValueError(
            f"capacity_per_bucket={capacity} needs m*SLOTS={m * SLOTS} >= 2^32 "
            "slot positions (uint32 encoding would wrap, corrupting the "
            "filter); raise n_buckets so each bucket holds fewer keys"
        )
    return m


def _decompose(h: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fp uint16, i1 int64, i2 int64) for int64 hashes; m power of two.

    Hashes are splitmix64-mixed first (bloom._mix64): the raw hash is
    also the pmod bucket key, so its low bits are constant within a
    partition and ``h & (m-1)`` would concentrate every i1 into
    1/n_buckets of the table, inflating evictions and stash size."""
    hu = _mix64(np.ascontiguousarray(h, dtype=np.int64))
    fp = ((hu >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    i1 = (hu & np.uint64(m - 1)).astype(np.int64)
    return fp, i1, _alt_bucket(i1, fp, m)


def _alt_bucket(i: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    off = (fp.astype(np.uint64) * np.uint64(_MIX)) & np.uint64(m - 1)
    return (i.astype(np.uint64) ^ off).astype(np.int64)


def _place_pass(
    table: np.ndarray, occ: np.ndarray, cand: np.ndarray, fp: np.ndarray
) -> np.ndarray:
    """Slot as many (bucket=cand[j], fp[j]) entries as space allows.

    Vectorized: stable-sort by bucket, rank within each bucket run,
    place where rank < free slots. Returns the placed mask in the
    ORIGINAL order; `table`/`occ` are updated in place."""
    n = len(cand)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(cand, kind="stable")
    c, f = cand[order], fp[order]
    uniq, start, counts = np.unique(c, return_index=True, return_counts=True)
    rank = np.arange(n) - np.repeat(start, counts)
    base_occ = occ[c]
    can = rank < (SLOTS - base_occ)
    pos = c * SLOTS + base_occ + rank
    table[pos[can]] = f[can]
    occ[uniq] += np.minimum(counts, SLOTS - occ[uniq])
    placed = np.zeros(n, dtype=bool)
    placed[order] = can
    return placed


def _evict_insert(
    table: np.ndarray, occ: np.ndarray, bucket: int, fp_val: int, m: int
) -> tuple[bool, int, int]:
    """Insert one (bucket, fp) entry with deterministic cuckoo kicks.

    On failure after _MAX_KICKS the FINALLY-displaced entry is returned
    for the stash — the table keeps every entry it already held, so
    failure degrades probe cost, never correctness."""
    cur_i, cur_fp = int(bucket), int(fp_val)
    for kick in range(_MAX_KICKS):
        if occ[cur_i] < SLOTS:
            table[cur_i * SLOTS + occ[cur_i]] = cur_fp
            occ[cur_i] += 1
            return True, 0, 0
        pos = cur_i * SLOTS + (kick % SLOTS)
        victim = int(table[pos])
        table[pos] = cur_fp
        cur_fp = victim
        cur_i = cur_i ^ ((victim * _MIX) & (m - 1))
    return False, cur_i, cur_fp


def _insert_all(
    table: np.ndarray,
    occ: np.ndarray,
    buckets: np.ndarray,
    fps: np.ndarray,
    m: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Bulk-place entries (two vectorized passes + eviction residue);
    returns stash (bucket uint32, fp uint16) arrays for the leftovers."""
    placed = _place_pass(table, occ, buckets, fps)
    rem = ~placed
    if rem.any():
        alt = _alt_bucket(buckets[rem], fps[rem], m)
        placed2 = np.zeros_like(placed)
        placed2[rem] = _place_pass(table, occ, alt, fps[rem])
        rem &= ~placed2
    stash_b: list[int] = []
    stash_f: list[int] = []
    for j in np.flatnonzero(rem):
        ok, sb, sf = _evict_insert(table, occ, int(buckets[j]), int(fps[j]), m)
        if not ok:
            stash_b.append(sb)
            stash_f.append(sf)
    return np.asarray(stash_b, dtype=np.uint32), np.asarray(stash_f, dtype=np.uint16)


def _encode(m: int, table: np.ndarray, stash_b: np.ndarray, stash_f: np.ndarray) -> bytes:
    """Blob: [m, mode, n_entries, n_stash]u32 + entries + stash.

    mode 0 (sparse): sorted slot positions u32 + fingerprints u16 —
    6 bytes/entry, chosen below 1/3 fill so per-round delta rows cost
    O(delta) bytes despite the crawl-constant m. mode 1 (dense): the
    raw u16 slot table, smaller beyond 1/3 fill and O(m)-bounded, which
    is what bounds the driver's probe-time collect at any seen size."""
    ne = int(np.count_nonzero(table))
    dense = ne * 6 > m * SLOTS * 2
    head = np.asarray([m, 1 if dense else 0, ne, len(stash_b)], dtype=np.uint32)
    if dense:
        parts = [head.tobytes(), table.tobytes()]
    else:
        pos = np.flatnonzero(table).astype(np.uint32)
        parts = [head.tobytes(), pos.tobytes(), table[pos.astype(np.int64)].tobytes()]
    parts += [stash_b.tobytes(), stash_f.tobytes()]
    return b"".join(parts)


def _decode(blob: bytes):
    """→ (m, dense_table | None, sparse_pos | None, sparse_fps | None,
    stash_b, stash_f); arrays are read-only frombuffer views."""
    head = np.frombuffer(blob, dtype=np.uint32, count=4)
    m, dense, ne, ns = (int(x) for x in head)
    off = 16
    table = pos = fps = None
    if dense:
        table = np.frombuffer(blob, dtype=np.uint16, count=m * SLOTS, offset=off)
        off += m * SLOTS * 2
    else:
        pos = np.frombuffer(blob, dtype=np.uint32, count=ne, offset=off)
        off += ne * 4
        fps = np.frombuffer(blob, dtype=np.uint16, count=ne, offset=off)
        off += ne * 2
    stash_b = np.frombuffer(blob, dtype=np.uint32, count=ns, offset=off)
    off += ns * 4
    stash_f = np.frombuffer(blob, dtype=np.uint16, count=ns, offset=off)
    return m, table, pos, fps, stash_b, stash_f


def _entries(blob: bytes) -> tuple[int, np.ndarray, np.ndarray]:
    """(m, buckets, fps) of every entry incl. stash — the merge feed."""
    m, table, pos, fps, stash_b, stash_f = _decode(blob)
    if table is not None:
        pos = np.flatnonzero(table)
        fps = table[pos]
    buckets = (pos.astype(np.int64) // SLOTS).astype(np.int64)
    return (
        m,
        np.concatenate([buckets, stash_b.astype(np.int64)]),
        np.concatenate([fps.astype(np.uint16), stash_f]),
    )


def _probe(blob: bytes, h: np.ndarray) -> np.ndarray:
    """Vectorized membership test of int64 hashes against one blob."""
    m, table, pos, fps, stash_b, stash_f = _decode(blob)
    fp, i1, i2 = _decompose(h, m)
    hit = np.zeros(len(h), dtype=bool)
    for cand in (i1, i2):
        base = cand * SLOTS
        if table is not None:
            for s in range(SLOTS):
                hit |= table[base + s] == fp
        elif len(pos):  # empty sparse filter (e.g. fully forgotten) → no hits
            lo = np.searchsorted(pos, base.astype(np.uint32))
            for s in range(SLOTS):
                idx = lo + s
                valid = idx < len(pos)
                idxc = np.where(valid, idx, 0)
                valid &= pos[idxc] < base + SLOTS
                hit |= valid & (fps[idxc] == fp)
    if len(stash_b):
        skey = (stash_b.astype(np.uint64) << np.uint64(16)) | stash_f.astype(np.uint64)
        fpu = fp.astype(np.uint64)
        k1 = (i1.astype(np.uint64) << np.uint64(16)) | fpu
        k2 = (i2.astype(np.uint64) << np.uint64(16)) | fpu
        hit |= np.isin(k1, skey) | np.isin(k2, skey)
    return hit


def _merge_blobs(blobs: list[bytes]) -> bytes:
    """Losslessly union same-m filters by re-slotting every entry.

    Valid because the XOR bucket pairing makes each entry re-insertable
    from (bucket, fp) alone. Different-m rows cannot be merged (the
    bucket mapping differs) — m is crawl-constant precisely so this
    never happens inside one catalog."""
    parts = [_entries(b) for b in blobs]
    ms = {p[0] for p in parts}
    if len(ms) != 1:
        raise ValueError(
            f"cannot merge cuckoo filters of different m {sorted(ms)}; "
            "m is derived from capacity_per_bucket and must be crawl-constant"
        )
    m = ms.pop()
    buckets = np.concatenate([p[1] for p in parts])
    fps = np.concatenate([p[2] for p in parts])
    table = np.zeros(m * SLOTS, dtype=np.uint16)
    occ = np.zeros(m, dtype=np.int32)
    stash_b, stash_f = _insert_all(table, occ, buckets, fps, m)
    return _encode(m, table, stash_b, stash_f)


# -- Spark-level API ---------------------------------------------------------


def build_cuckoo(
    df: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
    capacity_per_bucket: int = 1_000_000,
) -> DataFrame:
    """Per-bucket cuckoo filters over a hash column — delta-append rows.

    Hashes are deduplicated (set semantics, like the bloom); m is fixed
    by `capacity_per_bucket` so all rows of one crawl merge losslessly,
    while sparse encoding keeps a small round's append O(delta) bytes."""
    m = cuckoo_m_buckets(capacity_per_bucket)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.unique(pdf[hash_col].to_numpy(dtype=np.int64))
        fp, i1, _ = _decompose(h, m)
        table = np.zeros(m * SLOTS, dtype=np.uint16)
        occ = np.zeros(m, dtype=np.int32)
        stash_b, stash_f = _insert_all(table, occ, i1, fp, m)
        return pd.DataFrame(
            {
                "partition": [int(pdf["__bucket"].iloc[0])],
                "cuckoo": [_encode(m, table, stash_b, stash_f)],
                "n_items": [len(h)],
            }
        )

    bucketed = df.select(
        F.col(hash_col),
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("__bucket"),
    )
    return bucketed.groupBy("__bucket").applyInPandas(build, schema=CUCKOO_SCHEMA)


def compact_cuckoo(df: DataFrame) -> DataFrame:
    """Merge accumulated delta rows into one row per partition —
    executor-side (applyInPandas), like compact_blooms; bloom_split's
    compact step for cuckoo tables. Also the step that makes deletion
    safe (single-row occurrence semantics)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "partition": [int(pdf["partition"].iloc[0])],
                "cuckoo": [_merge_blobs([bytes(b) for b in pdf["cuckoo"]])],
                "n_items": [int(pdf["n_items"].sum())],
            }
        )

    return df.groupBy("partition").applyInPandas(merge, schema=CUCKOO_SCHEMA)


def delete_hashes(
    cuckoo_df: DataFrame, hashes, n_buckets: int = 32
) -> DataFrame:
    """Remove previously-inserted keys — the operation blooms can't do.

    Admin-path op (re-crawl / refresh scheduling): compacts to one row
    per partition (single-row deletion is the classic safe
    one-occurrence cuckoo delete; cross-delta deletion would not be),
    edits fingerprints driver-side over the bounded merged rows, and
    returns the rewritten filter table. Deleting a never-inserted key
    raises — cuckoo deletion is only defined for members. The edit loop
    is per-key driver Python, so callers with large waves should rebuild
    instead — CrawlEngine.forget self-enforces this via
    FORGET_DELETE_MAX (beyond it the filter is rebuilt from the
    surviving seen rows in one distributed pass, refresh()-style)."""
    spark = cuckoo_df.sparkSession
    h_all = np.unique(np.asarray(list(hashes), dtype=np.int64))
    buckets = np.mod(h_all, n_buckets)
    out = []
    for r in compact_cuckoo(cuckoo_df).collect():
        p = int(r["partition"])
        blob, removed = _delete_from_blob(bytes(r["cuckoo"]), h_all[buckets == p])
        out.append((p, blob, int(r["n_items"]) - removed))
    return spark.createDataFrame(out, CUCKOO_SCHEMA)


def _delete_from_blob(blob: bytes, h: np.ndarray) -> tuple[bytes, int]:
    m, table, pos, fps, stash_b, stash_f = _decode(blob)
    if table is None:
        table = np.zeros(m * SLOTS, dtype=np.uint16)
        table[pos.astype(np.int64)] = fps
    else:
        table = table.copy()
    stash = list(zip(stash_b.tolist(), stash_f.tolist()))
    fp, i1, i2 = _decompose(h, m)
    removed = 0
    for j in range(len(h)):
        done = False
        for i in (int(i1[j]), int(i2[j])):
            base = i * SLOTS
            for s in range(SLOTS):
                if table[base + s] == fp[j]:
                    # clear + repack so occupied slots stay contiguous
                    vals = table[base : base + SLOTS].copy()
                    vals[s] = 0
                    nz = vals[vals != 0]
                    table[base : base + SLOTS] = 0
                    table[base : base + len(nz)] = nz
                    done = True
                    break
            if done:
                break
        if not done:
            for key in ((int(i1[j]), int(fp[j])), (int(i2[j]), int(fp[j]))):
                if key in stash:
                    stash.remove(key)
                    done = True
                    break
        if not done:
            raise ValueError(
                f"cuckoo delete of never-inserted hash {int(h[j])}: deletion "
                "is only defined for keys that were inserted"
            )
        removed += 1
    sb = np.asarray([b for b, _ in stash], dtype=np.uint32)
    sf = np.asarray([f for _, f in stash], dtype=np.uint16)
    return _encode(m, table, sb, sf), removed
