"""Snapshot catalog: atomic multi-table round commits over parquet.

Iceberg-shaped semantics without the Iceberg runtime jar (offline
sandbox): each commit writes new parquet directories for the tables that
changed, then atomically renames a manifest JSON into place. The
manifest pins every table to a concrete list of data directories, so
readers see either the whole commit or none of it. Two table modes:

- REPLACE (init-time state, periodic compactions): the commit's
  directory list is `[new_dir]` — old state is superseded.
- APPEND (documents, fetch_log, metrics, seen, host_seq, frontier
  deltas): the new directory is appended to the list, so a round commit
  costs O(round delta), never a rewrite of the accumulated table — the
  property Iceberg appends give you, and the one that matters at 10^10
  URLs.

Kill-resume = read the latest valid manifest (round number + crawl
counters live in manifest meta). Swapping in real Iceberg = implement
this same interface (`read`/`commit`/`latest_meta`) over
``df.writeTo(...).append()`` with ``spark.jars.packages``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from crawleria_spark.plans.catalog import Catalog


class SnapshotCatalog(Catalog):
    MANIFEST_PREFIX = "_manifest_v"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest plumbing ---------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"{self.MANIFEST_PREFIX}{version:06d}.json")

    def _versions(self) -> list[int]:
        return sorted(
            int(f[len(self.MANIFEST_PREFIX):-5])
            for f in os.listdir(self.root)
            if f.startswith(self.MANIFEST_PREFIX) and f.endswith(".json")
        )

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    # latest_version/latest_manifest/latest_meta/exists*/n_dirs*/compact
    # are inherited from Catalog (manifest-derived, implementation-free).

    # -- table IO -------------------------------------------------------------

    def read(self, table: str) -> DataFrame:
        m = self.latest_manifest()
        if not m or table not in m["tables"]:
            raise KeyError(f"table {table!r} not in catalog at {self.root}")
        return self.spark.read.parquet(*m["tables"][table])

    def read_as_of(self, table: str, version: int) -> DataFrame:
        """Read a table as of a pinned manifest version (time travel).
        The pipelined-commit overlay pins its base here: an async commit
        landing mid-round must never make `latest + delta` double-apply
        the delta. Versions within gc's keep_last window are safe."""
        m = self._load_manifest(version)
        if table not in m["tables"]:
            raise KeyError(f"table {table!r} not in manifest v{version}")
        return self.spark.read.parquet(*m["tables"][table])

    def _write_dir(self, name: str, df: DataFrame, version: int) -> str:
        data_dir = os.path.join(self.root, name, f"v{version:06d}_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(data_dir)
        return data_dir

    def commit(
        self,
        replace: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """Write changed tables, carry the rest forward, publish atomically.

        ``drop`` removes tables from the new manifest (their data dirs stay
        on disk until ``gc``) — used by CrawlEngine.init to clear stale
        state (e.g. seen_bloom) when starting a fresh crawl in a reused
        catalog root."""
        prev = self.latest_manifest()
        version = (prev["version"] + 1) if prev else 0
        tables: dict[str, list[str]] = {
            k: list(v) for k, v in (prev["tables"] if prev else {}).items()
        }
        for name in drop or []:
            tables.pop(name, None)
        # Independent tables write concurrently — Spark schedules jobs from
        # multiple driver threads onto the same executors (FIFO pool), so
        # small writes overlap instead of paying N sequential job latencies.
        # The manifest publish below stays strictly after ALL writes.
        from concurrent.futures import ThreadPoolExecutor

        jobs = [("replace", n, df) for n, df in (replace or {}).items()] + [
            ("append", n, df) for n, df in (append or {}).items()
        ]
        if jobs:
            with ThreadPoolExecutor(max_workers=min(4, len(jobs))) as pool:
                futures = {
                    (mode, name): pool.submit(self._write_dir, name, df, version)
                    for mode, name, df in jobs
                }
            for (mode, name), fut in futures.items():
                if mode == "replace":
                    tables[name] = [fut.result()]
                else:
                    tables.setdefault(name, []).append(fut.result())
        # The manifest records every append-delta dir ever committed
        # ("published" map, carried forward commit to commit) so symlink
        # publication below is IDEMPOTENT from the manifest: a crash
        # after the rename but before the symlink loop cannot leave a
        # committed dir permanently unpublished — the NEXT commit (of
        # any table) re-creates every missing link. A compact/replace of
        # an append table deliberately does NOT enter this map: its
        # rewrite dir holds data the stream already ingested via the
        # original delta links, and publishing it would double-deliver.
        published: dict[str, list[str]] = {
            # entries whose dirs gc() has removed are done streaming —
            # prune them so the map stays O(live dirs), not O(all rounds)
            k: [d for d in v if os.path.exists(d)]
            for k, v in (prev or {}).get("published", {}).items()
        }
        for name in drop or []:
            published.pop(name, None)
        for (mode, name), fut in (futures.items() if jobs else ()):
            if mode == "append":
                published.setdefault(name, []).append(fut.result())
        manifest = {
            "version": version,
            "tables": tables,
            "published": published,
            "meta": meta or {},
        }
        tmp = os.path.join(self.root, f".tmp_manifest_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest_path(version))  # atomic publish
        # Publish append-table delta dirs for streaming readers STRICTLY
        # AFTER the manifest rename: a file-source stream tails
        # <root>/published/<table>/* and therefore can never ingest a
        # directory whose commit did not complete (crash between
        # _write_dir and the rename leaves an orphan dir that is never
        # linked). Symlinks, so no data is copied. Links whose targets
        # gc() already removed are skipped (gc prunes them anyway).
        for name, dirs in published.items():
            pub = os.path.join(self.root, "published", name)
            os.makedirs(pub, exist_ok=True)
            for target in dirs:
                link = os.path.join(pub, os.path.basename(target))
                if not os.path.lexists(link) and os.path.exists(target):
                    os.symlink(target, link)
        return version

    def published_path(self, table: str) -> str:
        """Glob root for streaming readers: contains symlinks to exactly
        the COMMITTED delta directories of an append table."""
        return os.path.join(self.root, "published", table)

    def gc(self, keep_last: int = 2) -> None:
        """Drop data dirs referenced only by manifests older than keep_last."""
        versions = self._versions()
        if not versions:
            return
        keep = set(versions[-keep_last:])
        live: set[str] = set()
        for v in keep:
            for dirs in self._load_manifest(v)["tables"].values():
                live.update(dirs)
        for v in versions:
            if v in keep:
                continue
            for dirs in self._load_manifest(v)["tables"].values():
                for d in dirs:
                    if d not in live and os.path.exists(d):
                        shutil.rmtree(d, ignore_errors=True)
            os.remove(self._manifest_path(v))
        # prune published symlinks whose targets gc just removed — a
        # dangling link would break the streaming source's file listing
        pub_root = os.path.join(self.root, "published")
        if os.path.isdir(pub_root):
            for table in os.listdir(pub_root):
                tdir = os.path.join(pub_root, table)
                for link in os.listdir(tdir):
                    p = os.path.join(tdir, link)
                    if os.path.islink(p) and not os.path.exists(p):
                        os.remove(p)
