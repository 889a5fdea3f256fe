"""CrawlEngine: the multi-round frontier/fetch scheduler as DataFrame jobs.

One crawl round = ONE declarative DataFrame job implementing the round
spec documented in crawleria_spark/oracle/crawler.py (the oracle is the
independent record-at-a-time twin; pytest asserts equality of per-host
fetch order, the URL-seen set, and per-row span sequences):

    frontier dequeue
      → dedup (left_anti vs seen, optional bloom pre-filter; then
        min-priority per url_canon)
      → robots gate (broadcast join, longest-prefix rule)
      → per-host concurrency cap  → global page budget
      → politeness slot + seq_in_host assignment
      → mapInPandas fetch (vectorized; injectable fetcher; retries in-UDF)
      → span documents append  → link discovery → priority ordinals
      → frontier re-enqueue
      → atomic snapshot commit (per-partition lineage metrics included)

Reference parity notes: seed order IS crawl order
(src/crawler/crawler.py:162); dedup/depth/budget/domain/robots realize
the reference's declared-but-dead parameters (src/crawler/crawler.py:
8,140,141,142; config/config.py:30-33); doc_id = get_clean_filename
(src/utils.py:38-60); error rows never kill the run
(src/crawler/crawler.py:129-135).

Scale design (10^10-URL frontier on 1000 executors):
- HEAD-LIMITED DEQUEUE: when the page budget binds, the round reads
  only the priority head of the frontier that contains the budget
  (`priority < cutoff` pushed into the parquet scan — min-max stats
  prune whole files), widening geometrically if the head under-fills;
  provably identical outputs because the dequeue scan (round-spec 3-5)
  stops at the budget point anyway. A 10^7-page round against a
  10^10-row frontier scans ~0.1-1%, not all of it.
- the dedup anti-join is the only frontier-scale shuffle per round
  (head-scale when the budget binds), and AQE (skew-join on) re-plans
  it at runtime. A bloom pre-filter (operators/bloom.py) drops the
  95%+ already-seen candidates map-side before the exact join.
- no single-partition global windows anywhere: global ordinals and the
  budget cut use deterministic priority-bucketed two-pass ranking
  (operators/ordinal bucketed_* — pure-expression pid, recompute-safe,
  no sampling job), per-host politeness under skew uses
  bucketed_host_rank.
- EVERY per-round commit is O(delta), including the frontier: re-enqueue
  appends only newly discovered rows; dequeued rows are removed
  logically via the same-commit `seen` append (next round's anti-join
  drops them) and reclaimed physically by periodic live-set compaction.
- fetch parallelism: the round batch is repartitioned by host so
  politeness is partition-local and connection reuse per host is
  possible inside the Arrow batch.
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawleria_spark.config import CrawlConfig
from crawleria_spark.functions.urls import (
    canonicalize,
    host_expr,
    host_of,
    path_expr,
    url_canon_expr,
    url_hash_col,
)
from crawleria_spark.operators.bloom import FILTER_EPOCH, anti_join_seen
from crawleria_spark.operators.ordinal import bucketed_dense_ordinal, bucketed_limit_by
from crawleria_spark.plans.catalog import Catalog
from crawleria_spark.sources.fetch import SPAN_SCHEMA, fetch_stage

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("discovered_round", T.IntegerType()),
        T.StructField("salt", T.IntegerType()),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("first_round", T.IntegerType()),
    ]
)

FETCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("politeness_slot", T.IntegerType()),
        T.StructField("seq_in_host", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("url_canon", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("spans", SPAN_SCHEMA),
    ]
)

HOST_SEQ_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("n_fetched", T.LongType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("n_dequeued", T.LongType()),
        T.StructField("n_deduped", T.LongType()),
        T.StructField("n_fetched", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("n_discovered", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def catalog_seen_kind(catalog: Catalog) -> str | None:
    """The AMQ seen-filter kind a catalog holds, or None for a fresh root
    or a catalog without filter state. The kind is CATALOG state, not
    per-invocation state: init() persists it in manifest meta, and every
    later operation (resume / forget / refresh) must use it. Pre-meta
    catalogs are detected from which filter table exists."""
    if catalog.latest_version() is None:
        return None
    kind = catalog.latest_meta().get("seen_filter")
    if kind is None:
        if catalog.exists("seen_cuckoo"):
            kind = "cuckoo"
        elif catalog.exists("seen_bloom"):
            kind = "bloom"
    return kind


class CrawlEngine:
    # forget() waves above this many present keys skip the cuckoo
    # per-key deletion (a bounded driver loop, fine for admin-scale
    # lists) and route through the distributed filter rebuild instead —
    # at refresh-wave scale the rebuild is O(survivors) of executor
    # work where delete_hashes would be O(wave) of driver Python
    FORGET_DELETE_MAX = 100_000

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        config: CrawlConfig,
        fetcher,
        robots_rows: list[dict] | None = None,
        skew_safe: bool = False,
        use_bloom: bool = False,
        simulate_wallclock: bool = False,
        collect_stats: bool = True,
        pipeline_commits: bool = True,
    ):
        self.spark = spark
        self.catalog = catalog
        self.config = config
        self.fetcher = fetcher
        self.skew_safe = skew_safe
        self.use_bloom = use_bloom
        self.simulate_wallclock = simulate_wallclock
        # collect_stats=False skips the n_alive/n_best standalone counts
        # (2 jobs/round) — per-partition lineage metrics stay; the global
        # dedup counters read -1. For throughput-critical deployments.
        self.collect_stats = collect_stats
        # pipeline_commits=True (default) lets crawl() overlap round r's
        # parquet commit writes with round r+1's dequeue/fetch compute —
        # the r3-measured ~2.6 s/round commit wall moves off the serial
        # critical path. run_round() stays BLOCKING unless its caller
        # passes async_commit=True; crawl() manages the barrier (flush)
        # so every external contract (atomic manifests, kill-resume,
        # direct run_round calls) is unchanged.
        self.pipeline_commits = pipeline_commits
        self._pending: dict | None = None  # in-flight round commit
        self._commit_pool = None
        self._kind_warned = False
        self.robots = (
            spark.createDataFrame(
                [
                    (
                        r["host"],
                        r["path_prefix"],
                        bool(r["allow"]),
                        float(r.get("crawl_delay_s", config.politeness_delay_s)),
                    )
                    for r in robots_rows
                ],
                schema="r_host string, path_prefix string, allow boolean, "
                "crawl_delay_s double",
            )
            if robots_rows
            else None
        )
        # broadcast the rules only while they fit (a web-scale robots set
        # is millions of hosts → shuffle join on host instead; AQE decides
        # the physical strategy from real sizes when we don't hint)
        self._robots_small = bool(robots_rows) and len(robots_rows) <= 100_000

    # ------------------------------------------------------------------ init

    def _empty(self, schema: T.StructType) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _effective_seen_kind(self) -> str:
        """The AMQ kind this catalog actually holds (catalog_seen_kind),
        or the config's kind for a catalog without one. A `--seen-filter`
        flag that disagrees with the catalog would otherwise silently
        skip filter maintenance (catalog.exists('seen_bloom') false under
        a cuckoo catalog) and drift the filter from the seen table, so a
        disagreeing config warns once and defers to the catalog."""
        kind = catalog_seen_kind(self.catalog) or self.config.seen_filter
        if kind != self.config.seen_filter and not self._kind_warned:
            self._kind_warned = True
            print(
                f"[crawleria] seen_filter={self.config.seen_filter!r} requested "
                f"but catalog at {self.catalog.root} holds {kind!r} state — "
                f"using the catalog's kind (re-init to switch kinds)",
                flush=True,
            )
        return kind

    def _carry_meta(self, **updates) -> dict:
        """Next-commit meta = latest meta + updates. Round commits MUST
        go through this: meta is replaced wholesale per commit, so a
        bare dict would silently drop persisted catalog state
        (seen_filter kind, amq_epoch, future keys)."""
        meta = self._latest_meta()
        meta.update(updates)
        return meta

    # ------------------------------------------------- pipelined commits

    def _latest_meta(self) -> dict:
        """Logical latest meta: the in-flight round's (pipelined commit
        pending) or the durable manifest's."""
        if self._pending is not None:
            return dict(self._pending["meta"])
        return dict(self.catalog.latest_meta())

    def _read_state(self, table: str) -> DataFrame:
        """Catalog table overlaid with the in-flight round's delta: with
        a pipelined commit pending, readers see the logical post-round
        state — the PRE-COMMIT manifest's dirs ∪ the round's in-memory
        delta. The base is pinned to the version captured at launch
        (read_as_of): the background commit can land at ANY moment, and
        `latest ∪ delta` would then double-apply the delta (caught as a
        seq_in_host shift in the pipelined-vs-blocking parity drive)."""
        if self._pending is None:
            return self.catalog.read(table)
        v = self._pending["base_version"]
        base = (
            self.catalog.read_as_of(table, v)
            if self.catalog.exists_as_of(table, v)
            else None
        )
        delta = self._pending["append"].get(table)
        if delta is not None:
            base = delta if base is None else base.unionByName(delta)
        if base is None:
            raise KeyError(f"table {table!r} not in catalog or pending commit")
        return base

    def _n_dirs_logical(self, table: str) -> int:
        """Append-dir count INCLUDING the in-flight round's append, from
        the pinned base version — keeps compaction-threshold timing
        identical between pipelined and blocking crawls (the durable
        manifest alone lags the logical state by one round while a
        commit is in flight, and may or may not include it depending on
        when the background write lands)."""
        if self._pending is None:
            return self.catalog.n_dirs(table)
        n = self.catalog.n_dirs_as_of(table, self._pending["base_version"])
        return n + (1 if table in self._pending["append"] else 0)

    def _commit_executor(self):
        if self._commit_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._commit_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="round-commit"
            )
        return self._commit_pool

    def flush(self) -> None:
        """Barrier for the pipelined round commit: wait until the
        in-flight commit (if any) is durable, then release its caches.
        EVERY other commit path (the next round's commit, compactions,
        forget/refresh/capture, the epoch rebuild) calls this first, so
        manifest versions stay strictly ordered and atomic exactly as in
        blocking mode — pipelining only moves WHEN the writes run, never
        what a committed manifest contains."""
        p, self._pending = self._pending, None
        if p is None:
            return
        p["future"].result()
        for df in p["persists"]:
            df.unpersist()

    def _seen_filter_ops(self):
        """(table, build_fn, compact_fn) for the catalog's AMQ seen-filter
        kind — the north rule's "bloom/cuckoo-filter URL-seen set". Both
        kinds share the delta-append architecture (O(delta) row appended
        per round, executor-side merge at probe, bounded driver collect)
        and one probe path (bloom.anti_join_seen reads the kind off the
        table's blob column), so the round pipeline is kind-agnostic."""
        cfg = self.config
        if self._effective_seen_kind() == "cuckoo":
            from crawleria_spark.operators import cuckoo as cf

            def build(df: DataFrame) -> DataFrame:
                return cf.build_cuckoo(
                    df,
                    n_buckets=cfg.frontier_partitions,
                    capacity_per_bucket=cfg.bloom_capacity_per_partition,
                )

            return "seen_cuckoo", build, cf.compact_cuckoo
        from crawleria_spark.operators import bloom as bl

        def build(df: DataFrame) -> DataFrame:
            return bl.build_bloom(
                df,
                n_buckets=cfg.frontier_partitions,
                capacity_per_bucket=cfg.bloom_capacity_per_partition,
                fpp=cfg.bloom_fpp,
            )

        return "seen_bloom", build, bl.compact_blooms

    def init(self, seeds: list[str]) -> None:
        """Round -1 commit: seed frontier + empty state tables.

        Seed-list order is crawl order (reference src/crawler/crawler.py:162):
        priority = seed ordinal. Domain-filtered seeds do not consume
        ordinals (oracle parity).
        """
        self.flush()
        cfg = self.config
        rows, next_priority = [], 0
        for url in seeds:
            host = host_of(url).lower()
            if not cfg.allowed(host):
                continue
            rows.append((url, canonicalize(url), host, 0, float(next_priority), -1, 0))
            next_priority += 1
        frontier = self.spark.createDataFrame(
            rows,
            schema="url string, url_canon string, host string, depth int, "
            "priority double, discovered_round int, salt int",
        ).withColumn("url_hash", url_hash_col("url_canon")).select(
            [f.name for f in FRONTIER_SCHEMA.fields]
        )
        # seen/host_seq etc. are APPEND tables during rounds (deltas per
        # round, O(delta) IO — rewriting the cumulative seen set per round
        # would be O(total) and unworkable at 10^10 URLs), but init commits
        # them under REPLACE: a fresh crawl into a reused catalog root must
        # not inherit the previous run's seen set / documents / fetch_log
        # (it would silently dedup against them and mix stale rows into
        # results). Stale seen_bloom is dropped for the same reason.
        self.catalog.commit(
            replace={
                "frontier": frontier,
                "seen": self._empty(SEEN_SCHEMA),
                "host_seq": self._empty(HOST_SEQ_SCHEMA),
                "documents": self._empty(DOCUMENTS_SCHEMA),
                "fetch_log": self._empty(FETCH_LOG_SCHEMA),
                "metrics": self._empty(METRICS_SCHEMA),
            },
            drop=["seen_bloom", "seen_cuckoo"],
            meta={
                "round": -1,
                "next_priority": next_priority,
                "fetched_total": 0,
                # catalog state, carried forward by every later commit:
                # the AMQ kind this catalog holds (resume/forget/refresh
                # use it over any per-invocation flag) and the filter
                # hashing-scheme epoch (stale blobs are undetectable at
                # probe time — see bloom.FILTER_EPOCH)
                "seen_filter": cfg.seen_filter,
                "amq_epoch": FILTER_EPOCH,
                # gross physical frontier row count, maintained
                # arithmetically every commit that touches the table —
                # replaces three per-round jobs (start-of-round bound
                # count, crawl-loop isEmpty probe, end-of-round pending
                # count) with meta reads. Absent (old catalog /
                # externally bootstrapped state) → one fallback count,
                # then self-heals.
                "frontier_gross": next_priority,
            },
        )

    # ----------------------------------------------------------------- round

    def _domain_filter(self, df: DataFrame, host_col: str = "host") -> DataFrame:
        domains = self.config.allowed_domains
        if not domains:
            return df
        cond = reduce(
            lambda a, b: a | b,
            [
                (F.col(host_col) == d) | F.col(host_col).endswith("." + d)
                for d in domains
            ],
        )
        return df.filter(cond)

    def _read_filter_checked(self):
        """(filter_table, filter_df | None) for this round's
        dedup. Before probing, the catalog's ``amq_epoch`` is checked
        against the current hashing scheme (bloom.FILTER_EPOCH): blobs
        are raw bit/slot arrays with no version header, so probing an
        old-epoch filter with new-epoch indexes yields FALSE NEGATIVES —
        already-seen URLs would re-fetch with duplicate seen/documents
        rows, undetectably. A stale (or missing, i.e. pre-epoch) stamp
        triggers a one-time distributed rebuild of the filter from the
        exact seen table, committed with the fresh stamp."""
        filter_table, build_filter, _ = self._seen_filter_ops()
        if not (self.use_bloom and self._has_filter(filter_table)):
            return filter_table, None
        if self._latest_meta().get("amq_epoch") != FILTER_EPOCH:
            print(
                f"[crawleria] {filter_table} was written under filter epoch "
                f"{self._latest_meta().get('amq_epoch', 1)!r} != current "
                f"{FILTER_EPOCH} — rebuilding from the exact seen table",
                flush=True,
            )
            self.flush()  # the rebuild is its own commit
            self.catalog.commit(
                replace={
                    filter_table: build_filter(
                        self.catalog.read("seen").select("url_hash")
                    )
                },
                meta=self._carry_meta(amq_epoch=FILTER_EPOCH),
            )
        return filter_table, self._read_state(filter_table)

    def _has_filter(self, filter_table: str) -> bool:
        """Whether the logical catalog state (durable manifest or the
        in-flight round's delta) already holds a seen-filter table."""
        return self.catalog.exists(filter_table) or (
            self._pending is not None and filter_table in self._pending["append"]
        )

    def _delta_tables(
        self,
        rnd: int,
        fetched: DataFrame,
        narrow: DataFrame,
        seen: DataFrame | None = None,
        denied_log: DataFrame | None = None,
        denied_seen: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """The documents, fetch_log, seen and host_seq appends of one
        fetched batch, plus the seen-filter append when ``use_bloom``.

        ``fetched`` is the fetch output with spans; ``narrow`` is a
        projection of it that carries the fetch-log columns — only the
        documents delta scans ``fetched``. ``denied_log``/``denied_seen``
        are the batch's robots denials, logged and seen without a fetch.
        ``seen`` is the pre-batch seen set when the caller has read it
        already; it is read here only if the first filter write needs it.
        """
        # doc_id comes from the RAW url, like the reference; computed
        # inside the fetch UDF — no second Python pass here
        docs = fetched.filter(F.col("status") == "ok").select(
            "doc_id", "url_canon", F.lit(rnd).alias("round"), "spans"
        )
        fetch_log = narrow.select(
            "url_canon", "host", F.lit(rnd).alias("round"),
            "politeness_slot", "seq_in_host", "status", "error",
        )
        seen_new = narrow.select(
            "url_canon", "url_hash", F.lit(rnd).alias("first_round")
        )
        if denied_log is not None:
            fetch_log = fetch_log.unionByName(denied_log)
            seen_new = seen_new.unionByName(denied_seen)
        tables = {
            "documents": docs,
            "fetch_log": fetch_log,
            "seen": seen_new,
            "host_seq": narrow.groupBy("host").agg(
                F.count("*").cast("long").alias("n_fetched")
            ),
        }
        if self.use_bloom:
            # APPEND the batch-delta filter only, sized for the delta —
            # both AMQ kinds merge the accumulated rows per bucket
            # EXECUTOR-side at probe time, collecting only the merged
            # rows (driver traffic independent of round count). The
            # previous merge-and-REWRITE of the cumulative filter cost
            # 8-23 s per round on the 2M-URL bench; this is O(delta)
            # like every other append. crawl() compacts when
            # directories pile up.
            filter_table, build_filter, _ = self._seen_filter_ops()
            filter_src = seen_new.select("url_hash")
            if not self._has_filter(filter_table):
                # FIRST filter write of this catalog: it must cover the
                # ENTIRE seen set, not just this batch's delta. A
                # catalog bootstrapped with pre-seeded seen rows (no
                # filter table) would otherwise probe those rows
                # certainly-new from the next round on — false
                # negatives, silent duplicate re-fetches. One-time
                # O(seen) cost; engine-inited catalogs have empty
                # pre-round seen here so the union is free.
                if seen is None:
                    seen = self._read_state("seen")
                filter_src = seen.select("url_hash").unionByName(filter_src)
            tables[filter_table] = build_filter(filter_src)
        return tables

    def run_round(self, async_commit: bool = False) -> dict:
        """Execute one crawl round against the latest logical snapshot.

        ``async_commit=False`` (default): the round's commit is durable
        before this returns — the contract every direct caller relies
        on. ``async_commit=True`` (used by crawl() when
        pipeline_commits): the commit's parquet writes launch on a
        background thread and the NEXT round overlays the in-memory
        deltas over the durable catalog (_read_state/_latest_meta),
        overlapping round r's writes with round r+1's compute; the next
        commit (or any admin op) barriers via flush() first, so manifest
        ordering and atomicity are identical to blocking mode. Recompute
        caveat: a cache-evicted partition of a background write can
        recompute through the PREVIOUS round's released caches — the
        same eviction-recompute exposure the round already has within
        itself (deterministic with the synthetic fetcher; a live-HTTP
        deployment that cannot tolerate refetch-on-eviction should run
        pipeline_commits=False or checkpoint the fetch output)."""
        t0 = time.time()
        cfg = self.config
        meta = self._latest_meta()
        rnd = int(meta["round"]) + 1
        next_priority = int(meta["next_priority"])
        fetched_total = int(meta["fetched_total"])

        pending = self._read_state("frontier")
        seen = self._read_state("seen")

        from crawleria_spark.operators.politeness import bucketed_host_rank, per_host_rank

        filter_table, bloom_df = self._read_filter_checked()
        round_persists: list = []  # intermediates to release post-commit
        remaining = cfg.max_pages - fetched_total
        if remaining <= 0:
            return {"round": rnd, "n_fetched": 0, "n_pending": -1, "stopped": True}

        def dequeue_attempt(head: DataFrame):
            """Stages 2-4 (dedup → robots → fused cap/slot rank) over a
            frontier subset. Returns lazily-built DataFrames plus the
            persisted handles so a rejected head attempt can release
            them immediately."""
            persists: list = []
            # 2. dedup: anti-join vs seen (+ optional bloom pre-filter),
            # then min-(priority, depth, url) per url_canon as a HASH
            # AGGREGATE with map-side partial combine (min_by over a
            # struct key) — far cheaper than a sort-window when dup
            # ratios are high, and the shuffle key matches the
            # anti-join's, so Catalyst reuses the exchange. Priorities
            # are globally unique ordinals ⇒ no ties ⇒ deterministic.
            alive = anti_join_seen(
                head,
                seen,
                bloom_df,
                n_buckets=cfg.frontier_partitions,
                capacity_per_bucket=cfg.bloom_capacity_per_partition,
                fpp=cfg.bloom_fpp,
                registry=persists,
            ).persist()
            persists.append(alive)
            cols = alive.columns
            best = (
                alive.groupBy("url_canon")
                .agg(
                    F.min_by(
                        F.struct(*[F.col(c) for c in cols if c != "url_canon"]),
                        F.struct("priority", "depth", "url"),
                    ).alias("__r")
                )
                .select("url_canon", "__r.*")
            )

            # 3. robots gate: broadcast longest-prefix match per url
            path = path_expr("url_canon")
            best = best.withColumn("__path", F.when(path == "", "/").otherwise(path))
            if cfg.respect_robots_txt and self.robots is not None:
                robots = F.broadcast(self.robots) if self._robots_small else self.robots
                matches = best.join(
                    robots,
                    (F.col("host") == F.col("r_host"))
                    & F.col("__path").startswith(F.col("path_prefix")),
                    "left",
                )
                # longest prefix wins; among equal lengths the DISALLOW
                # rule wins (conservative tie-break, mirrored in the oracle)
                w_rule = Window.partitionBy("url_canon").orderBy(
                    F.length("path_prefix").desc_nulls_last(),
                    F.col("allow").asc_nulls_last(),
                )
                decided = (
                    matches.withColumn("__rr", F.row_number().over(w_rule))
                    .filter(F.col("__rr") == 1)
                    .withColumn("__allow", F.coalesce(F.col("allow"), F.lit(True)))
                    .withColumn(
                        "crawl_delay_s",
                        F.coalesce(F.col("crawl_delay_s"), F.lit(cfg.politeness_delay_s)),
                    )
                    .drop("__rr", "r_host", "path_prefix", "allow")
                )
            else:
                decided = best.withColumn("__allow", F.lit(True)).withColumn(
                    "crawl_delay_s", F.lit(cfg.politeness_delay_s)
                )
            decided = decided.persist()
            persists.append(decided)
            denied = decided.filter(~F.col("__allow"))
            fetchable = decided.filter(F.col("__allow")).drop("__allow", "__path")

            # 4+6 fused: ONE per-host rank serves both the concurrency
            # cap and the politeness slot. Proof of equivalence: the
            # budget keeps a global (priority, url_canon) prefix, which
            # within each host is a prefix of its rank order, so kept
            # rows' ranks are exactly 0..m-1 — identical to re-ranking
            # after the cut.
            if self.skew_safe:
                ranked = bucketed_host_rank(
                    fetchable,
                    "host",
                    "priority",
                    ["priority", "url_canon"],
                    priority_bound=max(next_priority, 1),
                    col_name="politeness_slot",
                    num_buckets=cfg.frontier_partitions,
                ).persist()
            else:
                ranked = per_host_rank(
                    fetchable, "host", ["priority", "url_canon"],
                    col_name="politeness_slot",
                ).persist()
            persists.append(ranked)
            kept = ranked.filter(
                F.col("politeness_slot") < cfg.max_concurrent_per_host
            ).persist()
            persists.append(kept)
            return alive, decided, denied, kept, persists

        # HEAD-LIMITED DEQUEUE (round-spec 3-5). The dequeue scan stops
        # at the budget point, so when the budget binds the round only
        # needs the priority HEAD of the frontier that contains it — at
        # a 10^10-row frontier with a 10^7 budget that is a ~1% scan,
        # and the `priority < cutoff` filter prunes parquet row groups/
        # files via min-max stats instead of reading them. Equivalence:
        # everything beyond the head sorts after the walk's stop point,
        # so taken rows, slots, and logged denials are identical
        # whenever the head yields >= `remaining` kept rows; if it
        # doesn't, widen geometrically (each attempt releases its
        # persists) and finally fall back to the full frontier.
        # gross physical rows: carried in meta (O(1)); a catalog whose
        # state was written outside the engine lacks the key — count
        # once (parquet metadata, no scan) and stamp it at this round's
        # commit
        _gross = meta.get("frontier_gross")
        pending_bound = int(_gross) if _gross is not None else pending.count()
        if pending_bound < remaining:
            cutoffs: list[float | None] = [None]
        else:
            cutoffs = []
            c = max(8 * remaining, 1024)
            while c < next_priority:
                cutoffs.append(float(c))
                c *= 8
            cutoffs.append(None)
        n_kept = -1
        for cutoff in cutoffs:
            head = (
                pending
                if cutoff is None
                else pending.filter(F.col("priority") < F.lit(cutoff))
            )
            alive, decided, denied, kept, attempt_persists = dequeue_attempt(head)
            if cutoff is None:
                # full frontier: exact kept count only needed when the
                # budget could bind (pending_bound >= remaining)
                n_kept = kept.count() if pending_bound >= remaining else -1
                break
            n_kept = kept.count()
            if n_kept >= remaining:
                break
            for df in attempt_persists:
                df.unpersist()
        round_persists.extend(attempt_persists)
        n_alive = alive.count() if self.collect_stats else -1
        n_best = decided.count() if self.collect_stats else -1

        # 5. budget point: p_star = priority of the last taken row WHEN
        # the budget fills (n_kept >= remaining); the dequeue scan never
        # reaches past it, so only denials with priority < p_star are
        # logged this round (round-spec 3-5) — the rest stay pending.
        if n_kept == -1:
            # budget cannot fill (pending_bound < remaining): the walk
            # scans every candidate; no cut, all denials logged
            to_fetch, p_star = kept, None
            n_to_fetch = -1 if pending_bound > 0 else 0  # resolved post-fetch
        elif n_kept >= remaining:
            if n_kept > remaining:
                # priorities are bounded dense ordinals → recompute-safe
                # bucketed ordinal cut (pure-expression pid, no sampling
                # job); the complement stays pending for free (append-
                # only frontier — nothing to write back)
                to_fetch, _rest = bucketed_limit_by(
                    kept, "priority", ["priority", "url_canon"], remaining,
                    bound=max(next_priority, 1),
                    num_buckets=cfg.frontier_partitions,
                    registry=round_persists,
                )
            else:
                to_fetch = kept
            p_star = to_fetch.agg(F.max("priority")).collect()[0][0]
            n_to_fetch = remaining
        else:
            to_fetch, p_star = kept, None
            n_to_fetch = n_kept

        denied_scanned = (
            denied
            if p_star is None
            else denied.filter(F.col("priority") < F.lit(float(p_star)))
        )
        denied_log = denied_scanned.select(
            "url_canon",
            "host",
            F.lit(rnd).alias("round"),
            F.lit(-1).alias("politeness_slot"),
            F.lit(-1).alias("seq_in_host"),
            F.lit("robots_denied").alias("status"),
            F.lit(None).cast("string").alias("error"),
        )
        denied_seen = denied_scanned.select(
            "url_canon", "url_hash", F.lit(rnd).alias("first_round")
        )

        if n_to_fetch == 0:
            # nothing fetchable: commit robots denials, report; caller
            # stops. The frontier is untouched — denied rows enter `seen`
            # (next round's dedup drops them) and deferred rows simply
            # stay in their append dirs (see step 9: the frontier is an
            # APPEND table; dequeue removes rows logically via `seen`,
            # never by rewriting).
            self.flush()  # barrier: strictly after the in-flight round
            self.catalog.commit(
                append={"fetch_log": denied_log, "seen": denied_seen},
                meta=self._carry_meta(
                    round=rnd,
                    next_priority=next_priority,
                    fetched_total=fetched_total,
                    frontier_gross=pending_bound,  # table untouched
                ),
            )
            for df in round_persists:
                df.unpersist()
            return {"round": rnd, "n_fetched": 0, "n_pending": -1, "stopped": True}

        # 6. cumulative per-host sequence (politeness_slot already assigned);
        #    host_seq is an append table of per-round deltas → aggregate
        host_seq = (
            self._read_state("host_seq")
            .groupBy("host")
            .agg(F.sum("n_fetched").cast("long").alias("n_fetched"))
        )
        to_fetch = (
            to_fetch.join(host_seq, "host", "left")
            .withColumn(
                "seq_in_host",
                (F.coalesce(F.col("n_fetched"), F.lit(0)) + F.col("politeness_slot"))
                .cast("int"),
            )
            .drop("n_fetched")
        )

        # 7. fetch — politeness slots are already assigned, so fetch needs
        #    no host-total-order; rebalance on (host, slot-salt) in BOTH
        #    rank modes. Plain mode needs it because hash-by-host puts a
        #    hot host on one task. Skew-safe mode used to skip it and
        #    inherit the bucketed rank's hash(priority-bucket, host)
        #    layout — but with ~n_buckets distinct keys per hot host that
        #    hash collides several bucket-groups onto some tasks (2-3x
        #    fetch skew), and the imbalance then propagates into every
        #    commit write of fetched-derived tables (measured on the 2M
        #    30%-hub battery: commit 19.4s vs 7.1s, fetch 70s vs 58s).
        #    One explicit shuffle here is strictly cheaper. Fusing this
        #    shuffle INTO the rank exchange (ranking on (host, pid%K) —
        #    the decomposition generalizes) was analyzed and rejected in
        #    r5: a host's kept rows are its cap-smallest priorities, so
        #    under a binding cap they collapse into ONE pid-salt class
        #    (measured: 100% of a 30%-hub's kept rows in one class) —
        #    only the slot-derived salt is uniform in every cap regime,
        #    and slots exist only after the rank. This shuffle carries
        #    kept rows <= the round budget (the small side, ~0.2 s at
        #    2M); see BENCH/BASELINE.md "Round-5: rank-shuffle floor".
        to_fetch = to_fetch.withColumn(
            "salt", F.pmod(F.col("politeness_slot"), F.lit(cfg.skew_salt_buckets)).cast("int")
        )
        to_fetch = to_fetch.repartition(cfg.frontier_partitions, "host", "salt")
        from crawleria_spark.sources.fetch import with_spans_column

        fetched = with_spans_column(
            fetch_stage(
                to_fetch,
                self.fetcher,
                retry_attempts=cfg.retry_attempts,
                backoff_min_s=cfg.retry_backoff_min_s,
                backoff_max_s=cfg.retry_backoff_max_s,
                simulate_wallclock=self.simulate_wallclock,
                politeness_delay_s=cfg.politeness_delay_s,
            )
        ).persist()
        # Narrow twin of the round batch: every derived output that does
        # NOT need spans/links (fetch_log, seen, host_seq, bloom, lineage
        # metrics) scans THIS ~50-byte/row cache instead of the wide
        # spans+links cache. With multi-executor deployments the commit's
        # concurrent write jobs otherwise each re-scan the wide cache
        # with imperfect locality — measured with 4 executor JVMs on one
        # host: the commit stage ran ~3x slower than single-JVM purely from
        # cross-executor block traffic (catalog on tmpfs unchanged, so
        # not the durable-write disk). The wide cache is now scanned
        # only by the documents write and link discovery.
        narrow = fetched.select(
            "url_canon", "url_hash", "host", "politeness_slot",
            "seq_in_host", "status", "error",
        ).persist()
        round_persists.append(narrow)

        # 9. discovery: ok pages under the depth bound, links in page order
        parents = fetched.filter(
            (F.col("status") == "ok") & (F.col("depth") < cfg.max_depth)
        )
        cand = parents.select(
            F.col("priority").alias("parent_priority"),
            (F.col("depth") + 1).alias("depth"),
            F.posexplode("links").alias("link_offset", "url"),
        )
        # JVM expression canonicalization (regexp in whole-stage codegen):
        # this runs on EVERY discovered link each round — as an Arrow UDF
        # it was the crawl loop's largest Python crossing
        cand = cand.withColumn("url_canon", url_canon_expr("url")).withColumn(
            "host", F.lower(host_expr("url"))
        )
        cand = self._domain_filter(cand).persist()
        round_persists.append(cand)  # `cand` is rebound below — track the
        n_cand = cand.count()        # persisted plan itself for release
        if n_cand > 0:
            # discovery order keys are (parent_priority, link_offset)
            # with parent_priority < next_priority — the bucketed ordinal
            # (pure-expression pid) retires with_dense_ordinal's
            # documented executor-loss recompute caveat here (r2 verdict)
            cand = bucketed_dense_ordinal(
                cand,
                "parent_priority",
                ["parent_priority", "link_offset"],
                bound=max(next_priority, 1),
                col_name="__ord",
                start=next_priority,
                num_buckets=cfg.frontier_partitions,
            )
            new_rows = cand.select(
                "url",
                "url_canon",
                url_hash_col("url_canon").alias("url_hash"),
                "host",
                "depth",
                F.col("__ord").cast("double").alias("priority"),
                F.lit(rnd).alias("discovered_round"),
                F.lit(0).alias("salt"),
            )
        else:
            new_rows = self._empty(FRONTIER_SCHEMA)
        next_priority += n_cand

        # 9b. frontier re-enqueue is an APPEND of the newly discovered
        # rows ONLY. Dequeued rows are removed LOGICALLY: everything
        # fetched or robots-denied this round enters `seen` in this same
        # commit, and next round's dedup (`alive = pending ∖ seen`)
        # drops them — the identical row set a physical rewrite would
        # produce, at O(delta) commit cost instead of O(pending).
        # Deferred (cap/budget) rows are not in `seen`, so they stay
        # live in their original append dirs untouched. At a 10^10-URL
        # frontier the per-round difference is appending ~10^7 rows vs
        # rewriting 10^10; the bloom prefilter keeps the accumulated
        # dead rows cheap at dequeue (they are seen ⇒ bloom-positive ⇒
        # confirmed dead map-side + one suspects join), and crawl()
        # compacts the frontier to its live set when delta dirs pile up.

        # per-partition lineage metrics (partition = hash bucket of host):
        # ONE small collect supplies both the lineage rows and the global
        # counters — scanning `narrow`, whose lineage passes through the
        # `fetched` persist, so this single action materializes BOTH
        # caches in one pass through the fetch UDF.
        part_col = F.pmod(F.xxhash64("host"), F.lit(cfg.frontier_partitions)).cast("int")
        part_rows = (
            narrow.groupBy(part_col.alias("partition"))
            .agg(
                F.count("*").cast("long").alias("n_dequeued"),
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0))
                .cast("long")
                .alias("n_fetched"),
                F.sum(F.when(F.col("status") == "error", 1).otherwise(0))
                .cast("long")
                .alias("n_errors"),
            )
            .collect()
        )
        n_fetch_rows = sum(r["n_dequeued"] for r in part_rows)
        n_errors = sum(r["n_errors"] for r in part_rows)
        wall_ms = int((time.time() - t0) * 1000)
        metrics_rows = [
            (rnd, r["partition"], r["n_dequeued"], 0, r["n_fetched"], r["n_errors"], 0, wall_ms)
            for r in part_rows
        ] + [
            (
                rnd,
                -1,
                n_fetch_rows,
                (n_alive - n_best) if self.collect_stats else -1,
                n_fetch_rows - n_errors,
                n_errors,
                n_cand,
                wall_ms,
            )
        ]
        metrics_df = self.spark.createDataFrame(metrics_rows, schema=METRICS_SCHEMA)

        fetched_total += n_fetch_rows
        # 8. documents/fetch_log/seen/host_seq (+ filter) deltas; all but
        #    documents scan the narrow cache
        append_tables = self._delta_tables(
            rnd, fetched, narrow, seen, denied_log=denied_log, denied_seen=denied_seen
        )
        append_tables["metrics"] = metrics_df
        if n_cand > 0:
            append_tables["frontier"] = new_rows
        new_meta = self._carry_meta(
            round=rnd,
            next_priority=next_priority,
            fetched_total=fetched_total,
            frontier_gross=pending_bound + n_cand,
        )
        if filter_table in append_tables:
            # the delta appended this round is current-epoch, and any
            # pre-existing filter rows were epoch-verified (rebuilt if
            # stale) by _read_filter_checked at round start — so the
            # stamp is safe, and it self-heals catalogs whose state was
            # bootstrapped outside init() (e.g. the bench harness)
            new_meta["amq_epoch"] = FILTER_EPOCH
        # barrier on the PREVIOUS round's in-flight commit: manifests
        # must version strictly in round order, and its deltas become
        # durable dirs this round's plans can recompute from
        self.flush()
        if async_commit:
            # Overlay copies are LAZY LOCAL CHECKPOINTS: they truncate
            # the next round's plan lineage at this round's boundary, so
            # plan depth stays CONSTANT over a pipelined crawl — without
            # truncation every round's overlay embeds the previous
            # round's full delta plan recursively and catalyst OOMs on
            # the nested tree within ~a dozen rounds. They materialize
            # from this round's persisted caches on first scan; blocks
            # are freed by the ContextCleaner when the next round's
            # flush drops the references. (localCheckpoint trades
            # executor-loss recompute for truncation — a lost round
            # re-runs from its committed snapshot, the engine's normal
            # failure unit.)
            overlay = {
                t: append_tables[t].localCheckpoint(eager=False)
                for t in ("frontier", "seen", "host_seq", filter_table)
                if t in append_tables
            }
            base_version = self.catalog.latest_version()
            self._pending = {
                "future": self._commit_executor().submit(
                    self.catalog.commit, append=append_tables, meta=new_meta
                ),
                "append": overlay,
                "meta": new_meta,
                "base_version": base_version,
                "persists": [fetched, *round_persists],
            }
        else:
            self.catalog.commit(append=append_tables, meta=new_meta)
        # gross row count (live + not-yet-compacted dequeued rows) — an
        # upper bound on the live frontier, NOT an exact live count
        # (which would cost an anti-join per round). Pure arithmetic:
        # rows at round start + rows appended this round (the frontier
        # only ever changes by appends between compactions).
        n_pending = pending_bound + n_cand
        if not async_commit:
            for df in (fetched, *round_persists):
                df.unpersist()
        return {
            "round": rnd,
            "n_fetched": n_fetch_rows,
            "n_discovered": n_cand,
            "n_pending": n_pending,
            "fetched_total": fetched_total,
            # fixpoint: nothing fetched AND nothing discovered ⇒ the next
            # round would be identical (the gross frontier can be
            # non-empty while every row is dead/capped) — stop.
            "stopped": n_fetch_rows == 0 and n_cand == 0,
            # accepted head cutoff (None = full-frontier scan)
            "head_cutoff": cutoff,
        }

    def _unsee(
        self,
        kept: DataFrame,
        expired: DataFrame,
        n_expired: int,
        requeue: bool,
        hashes: list[int] | None = None,
    ) -> None:
        """The one atomic un-see commit of forget() and refresh().

        ``expired`` holds the seen rows to un-see (``url_canon``,
        ``url_hash``) and ``__ord``, their dense 0-based requeue order;
        ``kept`` is the surviving seen set. The commit replaces ``seen``
        with ``kept``, updates the AMQ filter and stamps ``amq_epoch``,
        and with ``requeue`` appends the expired URLs to the frontier as
        depth-0 rows with fresh priorities in ``__ord`` order. Existing
        documents/fetch_log rows stay; a re-fetch appends new rows.

        The cuckoo kind DELETES ``hashes`` (O(filter bytes)) when the
        caller passes them, the wave is at most FORGET_DELETE_MAX keys
        and the filter is at the current epoch (stale blobs probe wrong,
        so deleting would corrupt silently). Otherwise — and always for
        blooms, which cannot delete — the filter is rebuilt from
        ``kept`` in one distributed pass."""
        meta = dict(self.catalog.latest_meta())
        rnd = int(meta.get("round", -1))
        replace: dict[str, DataFrame] = {"seen": kept}
        if self.use_bloom:
            filter_table, build_filter, _ = self._seen_filter_ops()
            if self.catalog.exists(filter_table):
                if (
                    hashes is not None
                    and filter_table == "seen_cuckoo"
                    and n_expired <= self.FORGET_DELETE_MAX
                    and meta.get("amq_epoch") == FILTER_EPOCH
                ):
                    from crawleria_spark.operators.cuckoo import delete_hashes

                    replace[filter_table] = delete_hashes(
                        self.catalog.read(filter_table),
                        hashes,
                        n_buckets=self.config.frontier_partitions,
                    )
                else:
                    replace[filter_table] = build_filter(kept.select("url_hash"))
                meta["amq_epoch"] = FILTER_EPOCH  # freshly written blobs
        append: dict[str, DataFrame] = {}
        if requeue:
            next_priority = int(meta["next_priority"])
            append["frontier"] = expired.select(
                F.col("url_canon").alias("url"),  # canon is fetchable
                "url_canon",
                "url_hash",
                F.lower(host_expr("url_canon")).alias("host"),
                F.lit(0).alias("depth"),
                (F.col("__ord") + F.lit(next_priority)).cast("double").alias("priority"),
                F.lit(rnd).alias("discovered_round"),
                F.lit(0).alias("salt"),
            )
            meta["next_priority"] = next_priority + n_expired
            if "frontier_gross" in meta:
                meta["frontier_gross"] = int(meta["frontier_gross"]) + n_expired
        self.catalog.commit(replace=replace, append=append or None, meta=meta)

    def forget(self, urls: list[str], requeue: bool = True) -> int:
        """Un-see URLs so future rounds re-fetch them (re-crawl/refresh
        scheduling). Returns how many of the URLs were actually seen.

        Admin op, not a round: one ``_unsee`` commit. This is where
        ``config.seen_filter`` matters: the CUCKOO kind deletes the
        targets' fingerprints, while the bloom kind must rebuild from
        the full remaining seen set — a forget-heavy deployment should
        therefore run with ``seen_filter="cuckoo"``; under the default
        bloom every forget relaunches an O(total-seen) distributed
        rebuild. With ``requeue=True`` the forgotten URLs are re-enqueued
        in caller order (else they are only re-fetched if re-discovered).
        The reference has no re-crawl support at all (its URL-seen
        ``Set`` import is dead code, src/crawler/crawler.py:8)."""
        self.flush()
        canon = list(dict.fromkeys(canonicalize(u) for u in urls))  # caller order
        if not canon:
            return 0
        targets = self.spark.createDataFrame(
            [(c,) for c in canon], "url_canon string"
        )
        seen = self.catalog.read("seen")
        present_rows = (
            seen.join(targets, "url_canon", "left_semi")
            .select("url_canon", "url_hash")
            .collect()  # bounded by len(urls) — admin-op scale
        )
        if not present_rows:
            return 0
        present = {r["url_canon"]: int(r["url_hash"]) for r in present_rows}
        expired = self.spark.createDataFrame(
            [(c, present[c], i) for i, c in enumerate(c for c in canon if c in present)],
            "url_canon string, url_hash long, __ord long",
        )
        self._unsee(
            seen.join(targets, "url_canon", "left_anti"),
            expired,
            len(present),
            requeue,
            hashes=list(present.values()),
        )
        return len(present)

    def refresh(self, max_age_rounds: int, requeue: bool = True) -> dict:
        """Bulk TTL re-crawl: un-see every URL first fetched more than
        ``max_age_rounds`` rounds ago; with ``requeue`` (default) append
        them all back onto the frontier in (first_round, url_canon)
        order with fresh priorities, so subsequent rounds re-fetch the
        stalest pages first. Robots-denied seen entries expire too —
        rules may have changed; a still-denied URL is simply re-denied
        (and re-seen) by its next round.

        The BULK counterpart of forget(), through the same ``_unsee``
        commit: everything stays distributed — the expired set is never
        collected (at 10^10 URLs a refresh wave can be most of the
        table). The AMQ filter is always REBUILT from the surviving seen
        rows rather than deleting expired fingerprints one by one: a
        wave deletes a large fraction of all keys, where rebuild is
        O(survivors) and yields a fresh compact filter (both kinds;
        cuckoo's O(filter) delete remains the right tool for the bounded
        forget() path). Requeue order comes from the recompute-safe
        bucketed ordinal — no single-partition window, no sampling job.
        Resumable like any round boundary."""
        self.flush()
        rnd = int(self.catalog.latest_meta().get("round", -1))
        cutoff = rnd - max_age_rounds
        seen = self.catalog.read("seen")
        expired = seen.filter(F.col("first_round") <= F.lit(cutoff))
        n_expired = expired.count()
        if n_expired == 0:
            return {"round": rnd, "expired": 0, "requeued": 0}
        ranked = bucketed_dense_ordinal(
            expired,
            "first_round",
            ["first_round", "url_canon"],
            bound=float(rnd + 1),
            col_name="__ord",
        )
        self._unsee(
            seen.filter(F.col("first_round") > F.lit(cutoff)), ranked, n_expired, requeue
        )
        return {
            "round": rnd,
            "expired": n_expired,
            "requeued": n_expired if requeue else 0,
        }

    def capture_single_page(self, url: str) -> dict:
        """Reference F10 (``capture_single_page``, src/crawler/crawler.py:
        179-203): fetch ONE URL and append its artifacts; returns the
        fetch-log row plus the stored doc_id (artifacts live in the
        documents table, not loose files).

        This is an APPEND-only mini round, NOT ``crawl([url])``: the
        reference's capture is independent of the crawl loop (a direct
        single-page scrape), so capturing into a catalog that holds a
        previous crawl must preserve that crawl's frontier/seen/
        documents — init would REPLACE them. Like the reference, the
        capture bypasses the robots gate and the page budget (neither
        gates its direct scrape), and it does not consume crawl budget
        (``fetched_total`` unchanged); it does consume one priority
        ordinal so priorities stay globally unique.
        """
        from crawleria_spark.sources.fetch import with_spans_column

        self.flush()
        cfg = self.config
        if self.catalog.latest_version() is None:
            self.init([])  # fresh root: bootstrap empty state tables
        meta = self.catalog.latest_meta()
        rnd = int(meta["round"]) + 1
        next_priority = int(meta["next_priority"])
        canon = canonicalize(url)
        host = host_of(url).lower()
        prior = 0
        if self.catalog.exists("host_seq"):
            agg = (
                self.catalog.read("host_seq")
                .filter(F.col("host") == host)
                .agg(F.sum("n_fetched"))
                .collect()[0][0]
            )
            prior = int(agg or 0)
        one = self.spark.createDataFrame(
            [(url, canon, host, 0, float(next_priority), rnd, 0, 0, prior)],
            schema="url string, url_canon string, host string, depth int, "
            "priority double, discovered_round int, salt int, "
            "politeness_slot int, seq_in_host int",
        ).withColumn("url_hash", url_hash_col("url_canon"))
        fetched = with_spans_column(
            fetch_stage(
                one,
                self.fetcher,
                retry_attempts=cfg.retry_attempts,
                backoff_min_s=cfg.retry_backoff_min_s,
                backoff_max_s=cfg.retry_backoff_max_s,
                simulate_wallclock=self.simulate_wallclock,
                politeness_delay_s=cfg.politeness_delay_s,
            )
        ).persist()
        self.catalog.commit(
            append=self._delta_tables(rnd, fetched, fetched),
            meta=self._carry_meta(
                round=rnd,
                next_priority=next_priority + 1,
                fetched_total=int(meta["fetched_total"]),
            ),
        )
        fetched.unpersist()
        # Filter BOTH reads to the captured url_canon before collecting —
        # on a long-lived catalog an unfiltered collect() of fetch_log /
        # documents is a driver-killer, and log[0] would be an arbitrary
        # stale row rather than this capture's.
        log = (
            self.catalog.read("fetch_log")
            .filter(F.col("url_canon") == canon)
            .orderBy(F.col("round").desc())
            .limit(1)
            .collect()
        )
        docs = (
            self.catalog.read("documents")
            .filter(F.col("url_canon") == canon)
            .orderBy(F.col("round").desc())
            .limit(1)
            .collect()
        )
        row = log[0].asDict() if log else {}
        row["doc_id"] = docs[0]["doc_id"] if docs else None
        return row

    # ----------------------------------------------------------------- crawl

    def crawl(self, seeds: list[str] | None = None, max_rounds: int = 100) -> list[dict]:
        """Run rounds until frontier empty / budget exhausted / max_rounds.

        With ``seeds=None`` the engine RESUMES from the latest committed
        snapshot (kill-resume semantics, SURVEY.md §4).
        """
        if seeds is not None:
            self.init(seeds)
        filter_table, _, compact_filter = self._seen_filter_ops()
        read = self.catalog.read
        rewrites = {
            "seen": lambda: read("seen"),
            # host_seq compacts to the RUNNING PER-HOST TOTALS (one row
            # per host), not a concatenation of the delta rows: rounds
            # only ever consume sum(n_fetched) per host, so the next
            # round's aggregate reads O(distinct hosts) compacted totals
            # + O(recent rounds) un-compacted deltas instead of the full
            # per-round delta history (r3 verdict: that input grew with
            # crawl breadth × round count)
            "host_seq": lambda: read("host_seq")
            .groupBy("host")
            .agg(F.sum("n_fetched").cast("long").alias("n_fetched")),
            # the frontier compacts to its LIVE set (gross ∖ seen): the
            # append-only re-enqueue leaves dequeued rows in place until
            # this periodic rewrite reclaims them — one O(live) write
            # every ~64 rounds instead of every round
            "frontier": lambda: read("frontier").join(
                read("seen").select("url_canon"), "url_canon", "left_anti"
            ),
        }
        if self.use_bloom:
            # the filter append-table also merges rows per bucket when
            # compacted, so probe-time merge cost stays bounded too
            rewrites[filter_table] = lambda: compact_filter(read(filter_table))
        stats = []
        for _ in range(max_rounds):
            meta = self._latest_meta()
            if int(meta["fetched_total"]) >= self.config.max_pages:
                break
            # gross == 0 ⟺ the append table has no physical rows at all
            # ⟺ isEmpty — the meta read replaces a per-round Spark job
            _gross = meta.get("frontier_gross")
            if (int(_gross) == 0) if _gross is not None else (
                self._read_state("frontier").isEmpty()
            ):
                break
            st = self.run_round(async_commit=self.pipeline_commits)
            stats.append(st)
            if st["stopped"]:
                break
            # bound file-listing growth of append tables on long crawls:
            # every table past the threshold is rewritten in ONE commit.
            # Thresholds count the logical dirs, so pipelined and
            # blocking crawls compact at the same rounds; the commit
            # barriers via flush() first
            due = [
                t for t in rewrites
                if self._n_dirs_logical(t) > self.config.compact_dirs_threshold
            ]
            if due:
                self.flush()
                meta = dict(self.catalog.latest_meta())
                if "frontier" in due:
                    # the rewrite drops dead rows, so the carried gross
                    # count is stale — drop the key; the next round
                    # counts the freshly-compacted dirs once
                    # (metadata-only) and re-stamps it
                    meta.pop("frontier_gross", None)
                self.catalog.commit(
                    replace={t: rewrites[t]() for t in due}, meta=meta
                )
        # final barrier: callers observe a fully durable catalog — the
        # pipelined mode never changes what crawl() leaves on disk
        self.flush()
        return stats
