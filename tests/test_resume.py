"""Kill/resume: a crawl interrupted after round r and resumed from the
latest committed snapshot must produce the identical final state as an
uninterrupted run (SURVEY.md §4 checkpoint/resume; north-rule
"resumable mid-crawl")."""

from crawleria_spark.config import CrawlConfig
from crawleria_spark.plans.engine import CrawlEngine
from crawleria_spark.plans.snapshot import SnapshotCatalog
from crawleria_spark.sources.fetch import synthetic_fetcher
from crawleria_spark.synthetic.world import WorldConfig, robots_rules, seed_urls

WORLD = WorldConfig(seed=5, n_hosts=6, pages_per_host=25, mean_links=5)
CONFIG = CrawlConfig(max_depth=2, max_pages=25, max_concurrent_per_host=3)
SEEDS = seed_urls(WORLD, n=3)


def _mk_engine(spark, root):
    return CrawlEngine(
        spark,
        SnapshotCatalog(spark, root),
        CONFIG,
        synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD),
    )


def _final_state(catalog):
    log = sorted(
        (r["host"], r["seq_in_host"], r["url_canon"], r["round"], r["status"])
        for r in catalog.read("fetch_log").collect()
    )
    seen = sorted(r["url_canon"] for r in catalog.read("seen").collect())
    docs = sorted(
        (r["doc_id"], tuple((s["kind"], s["offset"]) for s in r["spans"]))
        for r in catalog.read("documents").collect()
    )
    return log, seen, docs, catalog.latest_meta()


def test_resume_equals_uninterrupted(spark, tmp_path):
    # interrupted: init + 2 rounds, then a NEW engine resumes from disk
    root_a = str(tmp_path / "interrupted")
    eng = _mk_engine(spark, root_a)
    eng.init(SEEDS)
    eng.run_round()
    eng.run_round()  # "crash" here — state lives only in committed snapshots
    resumed = _mk_engine(spark, root_a)
    resumed.crawl(seeds=None, max_rounds=20)

    # uninterrupted
    root_b = str(tmp_path / "full")
    _mk_engine(spark, root_b).crawl(SEEDS, max_rounds=20)

    state_a = _final_state(SnapshotCatalog(spark, root_a))
    state_b = _final_state(SnapshotCatalog(spark, root_b))
    assert state_a == state_b


def test_pipelined_crawl_equals_blocking(spark, tmp_path):
    """pipeline_commits=True (crawl's default: round r's commit writes
    overlap round r+1's compute) must leave a byte-identical logical
    catalog to blocking mode — the overlay reads (pre-commit manifest ∪
    in-memory delta, pinned base version) and the flush barriers
    reorder WHEN writes run, never what any committed manifest holds.
    Guards the two bugs found while building it: unbounded overlay plan
    nesting (OOM) and the landed-commit double-apply race (seq_in_host
    shift)."""
    import dataclasses

    states = {}
    for mode in (True, False):
        root = str(tmp_path / f"pipe_{mode}")
        cfg = dataclasses.replace(CONFIG, max_pages=40)
        eng = CrawlEngine(
            spark, SnapshotCatalog(spark, root), cfg,
            synthetic_fetcher(WORLD), robots_rows=robots_rules(WORLD),
            use_bloom=True, pipeline_commits=mode,
        )
        eng.crawl(SEEDS, max_rounds=20)
        assert eng._pending is None  # crawl always leaves a durable catalog
        states[mode] = _final_state(SnapshotCatalog(spark, root))
    assert states[True] == states[False]


def test_stale_filter_epoch_rebuilds(spark, tmp_path):
    """A catalog whose AMQ blobs predate the current hashing scheme
    (meta amq_epoch != bloom.FILTER_EPOCH) must be detected at the next
    probe and rebuilt from the exact seen table. The blobs carry no
    version header, so without the stamp the mismatch is undetectable:
    already-seen URLs probe certainly-new, bypass the exact anti-join,
    and re-fetch as duplicate seen/documents rows. Simulated by
    replacing the filter with an EMPTY (probe-all-negative) table plus
    a stale stamp mid-crawl — the resumed run must still equal an
    uninterrupted one."""
    from crawleria_spark.operators.bloom import BLOOM_SCHEMA, FILTER_EPOCH

    def mk(root):
        cat = SnapshotCatalog(spark, root)
        return CrawlEngine(
            spark, cat, CONFIG, synthetic_fetcher(WORLD),
            robots_rows=robots_rules(WORLD), use_bloom=True,
        ), cat

    root_a = str(tmp_path / "stale")
    eng, cat = mk(root_a)
    eng.init(SEEDS)
    eng.run_round()
    eng.run_round()
    meta = dict(cat.latest_meta())
    meta["amq_epoch"] = 1  # pre-_mix64 catalog
    cat.commit(
        replace={"seen_bloom": spark.createDataFrame([], BLOOM_SCHEMA)},
        meta=meta,
    )
    resumed, _ = mk(root_a)
    resumed.crawl(seeds=None, max_rounds=20)
    assert cat.latest_meta()["amq_epoch"] == FILTER_EPOCH  # re-stamped

    root_b = str(tmp_path / "stale_full")
    eng_b, cat_b = mk(root_b)
    eng_b.crawl(SEEDS, max_rounds=20)
    assert _final_state(cat) == _final_state(cat_b)  # no duplicate rows


def test_seen_filter_kind_is_catalog_state(spark, tmp_path):
    """The AMQ kind is persisted at init and wins over a disagreeing
    later invocation: resuming / forgetting a cuckoo catalog with a
    default-bloom config must keep maintaining the CUCKOO filter
    (ADVICE r3: the per-invocation flag silently skipped filter
    bookkeeping when it disagreed with the catalog)."""
    import dataclasses

    from pyspark.sql import functions as F

    root = str(tmp_path / "kind")
    cat = SnapshotCatalog(spark, root)
    cfg_cuckoo = dataclasses.replace(CONFIG, seen_filter="cuckoo", max_pages=12)
    eng = CrawlEngine(
        spark, cat, cfg_cuckoo, synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD), use_bloom=True,
    )
    eng.init(SEEDS)
    eng.run_round()
    assert cat.latest_meta()["seen_filter"] == "cuckoo"

    # resumed under the DEFAULT (bloom) config — catalog kind wins
    eng2 = CrawlEngine(
        spark, cat, CONFIG, synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD), use_bloom=True,
    )
    eng2.crawl(seeds=None, max_rounds=10)
    assert cat.exists("seen_cuckoo") and not cat.exists("seen_bloom")
    assert cat.latest_meta()["seen_filter"] == "cuckoo"
    n_items = cat.read("seen_cuckoo").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == cat.read("seen").count()  # bookkeeping never skipped

    victims = [
        r["url_canon"]
        for r in cat.read("seen").orderBy("url_canon").limit(2).collect()
    ]
    assert eng2.forget(victims) == 2  # maintains the cuckoo filter too
    n_items = cat.read("seen_cuckoo").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == cat.read("seen").count()


def test_round_commit_is_atomic(spark, tmp_path):
    """Manifest versions advance one per round; every version is readable
    (a reader never observes a partial commit)."""
    root = str(tmp_path / "atomic")
    eng = _mk_engine(spark, root)
    eng.init(SEEDS)
    eng.run_round()
    eng.run_round()
    cat = SnapshotCatalog(spark, root)
    assert cat.latest_version() == 2  # init + 2 rounds
    for v in range(3):
        manifest = cat._load_manifest(v)
        assert set(manifest["tables"]) >= {
            "frontier", "seen", "documents", "fetch_log", "metrics", "host_seq",
        }
        assert "round" in manifest["meta"]


def test_capture_single_page(spark, tmp_path):
    """F10: one-URL frontier round (reference capture_single_page,
    src/crawler/crawler.py:179-203)."""
    eng = _mk_engine(spark, str(tmp_path / "single"))
    url = SEEDS[0]
    row = eng.capture_single_page(url)
    assert row["status"] == "ok"
    assert row["politeness_slot"] == 0 and row["seq_in_host"] == 0
    assert row["doc_id"] and row["doc_id"].startswith("h")
    # a ;params variant is the same page: same url_canon, and the doc_id
    # drops the params the way the reference's urlparse does
    from crawleria_spark.functions.urls import canonicalize, clean_filename

    variant = url + ";jsessionid=X"
    row = eng.capture_single_page(variant)
    assert row["status"] == "ok"
    assert row["url_canon"] == canonicalize(url)
    assert row["doc_id"] == clean_filename(variant) == clean_filename(url)


def test_fresh_crawl_resets_reused_catalog(spark, tmp_path):
    """A fresh crawl (init) into a catalog root that already holds a
    previous run must NOT inherit its seen set, documents, or fetch_log —
    else the second crawl silently dedups against the first and mixes
    stale rows into results (ADVICE r1). The two runs must match a run
    into a clean root exactly."""
    reused = str(tmp_path / "reused")
    _mk_engine(spark, reused).crawl(SEEDS, max_rounds=20)
    first = _final_state(SnapshotCatalog(spark, reused))

    # second fresh crawl into the SAME root (CLI default behavior)
    _mk_engine(spark, reused).crawl(SEEDS, max_rounds=20)
    second = _final_state(SnapshotCatalog(spark, reused))
    assert second == first  # no stale seen/docs/log leaked in

    # and capture_single_page on the used catalog returns THIS capture
    # while PRESERVING the prior crawl's state (append-only capture —
    # ADVICE r2: the old crawl([url]) path init-wiped the catalog)
    eng = _mk_engine(spark, reused)
    docs_before = eng.catalog.read("documents").count()
    log_before = eng.catalog.read("fetch_log").count()
    budget_before = eng.catalog.latest_meta()["fetched_total"]
    row = eng.capture_single_page(SEEDS[1])
    assert row["status"] == "ok"
    from crawleria_spark.functions.urls import canonicalize

    assert row["url_canon"] == canonicalize(SEEDS[1])
    assert eng.catalog.read("documents").count() == docs_before + 1
    assert eng.catalog.read("fetch_log").count() == log_before + 1
    # capture does not consume crawl budget
    assert eng.catalog.latest_meta()["fetched_total"] == budget_before


def test_wallclock_politeness_smoke(spark, tmp_path):
    """simulate_wallclock honors per-host crawl_delay_s from robots rules
    (logical outputs identical to the logical-only mode)."""
    import time as _time

    from crawleria_spark.synthetic.world import robots_rules

    cfg = CrawlConfig(max_depth=0, max_pages=6, max_concurrent_per_host=6)
    rules = [dict(r, crawl_delay_s=0.05) for r in robots_rules(WORLD)]
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path / "wc")),
        cfg,
        synthetic_fetcher(WORLD),
        robots_rows=rules,
        simulate_wallclock=True,
    )
    seeds = [f"https://{WORLD.host(0)}/p/{i}" for i in range(6)]
    t0 = _time.time()
    eng.crawl(seeds, max_rounds=1)
    wall = _time.time() - t0
    log = eng.catalog.read("fetch_log").collect()
    assert len(log) == 6
    assert sorted(r["politeness_slot"] for r in log) == list(range(6))
    assert wall >= 0.05 * 4  # at least some slot gaps actually slept


def test_frontier_append_only_with_live_compaction(spark, tmp_path):
    """r3: the per-round frontier commit APPENDS only newly discovered
    rows (O(delta), never a rewrite of the pending set); dequeued rows
    are dropped logically via `seen` and reclaimed by the periodic
    live-set compaction. A gross-nonempty-but-dead frontier must stop
    the crawl (fixpoint), not loop forever."""
    from dataclasses import replace

    root = str(tmp_path / "af")
    eng = _mk_engine(spark, root)
    eng.config = replace(eng.config, compact_dirs_threshold=2)
    eng.crawl(SEEDS, max_rounds=20)
    cat = eng.catalog

    manifest = cat.latest_manifest()
    # compaction kicked in: frontier dirs bounded by threshold + a few
    assert len(manifest["tables"]["frontier"]) <= 3
    # compacted frontier holds NO already-seen rows
    seen = {r["url_canon"] for r in cat.read("seen").collect()}
    frontier_rows = {r["url_canon"] for r in cat.read("frontier").collect()}
    overlap = frontier_rows & seen
    assert not overlap or len(manifest["tables"]["frontier"]) > 1
    # parity state equals a run with the default threshold (storage
    # layout must not change observable results)
    base = _mk_engine(spark, str(tmp_path / "base"))
    base.crawl(SEEDS, max_rounds=20)
    for table in ("documents", "fetch_log", "seen"):
        a = sorted(map(tuple, cat.read(table).drop("spans").collect()))
        b = sorted(map(tuple, base.catalog.read(table).drop("spans").collect()))
        assert a == b, table


def test_head_limited_dequeue(spark, tmp_path):
    """r3: when the page budget binds, the round dequeues from a
    priority HEAD of the frontier (priority < cutoff pushed to the
    parquet scan), widening geometrically when the head under-fills —
    with outputs identical to the full scan (the dequeue scan stops at
    the budget point either way)."""
    from dataclasses import replace
    from pyspark.sql import functions as F

    from crawleria_spark.plans.engine import (
        DOCUMENTS_SCHEMA, FETCH_LOG_SCHEMA, HOST_SEQ_SCHEMA, METRICS_SCHEMA,
    )
    from crawleria_spark.sources.fetch import synthetic_fetcher

    def mk_state(root, n_frontier, n_dead):
        cat = SnapshotCatalog(spark, root)
        frontier = spark.range(n_frontier).select(
            F.concat(F.lit("https://h"), F.col("id") % 7, F.lit(".example.org/p/"), F.col("id")).alias("url"),
            F.concat(F.lit("https://h"), F.col("id") % 7, F.lit(".example.org/p/"), F.col("id")).alias("url_canon"),
            F.concat(F.lit("h"), F.col("id") % 7, F.lit(".example.org")).alias("host"),
            F.lit(0).alias("depth"),
            F.col("id").cast("double").alias("priority"),
            F.lit(-1).alias("discovered_round"),
            F.lit(0).alias("salt"),
        ).withColumn("url_hash", F.xxhash64("url_canon"))
        seen = frontier.filter(F.col("priority") < n_dead).select(
            "url_canon", "url_hash", F.lit(-1).alias("first_round")
        )
        def empty(s):
            return spark.createDataFrame([], s)
        cat.commit(
            replace={"frontier": frontier.select(
                "url", "url_canon", "url_hash", "host", "depth",
                "priority", "discovered_round", "salt"),
                "seen": seen, "host_seq": empty(HOST_SEQ_SCHEMA)},
            append={"documents": empty(DOCUMENTS_SCHEMA),
                    "fetch_log": empty(FETCH_LOG_SCHEMA),
                    "metrics": empty(METRICS_SCHEMA)},
            meta={"round": -1, "next_priority": n_frontier, "fetched_total": 0},
        )
        return cat

    cfg = CrawlConfig(max_depth=0, max_pages=50, max_concurrent_per_host=10**9,
                      respect_robots_txt=False)
    # head engages on the first attempt: budget 50 → cutoff 1024 holds
    # plenty of live rows
    cat1 = mk_state(str(tmp_path / "h1"), 20_000, n_dead=0)
    eng1 = CrawlEngine(spark, cat1, cfg, synthetic_fetcher(WORLD))
    st1 = eng1.run_round()
    assert st1["head_cutoff"] == 1024.0
    assert st1["n_fetched"] == 50
    fetched = {r["url_canon"] for r in cat1.read("fetch_log").collect()}
    assert fetched == {f"https://h{i % 7}.example.org/p/{i}" for i in range(50)}

    # all of the first head is dead → the engine widens geometrically
    # and still fetches exactly the globally-first 50 LIVE rows
    cat2 = mk_state(str(tmp_path / "h2"), 20_000, n_dead=5_000)
    eng2 = CrawlEngine(spark, cat2, cfg, synthetic_fetcher(WORLD))
    st2 = eng2.run_round()
    assert st2["head_cutoff"] is not None and st2["head_cutoff"] > 1024.0
    assert st2["n_fetched"] == 50
    fetched2 = {r["url_canon"] for r in cat2.read("fetch_log").collect()}
    assert fetched2 == {f"https://h{i % 7}.example.org/p/{i}" for i in range(5_000, 5_050)}

    # the cutoff filter reaches the parquet scan (file/row-group pruning)
    plan = cat2.read("frontier").filter(F.col("priority") < 1024.0)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "priority" in plan


def test_refresh_ttl_recrawl(spark, tmp_path):
    """Bulk TTL refresh: URLs first fetched more than max_age_rounds ago
    are un-seen and re-enqueued stalest-first; a resumed crawl re-fetches
    exactly them and the seen set converges back to the original."""
    import dataclasses
    import shutil

    from pyspark.sql import functions as F

    root = str(tmp_path / "refresh")
    cfg = dataclasses.replace(CONFIG, max_pages=10_000)
    engine = CrawlEngine(
        spark,
        SnapshotCatalog(spark, root),
        cfg,
        synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD),
        use_bloom=True,
    )
    engine.crawl(SEEDS)
    catalog = engine.catalog
    rnd = int(catalog.latest_meta()["round"])
    assert rnd >= 1  # the world spans multiple rounds
    seen_before = {
        r["url_canon"]: r["first_round"] for r in catalog.read("seen").collect()
    }
    wave = {c for c, fr in seen_before.items() if fr <= 0}
    assert 0 < len(wave) < len(seen_before)
    next_priority = int(catalog.latest_meta()["next_priority"])

    # nothing old enough → no-op, no commit
    v = catalog.latest_version()
    assert engine.refresh(max_age_rounds=rnd + 10) == {
        "round": rnd, "expired": 0, "requeued": 0,
    }
    assert catalog.latest_version() == v
    # a pre-refresh copy for the forget() comparison below: its manifests
    # still point at this catalog's data dirs, which nothing removes
    copy_root = str(tmp_path / "forget_copy")
    shutil.copytree(root, copy_root, symlinks=True)

    # expire the round-0 wave only
    out = engine.refresh(max_age_rounds=rnd)
    assert out["expired"] == len(wave) == out["requeued"]
    seen_mid = {r["url_canon"] for r in catalog.read("seen").collect()}
    assert seen_mid == set(seen_before) - wave
    # filter tracks the surviving seen set exactly (rebuilt)
    n_items = catalog.read("seen_bloom").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == len(seen_mid)
    # requeued rows: fresh dense priorities in (first_round, url_canon)
    # order, host re-derived, depth 0
    rq = sorted(
        (r["priority"], r["url_canon"], r["host"], r["depth"])
        for r in catalog.read("frontier")
        .filter(F.col("priority") >= next_priority)
        .collect()
    )
    assert len(rq) == len(wave)
    assert [p for p, *_ in rq] == [float(next_priority + i) for i in range(len(rq))]
    assert [c for _, c, *_ in rq] == sorted(wave)
    assert all(d == 0 and h and h in c for _, c, h, d in rq)
    assert int(catalog.latest_meta()["next_priority"]) == next_priority + len(wave)

    # forget() of the same wave in (first_round, url_canon) order goes
    # through the same un-see commit: identical seen set, filter size,
    # requeued rows and priority/frontier bookkeeping
    copy = SnapshotCatalog(spark, copy_root)
    forgetter = CrawlEngine(
        spark, copy, cfg, synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD), use_bloom=True,
    )
    assert forgetter.forget(sorted(wave)) == len(wave)
    assert {r["url_canon"] for r in copy.read("seen").collect()} == seen_mid
    assert copy.read("seen_bloom").agg(F.sum("n_items")).collect()[0][0] == n_items
    assert rq == sorted(
        (r["priority"], r["url_canon"], r["host"], r["depth"])
        for r in copy.read("frontier")
        .filter(F.col("priority") >= next_priority)
        .collect()
    )
    for key in ("next_priority", "frontier_gross"):
        assert copy.latest_meta()[key] == catalog.latest_meta()[key], key

    # a resumed crawl re-fetches exactly the expired wave
    engine.crawl(seeds=None, max_rounds=20)
    counts = {
        r["url_canon"]: r["n"]
        for r in catalog.read("fetch_log")
        .groupBy("url_canon")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for c in wave:
        assert counts[c] == 2, c  # original + refresh fetch
    assert {r["url_canon"] for r in catalog.read("seen").collect()} == set(
        seen_before
    )
