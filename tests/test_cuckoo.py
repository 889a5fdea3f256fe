"""Cuckoo seen-set properties: zero false negatives (incl. under
overload via the stash), bounded FP rate, O(delta) sparse appends,
anti-join equivalence, merge losslessness, deletion semantics, full
engine parity with seen_filter="cuckoo", and the forget() re-crawl
path the cuckoo deletion enables."""

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawleria_spark.operators.bloom import anti_join_seen, bloom_split
from crawleria_spark.operators.cuckoo import (
    SLOTS,
    _decompose,
    _encode,
    _insert_all,
    _merge_blobs,
    _probe,
    build_cuckoo,
    compact_cuckoo,
    cuckoo_m_buckets,
    delete_hashes,
)


def _table_for(keys: np.ndarray, m: int):
    fp, i1, _ = _decompose(keys, m)
    table = np.zeros(m * SLOTS, dtype=np.uint16)
    occ = np.zeros(m, dtype=np.int32)
    stash_b, stash_f = _insert_all(table, occ, i1, fp, m)
    return _encode(m, table, stash_b, stash_f)


def test_cuckoo_numpy_no_false_negatives():
    m = cuckoo_m_buckets(10_000)
    rng = np.random.default_rng(0)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64))
    blob = _table_for(keys, m)
    assert _probe(blob, keys).all()  # zero FN

    probes = rng.integers(-(2**62), 2**62, size=100_000, dtype=np.int64)
    probes = np.setdiff1d(probes, keys)
    fp_rate = _probe(blob, probes).mean()
    assert fp_rate < 0.005  # design rate ≈ 8/2^16 ≈ 1.2e-4


def test_cuckoo_stash_keeps_zero_fn_under_overload():
    """Correctness never depends on table room: past-capacity inserts
    land in the stash and still probe positive."""
    m = 64  # 256 slots
    rng = np.random.default_rng(1)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=400, dtype=np.int64))
    blob = _table_for(keys, m)
    assert _probe(blob, keys).all()
    # and a merge of two overloaded filters stays exact
    keys2 = np.unique(rng.integers(-(2**62), 2**62, size=200, dtype=np.int64))
    merged = _merge_blobs([blob, _table_for(keys2, m)])
    assert _probe(merged, keys).all() and _probe(merged, keys2).all()


def test_probe_empty_filter_no_hits():
    """A fully-forgotten (zero-entry sparse) filter probes all-negative
    instead of crashing (regression: IndexError on empty pos array)."""
    m = 64
    blob = _encode(
        m,
        np.zeros(m * SLOTS, dtype=np.uint16),
        np.zeros(0, dtype=np.uint32),
        np.zeros(0, dtype=np.uint16),
    )
    assert not _probe(blob, np.array([1, 2, 3], dtype=np.int64)).any()


def test_anti_join_equivalence_cuckoo(spark):
    """cuckoo-prefiltered anti-join returns the identical row set."""
    n_seen, n_pending = 5_000, 8_000
    seen = spark.range(n_seen).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    pending = spark.range(n_pending).select(
        F.concat(F.lit("https://h/"), (F.col("id") * 2)).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))

    cf = build_cuckoo(seen.select("url_hash"), n_buckets=8, capacity_per_bucket=10_000)
    exact = {r["url_canon"] for r in anti_join_seen(pending, seen).collect()}
    fast = {
        r["url_canon"]
        for r in anti_join_seen(pending, seen, cf, n_buckets=8).collect()
    }
    assert fast == exact
    assert 0 < len(exact) < n_pending


def test_delta_rows_sparse_and_compact_single_row(spark):
    """Small round deltas append O(delta)-byte sparse rows despite the
    crawl-constant m; compaction merges to ONE row per partition with
    membership preserved (the single-row state deletion requires)."""

    def mk(lo, hi):
        df = spark.range(lo, hi).withColumn("url_hash", F.xxhash64("id"))
        return build_cuckoo(df.select("url_hash"), n_buckets=4, capacity_per_bucket=100_000)

    deltas = mk(0, 20_000)
    for i in range(5):
        deltas = deltas.unionByName(mk(20_000 + 300 * i, 20_000 + 300 * (i + 1)))
    rows = deltas.collect()
    small_rows = [r for r in rows if r["n_items"] < 1_000]
    assert small_rows, "expected small delta rows"
    # sparse: ~6 bytes/entry + 16-byte header, NOT the ~1MB dense table
    for r in small_rows:
        assert len(bytes(r["cuckoo"])) < 16 + 8 * int(r["n_items"]) + 64

    compacted = compact_cuckoo(spark.createDataFrame(rows)).collect()
    assert len(compacted) == 4  # one row per partition
    assert sum(r["n_items"] for r in compacted) == 21_500

    probe = spark.range(0, 22_000).withColumn("url_hash", F.xxhash64("id"))
    for table in (deltas, spark.createDataFrame(compacted)):
        certain_new, _ = bloom_split(probe, table, n_buckets=4)
        new_ids = {r["id"] for r in certain_new.collect()}
        assert not any(i in new_ids for i in range(21_500))  # zero FN
        assert sum(1 for i in range(21_500, 22_000) if i in new_ids) > 450


def test_delete_hashes_unsees_keys(spark):
    ids = spark.range(0, 2_000).withColumn("url_hash", F.xxhash64("id"))
    cf = build_cuckoo(ids.select("url_hash"), n_buckets=4, capacity_per_bucket=10_000)
    gone_hashes = [
        r["url_hash"] for r in ids.filter(F.col("id") < 500).collect()
    ]
    cf2 = delete_hashes(cf, gone_hashes, n_buckets=4)
    probe = spark.range(0, 2_000).withColumn("url_hash", F.xxhash64("id"))
    certain_new, _ = bloom_split(probe, cf2, n_buckets=4)
    new_ids = {r["id"] for r in certain_new.collect()}
    # kept keys still probe positive (zero FN)
    assert not any(i in new_ids for i in range(500, 2_000))
    # deleted keys are certainly-new again (up to the tiny FP rate)
    assert sum(1 for i in range(500) if i in new_ids) > 490
    # n_items bookkeeping
    assert sum(r["n_items"] for r in cf2.collect()) == 1_500
    # deleting a never-inserted key is a defined error
    with pytest.raises(Exception, match="never-inserted"):
        delete_hashes(cf2, [123], n_buckets=4).collect()


def test_engine_parity_with_cuckoo(spark, tmp_catalog_root):
    """Full oracle parity with the cuckoo seen-filter on — the filter
    kind must not change ANY output (north-rule invariant)."""
    from crawleria_spark.oracle.crawler import OracleCrawler
    from tests.test_oracle_parity import CONFIG, SEEDS, WORLD, assert_parity, run_engine

    cfg = dataclasses.replace(CONFIG, seen_filter="cuckoo")
    oracle = OracleCrawler(CONFIG, WORLD).crawl(SEEDS)
    catalog = run_engine(spark, tmp_catalog_root, config=cfg, use_bloom=True)
    assert_parity(catalog, oracle)
    assert catalog.exists("seen_cuckoo")
    assert not catalog.exists("seen_bloom")
    n_items = catalog.read("seen_cuckoo").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == catalog.read("seen").count()


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_engine_compacts_filter_table(spark, tmp_catalog_root, kind):
    """crawl() merges the filter append-table to one row per partition
    once its delta-directory count passes compact_dirs_threshold —
    dispatched per filter kind, membership preserved (parity asserted
    by the crawl itself completing with correct dedup)."""
    from crawleria_spark.oracle.crawler import OracleCrawler
    from tests.test_oracle_parity import CONFIG, SEEDS, WORLD, assert_parity, run_engine

    cfg = dataclasses.replace(CONFIG, seen_filter=kind, compact_dirs_threshold=2)
    oracle = OracleCrawler(CONFIG, WORLD).crawl(SEEDS)
    catalog = run_engine(spark, tmp_catalog_root, config=cfg, use_bloom=True)
    assert_parity(catalog, oracle)  # compaction changed no output
    table = "seen_cuckoo" if kind == "cuckoo" else "seen_bloom"
    # the threshold (2) is far below the rounds run → compaction fired
    assert catalog.n_dirs(table) <= 3
    n_parts = catalog.read(table).select("partition").distinct().count()
    n_rows = catalog.read(table).count()
    if kind == "cuckoo":
        # cuckoo compaction merges to exactly one row per partition
        assert n_rows <= n_parts + cfg.frontier_partitions
    assert (
        catalog.read(table).agg(F.sum("n_items")).collect()[0][0]
        == catalog.read("seen").count()
    )
    # host_seq compacts to RUNNING PER-HOST TOTALS (r4): row count stays
    # O(distinct hosts + rounds since last compaction), and the totals
    # still equal the fetched row count per host
    hs = catalog.read("host_seq")
    n_hosts = hs.select("host").distinct().count()
    assert hs.count() <= n_hosts * (cfg.compact_dirs_threshold + 2)
    assert (
        hs.agg(F.sum("n_fetched")).collect()[0][0]
        == catalog.read("fetch_log").filter("status in ('ok','error')").count()
    )


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_forget_recrawls_urls(spark, tmp_catalog_root, kind):
    """forget() un-sees URLs and a resumed crawl re-fetches them — via
    O(filter) fingerprint deletion for cuckoo, full rebuild for bloom."""
    from tests.test_oracle_parity import CONFIG, SEEDS, WORLD, run_engine

    cfg = dataclasses.replace(CONFIG, max_pages=10_000, seen_filter=kind)
    catalog = run_engine(spark, tmp_catalog_root, config=cfg, use_bloom=True)
    fetch_log = catalog.read("fetch_log")
    max_round = fetch_log.agg(F.max("round")).collect()[0][0]
    victims = [
        r["url_canon"]
        for r in catalog.read("seen").orderBy("url_canon").limit(3).collect()
    ]
    from crawleria_spark.plans.engine import CrawlEngine
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import robots_rules

    engine = CrawlEngine(
        spark, catalog, cfg, synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD), use_bloom=True,
    )
    n = engine.forget(victims)
    assert n == 3
    assert engine.forget(["https://never-crawled.example/x"]) == 0
    seen_after = {r["url_canon"] for r in catalog.read("seen").collect()}
    assert not set(victims) & seen_after

    engine.crawl(seeds=None, max_rounds=5)  # resume
    refetched = (
        catalog.read("fetch_log")
        .filter(F.col("round") > max_round)
        .filter(F.col("url_canon").isin(victims))
        .count()
    )
    assert refetched == 3
    seen_final = {r["url_canon"] for r in catalog.read("seen").collect()}
    assert set(victims) <= seen_final


def test_large_forget_routes_through_rebuild(spark, tmp_catalog_root, monkeypatch):
    """A forget wave above FORGET_DELETE_MAX must NOT run delete_hashes's
    per-key driver loop even under the cuckoo kind — it rebuilds the
    filter from the surviving seen rows in one distributed pass."""
    from crawleria_spark.operators import cuckoo as cuckoo_mod
    from crawleria_spark.plans.engine import CrawlEngine
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import robots_rules
    from tests.test_oracle_parity import CONFIG, WORLD, run_engine

    cfg = dataclasses.replace(CONFIG, max_pages=10_000, seen_filter="cuckoo")
    catalog = run_engine(spark, tmp_catalog_root, config=cfg, use_bloom=True)
    victims = [
        r["url_canon"]
        for r in catalog.read("seen").orderBy("url_canon").limit(5).collect()
    ]
    engine = CrawlEngine(
        spark, catalog, cfg, synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD), use_bloom=True,
    )
    monkeypatch.setattr(CrawlEngine, "FORGET_DELETE_MAX", 4)

    def boom(*a, **k):  # the per-key loop must not run beyond the cap
        raise AssertionError("delete_hashes called for an over-cap wave")

    monkeypatch.setattr(cuckoo_mod, "delete_hashes", boom)
    assert engine.forget(victims) == 5
    # the rebuilt filter stays consistent with the surviving seen set
    assert (
        catalog.read("seen_cuckoo").agg(F.sum("n_items")).collect()[0][0]
        == catalog.read("seen").count()
    )
    seen_after = {r["url_canon"] for r in catalog.read("seen").collect()}
    assert not set(victims) & seen_after
