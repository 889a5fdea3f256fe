"""Catalog interface conformance: one suite, every implementation.

This is the executable form of SURVEY.md §4's "swap in real Iceberg"
claim: the engine touches storage only through the `Catalog` ABC
(crawleria_spark/plans/catalog.py), so any implementation that passes
this suite — SnapshotCatalog (production), MemoryCatalog (driver-memory
double) — runs the identical crawl. The final test proves
that end-to-end by crawling the same world on two backends and
comparing the full committed state."""

import pytest
from pyspark.sql import Row, types as T

from crawleria_spark.config import CrawlConfig
from crawleria_spark.plans.catalog import MemoryCatalog
from crawleria_spark.plans.engine import CrawlEngine
from crawleria_spark.plans.snapshot import SnapshotCatalog
from crawleria_spark.sources.fetch import synthetic_fetcher
from crawleria_spark.synthetic.world import WorldConfig, robots_rules, seed_urls

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


@pytest.fixture(params=["snapshot", "memory"])
def make_catalog(request, spark, tmp_path):
    counter = [0]

    def factory():
        counter[0] += 1
        if request.param == "snapshot":
            return SnapshotCatalog(spark, str(tmp_path / f"cat{counter[0]}"))
        return MemoryCatalog(spark)

    return factory


def _df(spark, rows):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in rows], SCHEMA)


def _rows(cat, table):
    return sorted((r["k"], r["v"]) for r in cat.read(table).collect())


def test_commit_is_atomic_and_versioned(spark, make_catalog):
    cat = make_catalog()
    assert cat.latest_version() is None
    v0 = cat.commit(
        replace={"a": _df(spark, [(1, "x")]), "b": _df(spark, [(2, "y")])},
        meta={"round": 0},
    )
    # clause 1: both tables + meta appear together under one version
    assert v0 == 0
    assert cat.latest_version() == 0
    assert _rows(cat, "a") == [(1, "x")] and _rows(cat, "b") == [(2, "y")]
    assert cat.latest_meta() == {"round": 0}
    # clause 6: a later commit's meta supersedes
    cat.commit(append={"a": _df(spark, [(3, "z")])}, meta={"round": 1})
    assert cat.latest_meta() == {"round": 1}


def test_append_accumulates_replace_supersedes(spark, make_catalog):
    cat = make_catalog()
    cat.commit(replace={"t": _df(spark, [(1, "a")])})
    cat.commit(append={"t": _df(spark, [(2, "b")])})
    cat.commit(append={"t": _df(spark, [(3, "c")])})
    # clause 2: appends accumulate, one segment per commit
    assert _rows(cat, "t") == [(1, "a"), (2, "b"), (3, "c")]
    assert cat.n_dirs("t") == 3
    # clause 3: replace supersedes all prior content
    cat.commit(replace={"t": _df(spark, [(9, "r")])})
    assert _rows(cat, "t") == [(9, "r")]
    assert cat.n_dirs("t") == 1


def test_carry_forward_and_drop(spark, make_catalog):
    cat = make_catalog()
    cat.commit(replace={"keep": _df(spark, [(1, "k")]), "gone": _df(spark, [(2, "g")])})
    cat.commit(append={"keep": _df(spark, [(3, "k2")])}, drop=["gone"])
    # clause 4: unnamed tables carry forward; dropped tables vanish
    assert _rows(cat, "keep") == [(1, "k"), (3, "k2")]
    assert not cat.exists("gone")
    with pytest.raises(KeyError):
        cat.read("gone")


def test_time_travel(spark, make_catalog):
    cat = make_catalog()
    v0 = cat.commit(replace={"t": _df(spark, [(1, "a")])}, meta={"r": 0})
    v1 = cat.commit(append={"t": _df(spark, [(2, "b")])}, meta={"r": 1})
    # clause 5: versions are monotone; as-of reads pin exactly
    assert v1 == v0 + 1
    assert sorted(r["k"] for r in cat.read_as_of("t", v0).collect()) == [1]
    assert sorted(r["k"] for r in cat.read_as_of("t", v1).collect()) == [1, 2]
    assert cat.n_dirs_as_of("t", v0) == 1 and cat.n_dirs_as_of("t", v1) == 2
    assert cat.exists_as_of("t", v0)


def test_compact_preserves_content(spark, make_catalog):
    cat = make_catalog()
    cat.commit(replace={"t": _df(spark, [(1, "a")])}, meta={"m": 1})
    for i in range(2, 5):
        cat.commit(append={"t": _df(spark, [(i, "x")])}, meta={"m": i})
    before = _rows(cat, "t")
    cat.compact("t")
    assert _rows(cat, "t") == before
    assert cat.n_dirs("t") == 1
    assert cat.latest_meta() == {"m": 4}  # compact carries meta forward


def test_gc_keeps_recent_versions_readable(spark, make_catalog):
    cat = make_catalog()
    for i in range(5):
        cat.commit(append={"t": _df(spark, [(i, "x")])}, meta={"i": i})
    latest = cat.latest_version()
    cat.gc(keep_last=2)
    assert cat._versions() == [latest - 1, latest]
    assert _rows(cat, "t") == [(i, "x") for i in range(5)]
    assert sorted(r["k"] for r in cat.read_as_of("t", latest - 1).collect()) == list(
        range(4)
    )


def test_memory_catalog_rejects_streaming(spark):
    with pytest.raises(NotImplementedError):
        MemoryCatalog(spark).published_path("fetch_log")


def test_engine_crawl_identical_across_backends(spark, tmp_path):
    """The conformance capstone: the SAME crawl (seeds, world, robots,
    budgets, pipelined commits) over both backends (SnapshotCatalog,
    MemoryCatalog) must commit identical fetch_log / seen / documents
    state — the engine is storage-agnostic through the Catalog ABC."""
    world = WorldConfig(seed=11, n_hosts=5, pages_per_host=20, mean_links=4)
    cfg = CrawlConfig(max_depth=2, max_pages=30, max_concurrent_per_host=3)
    seeds = seed_urls(world, n=3)

    def final_state(cat):
        log = sorted(
            (r["host"], r["seq_in_host"], r["url_canon"], r["round"], r["status"])
            for r in cat.read("fetch_log").collect()
        )
        seen = sorted(r["url_canon"] for r in cat.read("seen").collect())
        docs = sorted(
            (r["doc_id"], tuple((s["kind"], s["offset"]) for s in r["spans"]))
            for r in cat.read("documents").collect()
        )
        meta = cat.latest_meta()
        return log, seen, docs, (meta["round"], meta["fetched_total"])

    backends = [SnapshotCatalog(spark, str(tmp_path / "snap")), MemoryCatalog(spark)]
    states = {}
    for cat in backends:
        eng = CrawlEngine(
            spark, cat, cfg, synthetic_fetcher(world),
            robots_rows=robots_rules(world),
        )
        eng.crawl(seeds, max_rounds=20)
        states[type(cat).__name__] = final_state(cat)
    base = states["SnapshotCatalog"]
    for name, st in states.items():
        assert st == base, name
