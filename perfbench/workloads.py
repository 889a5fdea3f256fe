"""The benchmark's workloads, driven through the engine's public entry
points only: ``CrawlEngine.crawl`` for crawls, and ``Retriever.retrieve``
+ ``format_for_llm`` behind a ``QueryCache`` for queries.

Each workload builds its state from the seed (timed as set-up, several
times), measures for the requested seconds, checks every output
against an independent computation, and returns its metrics. With
tracing on, the same loop runs with spans around the calls into each
layer, and the lazy operators of every crawl round are re-run on that
round's own inputs (read from the pinned snapshot) and materialized
with a ``noop`` write, since timing their calls would only time plan
construction.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import stat
import statistics
import time
from dataclasses import dataclass, field

from checks import check_crawl, check_queries, doc_text, tokenize
from tracing import JobCounter, Tracer, vm_hwm_mb

SETUP_REPEATS = 3


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    tiny: bool
    cores: int
    work: str
    tracer: Tracer


@dataclass
class Result:
    attempted: int
    failed: int
    setup_samples: list[float]
    # the contract's end-to-end metrics: name -> (value, unit)
    e2e: dict[str, tuple[float, str]]
    # per-workload metric names (fetched_urls_per_s, query_s_p90, ...), printed as lines
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    # per-layer metrics (traced run): name -> value
    layers: dict[str, float] = field(default_factory=dict)


def _timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _tree_usage(root: str) -> tuple[int, int]:
    """(bytes, regular files) under ``root``; symlinks are skipped."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            st = os.lstat(os.path.join(dirpath, name))
            if not stat.S_ISLNK(st.st_mode):
                n_bytes += st.st_size
                n_files += 1
    return n_bytes, n_files


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile: the smallest value with at least a share
    ``q`` of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _peak_rss_mb(spark) -> tuple[float, float]:
    """(driver Python + JVM, JVM alone) peak resident set, MB."""
    jvm = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    return vm_hwm_mb() + jvm, jvm


# ---------------------------------------------------------------- bulk_bfs


def bulk_bfs(ctx: Context) -> Result:
    """BFS from every host's front page over the synthetic world, robots
    on, no per-host cap, until the page budget binds."""
    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.oracle.crawler import OracleCrawler
    from crawleria_spark.plans.engine import CrawlEngine
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import WorldConfig, robots_rules, seed_urls

    spark, tracer = ctx.spark, ctx.tracer
    if ctx.tiny:
        world = WorldConfig(seed=ctx.seed, n_hosts=6, pages_per_host=30)
        budget = 40
    else:
        world = WorldConfig(seed=ctx.seed, n_hosts=50, pages_per_host=400)
        budget = 300
    seeds = seed_urls(world, n=world.n_hosts)
    cfg = CrawlConfig(
        max_depth=3, max_pages=budget, max_concurrent_per_host=10**9,
        frontier_partitions=ctx.cores, run_id=f"perfbench_{ctx.seed}",
    )
    n_catalogs = [0]

    def build():
        """Fresh catalog + engine with the seeds committed (round -1)."""
        n_catalogs[0] += 1
        root = os.path.join(ctx.work, f"catalog_{n_catalogs[0]}")
        catalog = SnapshotCatalog(spark, root)
        engine = CrawlEngine(
            spark, catalog, cfg, synthetic_fetcher(world),
            robots_rows=robots_rules(world),
            use_bloom=True, skew_safe=True, collect_stats=False,
        )
        versions: list[tuple[int, dict]] = []
        if tracer.enabled:
            _record_versions(catalog, versions)
        t0 = time.perf_counter()
        engine.init(seeds)
        dt = time.perf_counter() - t0
        tracer.wrap(catalog, "commit", "snapshot.commit")
        tracer.wrap(engine, "flush", "engine.flush")
        return dt, (root, catalog, engine, versions)

    setup_samples, states = [], []
    for _ in range(SETUP_REPEATS):
        dt, state = build()
        setup_samples.append(dt)
        states.append(state)
    for root, *_ in states[:-1]:
        shutil.rmtree(root, ignore_errors=True)

    crawl_walls, round_walls, crawls = [], [], []
    attempted = failed = 0
    t_loop = time.perf_counter()
    state = states[-1]
    while True:
        root, catalog, engine, versions = state
        walls: list[float] = []
        inner = engine.run_round

        def run_round(*a, _inner=inner, _walls=walls, **kw):
            with tracer.span("engine.run_round"):
                t0 = time.perf_counter()
                out = _inner(*a, **kw)
                _walls.append(time.perf_counter() - t0)
            return out

        engine.run_round = run_round
        usage0 = _tree_usage(root)
        jobs = JobCounter(spark) if tracer.enabled else None
        mark = jobs.mark() if jobs else None
        t0 = time.perf_counter()
        try:
            stats = engine.crawl(None, max_rounds=100)
        except Exception as e:  # a raised round is a failed operation
            print(f"crawl raised: {e!r}", flush=True)
            attempted += len(walls) + 1
            failed += 1
            break
        crawl_walls.append(time.perf_counter() - t0)
        round_walls += walls
        counts = jobs.since(mark) if jobs else None
        attempted += len(stats)
        crawls.append((root, catalog, engine, versions, stats, usage0, counts))
        elapsed = time.perf_counter() - t_loop
        if elapsed + statistics.median(crawl_walls) > ctx.seconds:
            break
        dt, state = build()
        setup_samples.append(dt)

    if not crawls:
        raise RuntimeError("no crawl completed")
    # memory is read before the checks, which hold outputs in the Spark driver
    rss, jvm_rss = _peak_rss_mb(spark)
    oracle = OracleCrawler(cfg, world).crawl(seeds)
    fetched = 0
    for c in crawls:
        rows = _read_crawl(c[1])
        failed += len(check_crawl(rows, oracle))
        fetched += sum(1 for r in rows["fetch_log"] if r["status"] != "robots_denied")
    scanned = sum(_frontier_rows_scanned(c[4], len(seeds)) for c in crawls)
    crawl_s = sum(crawl_walls)
    cat_bytes = sum(_tree_usage(c[0])[0] for c in crawls)
    rounds = len(round_walls)
    e2e = {
        "items_per_s": (fetched / crawl_s, "1/s"),
        "op_s_p50": (statistics.median(round_walls), "s"),
        "peak_rss_mb": (rss, "MB"),
        "stored_bytes_per_item": (cat_bytes / fetched, "B"),
    }
    named = {
        "fetched_urls_per_s": (fetched / crawl_s, "1/s"),
        "frontier_urls_per_s": (scanned / crawl_s, "1/s"),
        f"round_s_p50[n={rounds}]": (statistics.median(round_walls), "s"),
        f"round_s_max[n={rounds}]": (max(round_walls), "s"),
        "catalog_bytes_per_url": (cat_bytes / fetched, "B"),
        "jvm_peak_rss_mb": (jvm_rss, "MB"),
        "crawls": (len(crawls), "count"),
        "fetched_urls": (fetched, "count"),
    }
    result = Result(attempted, failed, setup_samples, e2e, named)
    if tracer.enabled:
        result.layers = _crawl_layers(ctx, cfg, world, crawls, crawl_s, jvm_rss)
    return result


def _record_versions(catalog, versions: list) -> None:
    """Remember (version, meta) of every commit, so a round's inputs can
    be re-read as of the version the round started from."""
    inner = catalog.commit

    def commit(*a, **kw):
        v = inner(*a, **kw)
        versions.append((v, dict(kw.get("meta") or {})))
        return v

    catalog.commit = commit


def _read_crawl(catalog) -> dict:
    return {
        "fetch_log": [r.asDict() for r in catalog.read("fetch_log").collect()],
        "seen": [
            (r["url_canon"], r["first_round"])
            for r in catalog.read("seen").select("url_canon", "first_round").collect()
        ],
        "documents": [
            (r["round"], r["url_canon"], r["doc_id"],
             [s.asDict() for s in r["spans"]])
            for r in catalog.read("documents").collect()
        ],
    }


def _frontier_rows_scanned(stats: list[dict], n_seeds: int) -> int:
    """Frontier rows each round deduplicated: the gross frontier at the
    round's start (the seeds, then the previous round's pending count)."""
    total, gross = 0, n_seeds
    for st in stats:
        total += gross
        if st.get("n_pending", -1) >= 0:
            gross = st["n_pending"]
    return total


def _crawl_layers(ctx, cfg, world, crawls, crawl_s, jvm_rss) -> dict:
    from pyspark.sql import functions as F

    from crawleria_spark.functions.urls import host_expr, url_canon_expr
    from crawleria_spark.operators.bloom import anti_join_seen, bloom_split
    from crawleria_spark.operators.ordinal import bucketed_dense_ordinal
    from crawleria_spark.operators.politeness import bucketed_host_rank
    from crawleria_spark.sources.fetch import (
        fetch_stage,
        synthetic_fetcher,
        with_spans_column,
    )

    tr = ctx.tracer
    acc = dict.fromkeys(
        ("anti_join", "rank", "fetch", "canon", "ordinal", "probed", "suspects",
         "false_pos", "fetch_urls", "fetch_errors", "filter_bytes", "bytes",
         "files", "jobs", "stages", "tasks", "rounds"),
        0.0,
    )
    t_replay = time.perf_counter()
    for root, catalog, engine, versions, stats, usage0, counts in crawls:
        rounds = len(stats)
        acc["rounds"] += rounds
        for k in ("jobs", "stages", "tasks"):
            acc[k] += counts[k]
        usage = _tree_usage(root)
        acc["bytes"] += usage[0] - usage0[0]
        acc["files"] += usage[1] - usage0[1]
        if catalog.exists("seen_bloom"):
            acc["filter_bytes"] += catalog.read("seen_bloom").agg(
                F.sum(F.octet_length("bloom"))
            ).collect()[0][0]
        fetch_log = catalog.read("fetch_log")
        documents = catalog.read("documents")
        for rnd in range(rounds):
            # the last commit that closed round rnd-1 is this round's base
            v, meta = [(v, m) for v, m in versions if m.get("round") == rnd - 1][-1]
            next_priority = int(meta["next_priority"])
            frontier = catalog.read_as_of("frontier", v)
            seen = catalog.read_as_of("seen", v)
            bloom = (
                catalog.read_as_of("seen_bloom", v)
                if catalog.exists_as_of("seen_bloom", v) else None
            )
            kw = dict(
                n_buckets=cfg.frontier_partitions,
                capacity_per_bucket=cfg.bloom_capacity_per_partition,
                fpp=cfg.bloom_fpp,
            )
            reg: list = []
            alive = anti_join_seen(frontier, seen, bloom, registry=reg, **kw).persist()
            acc["anti_join"] += _timed_noop(alive)
            if bloom is not None:
                _, suspects = bloom_split(frontier, bloom, **kw)
                acc["probed"] += frontier.count()
                acc["suspects"] += suspects.count()
                acc["false_pos"] += suspects.join(
                    seen.select("url_canon"), "url_canon", "left_anti"
                ).count()
            acc["rank"] += _timed_noop(
                bucketed_host_rank(
                    alive, "host", "priority", ["priority", "url_canon"],
                    priority_bound=max(next_priority, 1),
                    col_name="politeness_slot",
                    num_buckets=cfg.frontier_partitions,
                )
            )
            # the round's fetched rows, with the raw URL the engine fetched
            raw = frontier.groupBy("url_canon").agg(
                F.min_by("url", F.struct("priority", "depth", "url")).alias("url"),
                F.min("priority").alias("priority"),
            ).persist()
            fetched = (
                fetch_log.filter((F.col("round") == rnd) & (F.col("status") != "robots_denied"))
                .select("url_canon", "host", "politeness_slot", "status")
                .join(raw, "url_canon")
                .repartition(cfg.frontier_partitions, "host", "politeness_slot")
                .persist()
            )
            n_urls, n_errors = fetched.agg(
                F.count(F.lit(1)), F.sum((F.col("status") == "error").cast("int"))
            ).collect()[0]
            acc["fetch_urls"] += n_urls
            acc["fetch_errors"] += n_errors or 0
            acc["fetch"] += _timed_noop(
                with_spans_column(
                    fetch_stage(fetched.drop("status"), synthetic_fetcher(world))
                )
            )
            links = (
                documents.filter(F.col("round") == rnd)
                .join(raw.select("url_canon", F.col("priority").alias("parent_priority")),
                      "url_canon")
                .select(
                    "parent_priority",
                    F.posexplode(
                        F.transform(
                            F.filter("spans", lambda s: s["kind"] == "link"),
                            lambda s: s["media_ref"],
                        )
                    ).alias("link_offset", "url"),
                )
                .persist()
            )
            links.count()
            acc["canon"] += _timed_noop(
                links.select(url_canon_expr("url").alias("url_canon"),
                             F.lower(host_expr("url")).alias("host"))
            )
            acc["ordinal"] += _timed_noop(
                bucketed_dense_ordinal(
                    links, "parent_priority", ["parent_priority", "link_offset"],
                    bound=max(next_priority, 1), col_name="__ord",
                    start=next_priority, num_buckets=cfg.frontier_partitions,
                )
            )
            for df in (alive, raw, fetched, links, *reg):
                df.unpersist()
    replay_s = time.perf_counter() - t_replay
    n = max(acc["rounds"], 1)
    return {
        "engine.rounds": acc["rounds"],
        "engine.spark_jobs_per_round": acc["jobs"] / n,
        "engine.spark_stages_per_round": acc["stages"] / n,
        "engine.spark_tasks_per_round": acc["tasks"] / n,
        "engine.run_round_self_s": tr.self_s("engine.run_round"),
        "engine.flush_wait_s": tr.total_s("engine.flush"),
        "snapshot.commit_s": tr.total_s("snapshot.commit"),
        "snapshot.bytes_written_per_round": acc["bytes"] / n,
        "snapshot.files_written_per_round": acc["files"] / n,
        "dedup.anti_join_s": acc["anti_join"],
        "dedup.bloom_positive_ratio": acc["suspects"] / max(acc["probed"], 1),
        "dedup.false_positive_ratio": acc["false_pos"] / max(acc["suspects"], 1),
        "dedup.filter_bytes": acc["filter_bytes"],
        "politeness.rank_s": acc["rank"],
        "fetch.stage_s": acc["fetch"],
        "fetch.urls": acc["fetch_urls"],
        "fetch.errors": acc["fetch_errors"],
        "fetch.urls_per_core_s": acc["fetch_urls"] / max(acc["fetch"] * ctx.cores, 1e-9),
        "urls.canon_s": acc["canon"],
        "ordinal.dense_ordinal_s": acc["ordinal"],
        "session.jvm_peak_rss_mb": jvm_rss,
        "trace.replay_s": replay_s,
        "trace.wall_s": crawl_s,
    }


# ----------------------------------------------------------- query_serving

TOP_K = 5
THRESHOLD = 0.05  # the CLI's query default
HEAD = 4  # format_for_llm keeps the first four results
REPEAT_EVERY = 3  # two of every three queries repeat an earlier one
WARMUP_CYCLES = 2  # untimed cycles before the timed loop


def _query_stream(rng: random.Random, vocab: list[str]):
    """Endless (query, repeat) pairs in cycles of REPEAT_EVERY: a new
    query of 2-4 vocabulary words, then repeats of earlier queries drawn
    Zipf(1.1) over first-use order, so early queries are the popular
    ones."""
    issued: list[str] = []
    while True:
        while True:
            q = " ".join(rng.sample(vocab, rng.randint(2, 4)))
            if q not in issued:
                break
        issued.append(q)
        yield q, False
        weights = [1 / (j + 1) ** 1.1 for j in range(len(issued))]
        for _ in range(REPEAT_EVERY - 1):
            yield rng.choices(issued, weights=weights)[0], True


def query_serving(ctx: Context) -> Result:
    """One client in a closed loop over a crawled corpus: each query is
    ``retrieve`` + ``format_for_llm`` behind a ``QueryCache``."""
    import pandas as pd
    from pyspark.sql import functions as F

    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.functions.urls import canonicalize, clean_filename
    from crawleria_spark.operators.cache import QueryCache
    from crawleria_spark.operators.retrieval import Retriever
    from crawleria_spark.plans.engine import DOCUMENTS_SCHEMA
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.fetch import (
        fetch_stage,
        synthetic_fetcher,
        with_spans_column,
    )
    from crawleria_spark.synthetic.world import WorldConfig, page_for_url

    spark, tracer = ctx.spark, ctx.tracer
    world = (
        WorldConfig(seed=ctx.seed, n_hosts=6, pages_per_host=20)
        if ctx.tiny
        else WorldConfig(seed=ctx.seed, n_hosts=50, pages_per_host=100)
    )
    urls = [
        f"https://{world.host(h)}/p/{i}"
        for h in range(world.n_hosts)
        for i in range(world.pages_per_host)
    ]
    cfg = CrawlConfig(top_k=TOP_K, similarity_threshold=THRESHOLD)
    n_builds = [0]

    def build():
        """Fetch every page of the world once into a documents table, as
        a one-round crawl of the URL list would, then open the cache and
        the retriever over it."""
        n_builds[0] += 1
        root = os.path.join(ctx.work, f"corpus_{n_builds[0]}")
        t0 = time.perf_counter()
        catalog = SnapshotCatalog(spark, root)
        pages = spark.createDataFrame(
            [(u, canonicalize(u)) for u in urls], "url string, url_canon string"
        )
        fetched = with_spans_column(fetch_stage(pages, synthetic_fetcher(world)))
        catalog.commit(
            replace={
                "documents": fetched.filter(F.col("status") == "ok").select(
                    "doc_id", "url_canon", F.lit(0).alias("round"), "spans"
                ).select([f.name for f in DOCUMENTS_SCHEMA.fields])
            },
            meta={"round": 0},
        )
        documents = catalog.read("documents")
        docs = documents.select(
            "doc_id",
            "url_canon",
            F.concat_ws(" ", F.transform(F.col("spans"), lambda s: s["text"])).alias("text"),
        )
        n_docs = docs.count()
        cache = QueryCache(spark, os.path.join(root, "cache"), ttl_s=cfg.cache_ttl_s)
        retriever = Retriever(docs, config=cfg, cache=cache)
        return time.perf_counter() - t0, (root, retriever, cache,
                                          documents.select("doc_id", "spans"), n_docs)

    setup_samples, states = [], []
    for _ in range(SETUP_REPEATS):
        dt, state = build()
        setup_samples.append(dt)
        states.append(state)
    for root, *_ in states[:-1]:
        shutil.rmtree(root, ignore_errors=True)
    root, retriever, cache, spans, n_docs = states[-1]

    # the world's vocabulary, read off the first pages
    vocab = sorted({
        w for u in urls[:50] for s in page_for_url(u, world)["spans"]
        if s["text"] for w in s["text"].split()
    })
    records, walls, cycle_walls = [], [], []
    raised = 0

    def serve(retriever, q, repeat, i, span):
        """One query, retrieve + format_for_llm; appends its record."""
        nonlocal raised
        t0 = time.perf_counter()
        try:
            with span("retrieval.retrieve"):
                res = retriever.retrieve(query_text=q, now=float(i))
            with span("retrieval.format"):
                out = retriever.format_for_llm(res, spans)
        except Exception as e:  # a raised query is a failed operation
            print(f"query {q!r} raised: {e!r}", flush=True)
            raised += 1
            records.append({"query": q, "repeat": repeat, "results": None})
            return None
        records.append({
            "query": q,
            "repeat": repeat,
            "results": [(r["doc_id"], r["score"], r["rank"]) for r in out["results"]],
        })
        return time.perf_counter() - t0

    # warm-up: whole cycles on a cache of their own, checked but not timed
    warm = Retriever(
        retriever.docs, config=cfg,
        cache=QueryCache(spark, os.path.join(root, "warmup_cache"), ttl_s=cfg.cache_ttl_s),
    )
    untraced = Tracer("warmup", enabled=False).span
    stream = _query_stream(random.Random(f"warmup-{ctx.seed}"), vocab)
    for i in range(WARMUP_CYCLES * REPEAT_EVERY):
        serve(warm, *next(stream), i, untraced)
    n_warmup = len(records)

    tracer.wrap(cache, "lookup", "cache.lookup")
    tracer.wrap(cache, "store", "cache.store")
    stream = _query_stream(random.Random(ctx.seed), vocab)
    t_loop = time.perf_counter()
    i = 0
    while not cycle_walls or time.perf_counter() - t_loop < ctx.seconds:
        t_cycle = time.perf_counter()
        for _ in range(REPEAT_EVERY):
            wall = serve(retriever, *next(stream), i, tracer.span)
            i += 1
            if wall is not None:
                walls.append(wall)
        cycle_walls.append(time.perf_counter() - t_cycle)
    loop_s = time.perf_counter() - t_loop
    # memory is read before the checks, which hold the corpus in the Spark driver
    rss, jvm_rss = _peak_rss_mb(spark)

    corpus_rows = []
    for u in urls:
        p = page_for_url(u, world)
        if p["status"] == "ok":
            corpus_rows.append((clean_filename(u), tokenize(doc_text(p["spans"]))))
    corpus = pd.DataFrame(corpus_rows, columns=["doc_id", "tokens"])
    # the warm-up and the timed loop used separate caches, so each is
    # checked on its own
    n_bad = 0
    for part in (records[:n_warmup], records[n_warmup:]):
        ok = [r for r in part if r["results"] is not None]
        n_bad += len(check_queries(ok, corpus, TOP_K, THRESHOLD, HEAD))
    if len(corpus) != n_docs:
        n_bad = len(records) - raised

    n_q = len(walls)
    misses = sum(1 for r in records[n_warmup:] if not r["repeat"])
    cache_bytes = _tree_usage(os.path.join(root, "cache"))[0]
    # throughput from the median cycle (one miss, two hits), so that a
    # burst of load on the host moves one cycle, not the whole figure
    cycle_p50 = statistics.median(cycle_walls)
    e2e = {
        "items_per_s": (REPEAT_EVERY / cycle_p50, "1/s"),
        "op_s_p50": (statistics.median(walls), "s"),
        "peak_rss_mb": (rss, "MB"),
        "stored_bytes_per_item": (cache_bytes / n_q, "B"),
    }
    named = {
        f"query_s_p50[n={n_q}]": (statistics.median(walls), "s"),
        f"query_s_p90[n={n_q}]": (_quantile(walls, 0.9), "s"),
        "queries_per_s_mean": (n_q / loop_s, "1/s"),
        f"cycle_s_p50[n={len(cycle_walls)}]": (cycle_p50, "s"),
        "jvm_peak_rss_mb": (jvm_rss, "MB"),
        "corpus_docs": (n_docs, "count"),
        "cache_hits": (n_q - misses, "count"),
    }
    result = Result(len(records), raised + n_bad, setup_samples, e2e, named)
    if tracer.enabled:
        n_retrieve = len(tracer.by_name("retrieval.retrieve"))
        result.layers = {
            "retrieval.retrieve_s": tracer.self_s("retrieval.retrieve"),
            "retrieval.format_s": tracer.total_s("retrieval.format"),
            "cache.hit_ratio": 1 - len(tracer.by_name("cache.store")) / max(n_retrieve, 1),
            "cache.lookup_s": tracer.total_s("cache.lookup"),
            "cache.store_s": tracer.total_s("cache.store"),
            "session.jvm_peak_rss_mb": jvm_rss,
            "trace.wall_s": loop_s,
        }
    return result


WORKLOADS = {
    # name -> (run function, driver heap)
    "bulk_bfs": (bulk_bfs, "1g"),
    "query_serving": (query_serving, "1g"),
}
