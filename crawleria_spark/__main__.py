"""CLI — command-for-command twin of the reference's entry point
(src/main.py:213-319): ``crawl`` / ``process`` / ``query`` / ``pipeline``.

A reference user switches by replacing loose output files with a snapshot
catalog directory (``--catalog``). The fetcher is injectable; this
offline build ships the deterministic synthetic fetcher (``--world-seed``
controls it) — a production deployment passes an HTTP fetcher callable to
``CrawlEngine`` instead.

    python -m crawleria_spark crawl https://hub.example.com/p/0 \
        --depth 2 --max-pages 50 --catalog /tmp/crawl
    python -m crawleria_spark process --media-dir shots/ --catalog /tmp/crawl
    python -m crawleria_spark query "spark frontier fetch" --catalog /tmp/crawl
    python -m crawleria_spark pipeline https://hub.example.com/p/0 --catalog /tmp/crawl
"""

from __future__ import annotations

import argparse
import json
import sys


def _engine(args, spark):
    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.plans.engine import CrawlEngine, catalog_seen_kind
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import WorldConfig, robots_rules

    cookies: tuple[tuple[str, str], ...] = ()
    if getattr(args, "cookies_file", None):
        # reference cookies-file shape (src/crawler/crawler.py:45-57):
        # JSON {host: cookie_header} delivered per-host by the fetcher
        with open(args.cookies_file) as f:
            cookies = tuple(sorted(json.load(f).items()))
    catalog = SnapshotCatalog(spark, args.catalog)
    # without the flag (only `crawl` has one), default to the catalog's
    # persisted kind so forget/refresh/resumed crawls against a cuckoo
    # catalog never fall back to bloom bookkeeping
    kind = (
        getattr(args, "seen_filter", None)
        or catalog_seen_kind(catalog)
        or CrawlConfig.seen_filter
    )
    cfg = CrawlConfig(
        max_depth=args.depth,
        max_pages=args.max_pages,
        allowed_domains=tuple(args.allowed_domains or ()),
        cookies=cookies,
        seen_filter=kind,
    )
    if getattr(args, "fetcher", "synthetic") == "http":
        from crawleria_spark.sources.http import http_fetcher

        fetcher = http_fetcher(
            cfg, timeout_s=args.timeout,
            proxy_to=getattr(args, "proxy_to", None),
        )
        robots: list[dict] = []  # live robots.txt handling is per-host
        # config; the synthetic rules only make sense for the test world
    else:
        world = WorldConfig(seed=args.world_seed)
        fetcher = synthetic_fetcher(world)
        robots = robots_rules(world)
    engine = CrawlEngine(
        spark,
        catalog,
        cfg,
        fetcher,
        robots_rows=robots,
        use_bloom=True,
        skew_safe=True,
    )
    return engine, catalog


def cmd_crawl(args, spark) -> dict:
    engine, catalog = _engine(args, spark)
    resume = catalog.latest_version() is not None and args.resume
    stats = engine.crawl(None if resume else [args.url], max_rounds=args.max_rounds)
    log = catalog.read("fetch_log")
    return {
        "rounds": len(stats),
        "total_rounds": int(catalog.latest_meta().get("round", -1)) + 1,
        "fetched": log.filter("status in ('ok','error')").count(),
        "documents": catalog.read("documents").count(),
        # the frontier is append-only: fetched/denied rows leave it only
        # logically, through `seen`, so pending is the live set
        "pending": catalog.read("frontier")
        .join(catalog.read("seen").select("url_canon"), "url_canon", "left_anti")
        .select("url_canon").distinct().count(),
        "catalog": args.catalog,
    }


def cmd_forget(args, spark) -> dict:
    """Un-see URLs for re-crawl/refresh (CrawlEngine.forget): removes
    them from the exact seen table, deletes their fingerprints from the
    cuckoo filter (or rebuilds the bloom), and by default re-enqueues
    them so the next `crawl --resume` re-fetches."""
    engine, catalog = _engine(args, spark)
    n = engine.forget(args.urls, requeue=not args.no_requeue)
    return {
        "forgotten": n,
        "requeued": 0 if args.no_requeue else n,
        "seen": catalog.read("seen").count(),
        "catalog": args.catalog,
    }


def cmd_refresh(args, spark) -> dict:
    """Bulk TTL re-crawl (CrawlEngine.refresh): un-see every page first
    fetched more than --max-age-rounds rounds ago and (by default)
    re-enqueue them stalest-first for the next `crawl --resume`."""
    engine, catalog = _engine(args, spark)
    out = engine.refresh(args.max_age_rounds, requeue=not args.no_requeue)
    out["seen"] = catalog.read("seen").count()
    out["catalog"] = args.catalog
    return out


def cmd_process(args, spark) -> dict:
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.binary import ingest_media_dir

    catalog = SnapshotCatalog(spark, args.catalog)
    return ingest_media_dir(
        spark, args.media_dir, catalog, table=args.index_name, pattern=args.pattern
    )


def cmd_query(args, spark) -> dict:
    from pyspark.sql import functions as F

    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.operators.retrieval import Retriever
    from crawleria_spark.plans.snapshot import SnapshotCatalog

    catalog = SnapshotCatalog(spark, args.catalog)
    docs = catalog.read("documents").select(
        "doc_id",
        "url_canon",
        F.concat_ws(
            " ", F.transform(F.col("spans"), lambda s: s["text"])
        ).alias("text"),
    )
    cfg = CrawlConfig(top_k=args.top_k, similarity_threshold=args.threshold)
    retriever = Retriever(docs, config=cfg)
    results = retriever.retrieve(query_text=args.text)
    ctx = retriever.format_for_llm(
        results, catalog.read("documents").select("doc_id", "spans")
    )
    # the LLM synthesis stage stays out of engine scope (SURVEY.md §3.3):
    # `ctx` is the driver-side context dict the reference hands its model
    return {
        "query": args.text,
        "results": [
            {k: r[k] for k in ("doc_id", "score", "rank")} for r in ctx["results"]
        ],
        "element_summary": {
            k: v["count"] for k, v in ctx["element_summary"].items()
        },
    }


def cmd_interactive(args, spark) -> dict:
    """Reference `interactive` mode (src/main.py:292-312): query loop
    over the crawled catalog; 'exit' quits. Reads stdin (pipeable)."""
    n = 0
    print("crawleria interactive — type a query, 'exit' to quit", flush=True)
    for line in sys.stdin:
        text = line.strip()
        if not text or text.lower() in ("exit", "quit"):
            break
        q_args = argparse.Namespace(
            catalog=args.catalog, text=text, top_k=args.top_k, threshold=args.threshold
        )
        print(json.dumps(cmd_query(q_args, spark), default=str), flush=True)
        n += 1
    return {"queries_answered": n}


def cmd_metrics(args, spark) -> dict:
    """Per-round crawl metrics from the lineage table."""
    from crawleria_spark.plans.snapshot import SnapshotCatalog

    catalog = SnapshotCatalog(spark, args.catalog)
    rows = (
        catalog.read("metrics")
        .filter("partition = -1")
        .orderBy("round")
        .collect()
    )
    return {
        "rounds": [
            {k: r[k] for k in ("round", "n_dequeued", "n_deduped", "n_fetched",
                               "n_errors", "n_discovered", "wall_ms")}
            for r in rows
        ],
        "meta": catalog.latest_meta(),
    }


def cmd_pipeline(args, spark) -> dict:
    out = {"crawl": cmd_crawl(args, spark)}
    if args.media_dir:
        out["process"] = cmd_process(args, spark)
    if args.text:
        out["query"] = cmd_query(args, spark)
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="crawleria_spark")
    p.add_argument("--catalog", default="/tmp/crawleria_catalog")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--world-seed", type=int, default=42)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("url")
    c.add_argument("--depth", type=int, default=3)
    c.add_argument("--max-pages", type=int, default=50)
    c.add_argument("--max-rounds", type=int, default=100)
    c.add_argument("--allowed-domains", nargs="*")
    c.add_argument("--resume", action="store_true")
    c.add_argument("--fetcher", choices=("synthetic", "http"), default="synthetic",
                   help="http = real network fetch via sources/http.py")
    c.add_argument("--cookies-file", help="JSON {host: cookie_header}")
    c.add_argument("--timeout", type=float, default=10.0)
    c.add_argument("--proxy-to", help="route requests to host:port, keeping "
                   "the URL host in the Host header (fetch proxy / tests)")
    c.add_argument("--seen-filter", choices=("bloom", "cuckoo"), default=None,
                   help="AMQ seen-set kind; cuckoo enables O(filter) forget. "
                   "Default: the catalog's persisted kind (bloom for a "
                   "fresh catalog). NOTE: forget-heavy deployments want "
                   "cuckoo — under bloom every forget is an O(seen) "
                   "filter rebuild because blooms cannot delete")

    fg = sub.add_parser("forget", help="un-see URLs so a resumed crawl "
                        "re-fetches them (re-crawl/refresh)")
    fg.add_argument("urls", nargs="+")
    fg.add_argument("--no-requeue", action="store_true",
                    help="only un-see; re-fetch happens on re-discovery")
    fg.set_defaults(depth=3, max_pages=50, allowed_domains=None)

    rf = sub.add_parser("refresh", help="TTL re-crawl: un-see + re-enqueue "
                        "pages first fetched more than N rounds ago")
    rf.add_argument("--max-age-rounds", type=int, required=True)
    rf.add_argument("--no-requeue", action="store_true")
    rf.set_defaults(depth=3, max_pages=50, allowed_domains=None)

    pr = sub.add_parser("process")
    pr.add_argument("--media-dir", required=True)
    pr.add_argument("--index-name", default="media_index")
    pr.add_argument("--pattern", default="*.png")

    q = sub.add_parser("query")
    q.add_argument("text")
    q.add_argument("--top-k", type=int, default=5)
    q.add_argument("--threshold", type=float, default=0.05)

    it = sub.add_parser("interactive")
    it.add_argument("--top-k", type=int, default=5)
    it.add_argument("--threshold", type=float, default=0.05)

    sub.add_parser("metrics")

    pl = sub.add_parser("pipeline")
    pl.add_argument("url")
    pl.add_argument("--depth", type=int, default=2)
    pl.add_argument("--max-pages", type=int, default=30)
    pl.add_argument("--max-rounds", type=int, default=20)
    pl.add_argument("--allowed-domains", nargs="*")
    pl.add_argument("--resume", action="store_true")
    pl.add_argument("--media-dir")
    pl.add_argument("--text")
    pl.add_argument("--top-k", type=int, default=5)
    pl.add_argument("--threshold", type=float, default=0.05)
    pl.add_argument("--index-name", default="media_index")
    pl.add_argument("--pattern", default="*.png")

    # global options are also accepted AFTER the subcommand (the natural
    # CLI shape: `crawl URL --catalog DIR`). SUPPRESS defaults keep the
    # subparser pass from clobbering a value given before the subcommand.
    for sp in sub.choices.values():
        g = sp.add_argument_group("global options")
        g.add_argument("--catalog", default=argparse.SUPPRESS)
        g.add_argument("--cores", type=int, default=argparse.SUPPRESS)
        g.add_argument("--world-seed", type=int, default=argparse.SUPPRESS)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from crawleria_spark.session import get_spark

    spark = get_spark("crawleria_cli", cores=args.cores)
    result = {
        "crawl": cmd_crawl,
        "forget": cmd_forget,
        "refresh": cmd_refresh,
        "process": cmd_process,
        "query": cmd_query,
        "pipeline": cmd_pipeline,
        "interactive": cmd_interactive,
        "metrics": cmd_metrics,
    }[args.cmd](args, spark)
    print(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
