"""CLI parity with the reference entry point (src/main.py:213-319):
crawl / process / query / pipeline subcommands."""

import json

from crawleria_spark.__main__ import build_parser, main
from crawleria_spark.plans.snapshot import SnapshotCatalog


def test_cli_global_opts_either_side_of_subcommand():
    """The README documents `crawl URL --catalog DIR`; global options
    must parse after the subcommand too, without the subparser pass
    clobbering a value given before it (argparse SUPPRESS defaults)."""
    p = build_parser()
    after = p.parse_args(["crawl", "u", "--depth", "2", "--catalog", "/x"])
    assert after.catalog == "/x" and after.depth == 2
    before = p.parse_args(["--catalog", "/y", "forget", "u"])
    assert before.catalog == "/y"
    neither = p.parse_args(["metrics"])
    assert neither.catalog == "/tmp/crawleria_catalog"
    both = p.parse_args(["--catalog", "/a", "refresh",
                         "--max-age-rounds", "3", "--catalog", "/b"])
    assert both.catalog == "/b"  # later (subcommand-side) wins
    assert p.parse_args(["query", "q", "--cores", "4"]).cores == 4


def test_cli_crawl_then_query(spark, tmp_path, capsys):
    cat = str(tmp_path / "cli_cat")
    rc = main(
        ["--catalog", cat, "crawl", "https://hub.example.com/p/0",
         "--depth", "1", "--max-pages", "12", "--max-rounds", "5"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["fetched"] <= 12 and out["documents"] > 0

    rc = main(["--catalog", cat, "query", "spark frontier fetch queue",
               "--threshold", "0.01"])
    assert rc == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["results"] and q["results"][0]["rank"] == 1
    assert q["element_summary"]


def test_cli_resume(spark, tmp_path, capsys):
    cat = str(tmp_path / "cli_resume")
    main(["--catalog", cat, "crawl", "https://hub.example.com/p/0",
          "--depth", "2", "--max-pages", "30", "--max-rounds", "1"])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    main(["--catalog", cat, "crawl", "https://hub.example.com/p/0",
          "--depth", "2", "--max-pages", "30", "--max-rounds", "3", "--resume"])
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["fetched"] > first["fetched"]
    # pending counts the live frontier (frontier ▷ seen, distinct URLs),
    # not the append-only table's physical rows
    catalog = SnapshotCatalog(spark, cat)
    canon = {t: {r["url_canon"] for r in catalog.read(t).collect()}
             for t in ("frontier", "seen")}
    assert second["pending"] == len(canon["frontier"] - canon["seen"])


def test_cli_forget_recrawl(spark, tmp_path, capsys):
    """crawl → forget → resumed crawl re-fetches the forgotten URL
    (cuckoo filter: fingerprint deletion, no bloom rebuild)."""
    cat = str(tmp_path / "cli_forget")
    seed = "https://hub.example.com/p/0"
    main(["--catalog", cat, "crawl", seed, "--depth", "1",
          "--max-pages", "12", "--max-rounds", "5", "--seen-filter", "cuckoo"])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rc = main(["--catalog", cat, "forget", seed])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["forgotten"] == 1 and out["requeued"] == 1
    main(["--catalog", cat, "crawl", seed, "--depth", "1",
          "--max-pages", "30", "--max-rounds", "3", "--resume",
          "--seen-filter", "cuckoo"])
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["fetched"] > first["fetched"]  # the re-fetch happened


def test_cli_seen_filter_kind_comes_from_catalog(spark, tmp_path, capsys):
    """Without --seen-filter, resume and forget use the kind the catalog
    was crawled with: no kind-mismatch warning, the filter stays a
    cuckoo table, and it keeps covering exactly the seen rows."""
    cat = str(tmp_path / "cli_kind")
    seed = "https://hub.example.com/p/0"
    main(["--catalog", cat, "crawl", seed, "--depth", "1",
          "--max-pages", "4", "--max-rounds", "1", "--seen-filter", "cuckoo"])
    capsys.readouterr()
    main(["--catalog", cat, "crawl", seed, "--depth", "1",
          "--max-pages", "8", "--max-rounds", "1", "--resume"])
    assert main(["--catalog", cat, "forget", seed]) == 0
    out = capsys.readouterr().out
    assert "requested" not in out
    assert json.loads(out.strip().splitlines()[-1])["forgotten"] == 1
    catalog = SnapshotCatalog(spark, cat)
    assert catalog.latest_meta()["seen_filter"] == "cuckoo"
    assert catalog.exists("seen_cuckoo") and not catalog.exists("seen_bloom")
    n_items = sum(r["n_items"] for r in catalog.read("seen_cuckoo").collect())
    assert n_items == catalog.read("seen").count()


def test_cli_process(spark, tmp_path, capsys):
    d = tmp_path / "shots"
    d.mkdir()
    for i in range(3):
        (d / f"s{i}.png").write_bytes(b"IMG" * 99)
    rc = main(["--catalog", str(tmp_path / "c"), "process", "--media-dir", str(d)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexed"] == 3 and out["quarantined"] == 0


def test_cli_metrics_and_interactive(spark, tmp_path, capsys, monkeypatch):
    import io

    cat = str(tmp_path / "mi")
    main(["--catalog", cat, "crawl", "https://hub.example.com/p/0",
          "--depth", "1", "--max-pages", "8", "--max-rounds", "3"])
    capsys.readouterr()
    rc = main(["--catalog", cat, "metrics"])
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["rounds"] and m["rounds"][0]["round"] == 0
    assert m["meta"]["fetched_total"] <= 8

    monkeypatch.setattr("sys.stdin", io.StringIO("spark frontier\nexit\n"))
    rc = main(["--catalog", cat, "interactive", "--threshold", "0.01"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[-1])["queries_answered"] == 1


def test_cli_http_fetcher_crawl(spark, tmp_path):
    """`crawl --fetcher http --proxy-to ...` drives the real HTTP path
    end-to-end from the CLI (in-process server; cookies file honored)."""
    import json as _json
    import threading
    from http.server import ThreadingHTTPServer

    from crawleria_spark.__main__ import main
    from tests.test_http_fetcher import _WorldHandler

    server = ThreadingHTTPServer(("127.0.0.1", 0), _WorldHandler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    proxy = f"127.0.0.1:{server.server_address[1]}"
    cookies_file = tmp_path / "cookies.json"
    cookies_file.write_text(_json.dumps({"h2.example.org": "tok=42"}))

    cat = str(tmp_path / "cat")
    rc = main([
        "--catalog", cat, "crawl", "https://h2.example.org/p/0",
        "--fetcher", "http", "--proxy-to", proxy,
        "--cookies-file", str(cookies_file),
        "--depth", "1", "--max-pages", "8", "--max-rounds", "3",
    ])
    assert rc == 0
    server.shutdown()
    assert "tok=42" in _WorldHandler.cookies_seen.get("h2.example.org", set())
