"""The benchmark's own tests: the output checks reject corrupted outputs,
and every workload emits every metric of BENCHMARK.json with its unit.

    python3 -m pytest perfbench -q

The end-to-end tests start a Spark session per workload at a tiny size
(about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import check_crawl, check_queries, reference_topk, tokenize  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def oracle_crawl():
    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.oracle.crawler import OracleCrawler
    from crawleria_spark.synthetic.world import WorldConfig, seed_urls

    world = WorldConfig(seed=7, n_hosts=6, pages_per_host=30)
    cfg = CrawlConfig(max_depth=3, max_pages=40, max_concurrent_per_host=10**9)
    return OracleCrawler(cfg, world).crawl(seed_urls(world, n=6))


def as_engine_rows(res) -> dict:
    """The oracle's output in the shape the benchmark reads back from
    the engine's catalog."""
    round_of = {
        r["url_canon"]: r["round"] for r in res.fetch_log if r["status"] != "robots_denied"
    }
    return {
        "fetch_log": [dict(r) for r in res.fetch_log],
        "seen": [(r["url_canon"], r["round"]) for r in res.fetch_log],
        "documents": [
            (round_of[d["url_canon"]], d["url_canon"], d["doc_id"], d["spans"])
            for d in res.documents
        ],
    }


def fetched_rows(rows: dict) -> list[dict]:
    return [r for r in rows["fetch_log"] if r["status"] != "robots_denied"]


def test_crawl_check_accepts_matching_output(oracle_crawl):
    assert oracle_crawl.rounds >= 2
    assert check_crawl(as_engine_rows(oracle_crawl), oracle_crawl) == set()


def test_crawl_check_rejects_dropped_fetch_row(oracle_crawl):
    rows = as_engine_rows(oracle_crawl)
    dropped = fetched_rows(rows)[-1]
    rows["fetch_log"].remove(dropped)
    assert check_crawl(rows, oracle_crawl) == {dropped["round"]}


def test_crawl_check_rejects_swapped_host_order(oracle_crawl):
    rows = as_engine_rows(oracle_crawl)
    by_host: dict[str, list[dict]] = {}
    for r in fetched_rows(rows):
        by_host.setdefault(r["host"], []).append(r)
    a, b = next(rs for rs in by_host.values() if len(rs) >= 2)[:2]
    a["seq_in_host"], b["seq_in_host"] = b["seq_in_host"], a["seq_in_host"]
    assert check_crawl(rows, oracle_crawl) == {a["round"], b["round"]}


def test_crawl_check_rejects_refetch_and_span_change(oracle_crawl):
    rows = as_engine_rows(oracle_crawl)
    again = dict(fetched_rows(rows)[0], round=oracle_crawl.rounds - 1)
    rows["fetch_log"].append(again)
    assert {0, oracle_crawl.rounds - 1} <= check_crawl(rows, oracle_crawl)

    rows = as_engine_rows(oracle_crawl)
    rnd, canon, doc_id, spans = rows["documents"][0]
    spans = [dict(s) for s in spans]
    spans[0]["text"] = (spans[0]["text"] or "") + " changed"
    rows["documents"][0] = (rnd, canon, doc_id, spans)
    assert check_crawl(rows, oracle_crawl) == {rnd}


CORPUS = pd.DataFrame(
    [
        ("d1", tokenize("spark crawl fetch")),
        ("d2", tokenize("spark crawl")),
        ("d3", tokenize("bloom filter hash")),
        ("d0", tokenize("crawl spark")),
    ],
    columns=["doc_id", "tokens"],
)


def test_reference_topk_breaks_ties_by_doc_id():
    top = reference_topk(CORPUS, "Spark crawl", k=5, threshold=0.05)
    assert top == [("d0", 1.0, 1), ("d2", 1.0, 2), ("d1", 2 / 3, 3)]


def test_query_check_rejects_stale_cache_result():
    fresh = reference_topk(CORPUS, "spark crawl", 5, 0.05)[:4]
    stale = reference_topk(CORPUS, "bloom hash", 5, 0.05)[:4]
    records = [
        {"query": "spark crawl", "repeat": False, "results": fresh},
        {"query": "spark crawl", "repeat": True, "results": fresh},
        {"query": "spark crawl", "repeat": True, "results": stale},
    ]
    assert check_queries(records, CORPUS, 5, 0.05, head=4) == {2}


def test_query_check_rejects_reordered_results():
    fresh = reference_topk(CORPUS, "spark crawl", 5, 0.05)
    swapped = [(d, s, r) for (d, s, _), (_, _, r) in zip(fresh[::-1], fresh)]
    records = [{"query": "spark crawl", "repeat": False, "results": swapped}]
    assert check_queries(records, CORPUS, 5, 0.05, head=4) == {0}


def test_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    tr.spans = [
        {"id": 0, "name": "outer", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "inner", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "inner", "start": 3.0, "end": 5.0, "parent": 0},
    ]
    assert tr.self_s("outer") == pytest.approx(6.0)
    assert tr.total_s("inner") == pytest.approx(5.0)


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert not p.stdout.strip()
