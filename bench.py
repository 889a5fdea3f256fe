"""Query benchmark harness. Prints ONE JSON line:

    {"metric": "...", "value": <total headline sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_REPEATS (default 3).

The crawl engine's benchmark is perfbench/run.py (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_events_hourly",
    "q_metrics_rollup",
    "q_politeness_slots",
    "q_round_dequeue",
    "q_dedup_anti_join",
    "q_url_canonical_doc_id",
    "q_fingerprints",
    "q_quality_scores",
    "q_token_stats",
    "q_lang_id",
    "q_word_jaccard_pairs",
    "q_exact_dup_groups",
    # round-4 additions — totals before/after r4 are not comparable
    # (5 more queries in the sum); compare per-query
    "q_decontaminate",
    "q_repetition_filter",
    "q_pii_redaction",
    "q_pack_sequences",
    "q_stratified_sample",
    "q_cosine_topk",
    "q_embedding_dup_pairs",
    "q_minhash_dup_pairs",
    "q_dup_groups",
    "q_simhash_dup_pairs",
    "q_ann_lsh_topk",
]


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_queries(spark, sf_dir: str, repeats: int = 3) -> dict[str, float]:
    """Per-query wall: min of `repeats` timed runs after one warm run.

    Min-of-k because this box hosts bursty external tenants (documented
    1.8x run-to-run variance — the r2 q_lang_id 0.44->1.86 s 'regression'
    was a single-shot landing in a neighbor's burst); the minimum is the
    least-contended estimate."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm (plan + file listing + JIT)
        best = float("inf")
        for _ in range(max(1, repeats)):
            t0 = time.time()
            _materialize(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def main_single() -> dict:
    from crawleria_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench", cores=cores)
    # SPARK_GRAFT_BENCH_REPEATS=5 for re-measuring suspected-noise rows
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    queries = bench_queries(spark, sf_dir, repeats=repeats)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline queries wall-clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


if __name__ == "__main__":
    print(json.dumps(main_single()))
