"""Round-6 optimization measurement harness (bench.py is FROZEN for
driver measurement — this file holds the extra instrumentation the
optimization guide §1 calls for, cited from OPTIMIZATION_r06.md).

Per-query isolation with the noop sink, same methodology as
bench.py::bench_queries (1 warm run + min of N timed construct+noop
runs), plus optional .explain("formatted") capture to plans/r06/.

Usage:
    python bench_extra.py q_dup_groups q_minhash_dup_pairs   # time only
    python bench_extra.py --plans before q_dup_groups        # also write
        plans/r06/q_dup_groups_before.txt (truncated at 200 KB)
    python bench_extra.py --all                              # whole HEADLINE list

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_REPEATS (default 3).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PLAN_CAP = 200 * 1024  # explain() of a pathological plan can be huge


def capture_plan(df, path: str) -> None:
    txt = df._sc._jvm.PythonSQLUtils.explainString(  # same as explain()
        df._jdf.queryExecution(), "formatted"
    )
    if len(txt) > PLAN_CAP:
        txt = txt[:PLAN_CAP] + f"\n... [truncated: full plan {len(txt)} bytes]\n"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(txt)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse the command line; ``names`` holds the queries to time."""
    import bench

    p = argparse.ArgumentParser(description="Time queries in isolation.")
    p.add_argument("names", nargs="*", metavar="QUERY")
    p.add_argument("--all", action="store_true", help="time the whole HEADLINE list")
    p.add_argument("--plans", metavar="TAG",
                   help="also write plans/r06/<query>_<TAG>.txt")
    args = p.parse_args(argv)
    # every query name starts with q_: such a tag is a query name that
    # --plans consumed
    if args.plans is not None and args.plans.startswith("q_"):
        p.error(f"--plans takes a tag, not the query name {args.plans!r}")
    if args.all:
        args.names = list(bench.HEADLINE)
    if not args.names:
        p.error("give at least one query name, or --all")
    return args


def main() -> None:
    import bench
    import __spark_entry__ as entry
    from crawleria_spark.session import get_spark

    args = parse_args()
    plan_tag, names = args.plans, args.names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    spark = get_spark("bench_extra", cores=cores)
    qs = entry.queries()
    out: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"{name}: warm")
        df = fn(spark, sf_dir)
        if plan_tag:
            capture_plan(df, f"plans/r06/{name}_{plan_tag}.txt")
        df.count()  # warm (plan + file listing + JIT)
        best, samples = float("inf"), []
        for k in range(max(1, repeats)):
            spark.sparkContext.setJobDescription(f"{name}: timed {k}")
            t0 = time.time()
            bench._materialize(fn(spark, sf_dir))
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        out[name] = round(best, 3)
        print(json.dumps({"query": name, "min": out[name], "samples": samples,
                          "load1": round(os.getloadavg()[0], 1)}),
              flush=True)
    print(json.dumps({"sf_dir": sf_dir, "queries_min": out,
                      "total": round(sum(out.values()), 3)}))


if __name__ == "__main__":
    main()
