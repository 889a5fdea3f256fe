"""Crawl-engine benchmark: one workload per invocation, one process.

    python3 perfbench/run.py --workload bulk_bfs --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``; the Spark session is ``local[nproc]`` with the
workload's own driver heap. Every output is checked against an
independent computation. Report lines go to standard output, and the
last line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from
a run with spans around the calls into each layer (spans are written
to ``.perfbench_out/``). Scratch files live in ``.perfbench_work/``
and are removed before exit. ``--tiny`` shrinks every input, for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _stop(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from crawleria_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from tracing import Tracer
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run, heap = WORKLOADS[args.workload]
    layer_units = _layer_units()

    # every file Spark, the JVM and Python create stays in the checkout
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}_{args.seed}_{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = heap
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench_{args.workload}",
        cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    t1 = time.perf_counter()
    try:
        result = run(Context(spark, args.seed, args.seconds, args.tiny, cores, work, tracer))
    finally:
        t2 = time.perf_counter()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    load_end = os.getloadavg()

    setup_s = session_s + statistics.median(result.setup_samples)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"nproc {cores}")
    print(f"phase_s session {session_s:.2f} workload {t2 - t1:.2f} "
          f"stop {time.perf_counter() - t2:.2f}")
    print("loadavg_start {:.2f} {:.2f} {:.2f}".format(*load_start))
    print("loadavg_end {:.2f} {:.2f} {:.2f}".format(*load_end))
    print(f"failed_ratio {result.failed / max(result.attempted, 1):.4f} "
          f"({result.failed}/{result.attempted})")
    print("setup_samples_s " + " ".join(f"{s:.3f}" for s in result.setup_samples))
    print(f"metric setup_s {setup_s:.4f} s")
    for name, (value, unit) in {**result.e2e, **result.named}.items():
        print(f"metric {name} {value:.6g} {unit}")

    if args.trace:
        layers = dict.fromkeys(layer_units, 0.0)
        layers.update(result.layers)
        layers["session.start_s"] = session_s
        layers["trace.bookkeeping_s"] = tracer.bookkeeping_s
        layers["trace.overhead_ratio"] = tracer.bookkeeping_s / max(
            layers.get("trace.wall_s", 0.0), 1e-9
        )
        unknown = set(layers) - set(layer_units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        for name in layer_units:
            print(f"layer {name} {layers[name]:.6g}")
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans_{run_id}.jsonl"))
        metrics = {n: {"value": layers[n], "unit": u} for n, u in layer_units.items()}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
        metrics.update(
            {n: {"value": v, "unit": u} for n, (v, u) in result.e2e.items()}
        )
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
