"""Per-host politeness windows + concurrency caps.

Generalizes the reference's fixed ``await asyncio.sleep(1)`` between
consecutive fetches (src/crawler/crawler.py:169) into *logical* per-host
slot assignment: within a fetch round, the i-th URL of a host gets
``politeness_slot = i`` and would be fetched no earlier than
``i * politeness_delay_s`` after the round starts. The correctness
contract is the slot ORDER (per-host total order vs the oracle); wall
clock sleeping is an opt-in fidelity knob in the fetch stage.

The per-host concurrency cap realizes the reference's declared-but-unread
``max_concurrent_pages`` (config/config.py:30): at most k URLs per host
per round; overflow stays in the frontier for the next round.

Scale note: ``Window.partitionBy(host)`` shuffles one host to one task —
fine for the long tail, hot for a skewed hub host. ``bucketed_host_rank``
provides the skew path: bucket rows by their bounded priority ordinal so
a hot host spans several buckets, then recompose global per-host ranks
from bucket-local ranks + per-(bucket, host) count offsets. Order is
preserved because bucket ids are monotonic in priority.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def per_host_rank(
    df: DataFrame, host_col: str, order_cols: list[str], col_name: str = "host_rank"
) -> DataFrame:
    """0-based rank within host by order_cols (plain window; tail path)."""
    w = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(col_name, (F.row_number().over(w) - 1).cast("int"))


def bucketed_host_rank(
    df: DataFrame,
    host_col: str,
    priority_col: str,
    order_cols: list[str],
    priority_bound: float,
    col_name: str = "host_rank",
    num_buckets: int | None = None,
) -> DataFrame:
    """0-based rank within host, skew-safe AND recompute-safe.

    When the primary order key is a bounded global ordinal (the engine's
    ``priority`` — dense ordinals < next_priority from the round meta),
    the range bucket is a PURE EXPRESSION ``pid = floor(priority/width)``
    instead of ``repartitionByRange``:

    - no RangePartitioner sampling job (one driver job less per round);
    - deterministic under recompute — a lost block re-derives the same
      pid, so the count pass and the rank pass can never disagree (no
      persist has to pin the partitioning between the two passes);
    - pid is monotonic in priority, so per-host offsets accumulated in
      pid order recompose exact global per-host ranks;
    - a hot host still spans many buckets (buckets cut by priority, not
      host), so no single task ranks a whole hub host;
    - the count aggregate and the rank window share the (pid, host)
      keys, so Catalyst reuses one exchange for both passes.
    """
    n = num_buckets or df.sparkSession.sparkContext.defaultParallelism
    width = max(1.0, float(priority_bound) / n)
    pid = F.least(
        F.lit(n - 1), F.floor(F.col(priority_col) / F.lit(width)).cast("int")
    )
    keyed = df.withColumn("__pid", pid)
    # Per-host running offsets, computed DISTRIBUTIVELY: the counts
    # aggregate is tiny (≤ buckets × hosts rows), its per-host prefix-sum
    # window runs over that tiny frame, and only hosts that actually span
    # a bucket boundary survive the __off > 0 filter (the long tail of
    # hosts entirely inside one bucket drops out). There is NO driver
    # collect and NO literal offset map — with priority buckets every
    # host may span every boundary, and a collected map would put
    # buckets × hosts literals in the plan.
    counts = keyed.groupBy("__pid", host_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy(host_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        counts.withColumn("__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .filter(F.col("__off") > 0)
        .drop("__cnt")
    )
    # join keys match the rank window's partition keys → exchange reuse;
    # Spark broadcasts the offsets side whenever it is small enough.
    keyed = keyed.join(offsets, ["__pid", host_col], "left")
    w = Window.partitionBy("__pid", host_col).orderBy(*[F.col(c) for c in order_cols])
    return keyed.withColumn(
        col_name,
        (F.row_number().over(w) - 1 + F.coalesce(F.col("__off"), F.lit(0))).cast("int"),
    ).drop("__pid", "__off")


def apply_host_cap(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    order_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split into (within-cap rows, deferred overflow) per host."""
    order_cols = order_cols or ["priority", "url_canon"]
    ranked = per_host_rank(df, host_col, order_cols, col_name="__hrank").persist()
    kept = ranked.filter(F.col("__hrank") < cap).drop("__hrank")
    deferred = ranked.filter(F.col("__hrank") >= cap).drop("__hrank")
    return kept, deferred
