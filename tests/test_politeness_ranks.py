"""Two-implementation agreement for per-host ranking: the plain
window (tail path, the reference) and the deterministic priority-bucket
variant the engine uses (recompute-safe, no sampling job). Both must
assign identical politeness slots."""

import pytest
from pyspark.sql import functions as F

from crawleria_spark.operators.politeness import bucketed_host_rank, per_host_rank


@pytest.fixture(scope="module")
def skewed(spark):
    # hub host holds ~30% of rows; priorities are dense global ordinals
    base = spark.range(20_000).withColumn(
        "host",
        F.when(F.col("id") % 10 < 3, F.lit("hub.example.com")).otherwise(
            F.concat(F.lit("h"), (F.col("id") % 37), F.lit(".example.org"))
        ),
    )
    return base.select(
        F.concat(F.lit("https://"), "host", F.lit("/p/"), "id").alias("url_canon"),
        "host",
        F.col("id").cast("double").alias("priority"),
    ).persist()


def _slots(df):
    return {
        r["url_canon"]: r["slot"]
        for r in df.select("url_canon", "slot").collect()
    }


def test_rank_variants_agree(spark, skewed):
    order = ["priority", "url_canon"]
    plain = _slots(per_host_rank(skewed, "host", order, col_name="slot"))
    bucketed = _slots(
        bucketed_host_rank(
            skewed, "host", "priority", order,
            priority_bound=20_000, col_name="slot", num_buckets=16,
        )
    )
    assert bucketed == plain
    # sanity: hub host rank really is a dense 0..m-1 sequence
    hub = sorted(v for k, v in plain.items() if "hub" in k)
    assert hub == list(range(len(hub)))


def test_bucketed_rank_degenerate_bounds(spark, skewed):
    """bound smaller than max priority and a single bucket both stay
    correct (buckets clamp; one bucket degenerates to the plain rank)."""
    order = ["priority", "url_canon"]
    plain = _slots(per_host_rank(skewed, "host", order, col_name="slot"))
    for bound, buckets in ((100, 8), (20_000, 1)):
        got = _slots(
            bucketed_host_rank(
                skewed, "host", "priority", order,
                priority_bound=bound, col_name="slot", num_buckets=buckets,
            )
        )
        assert got == plain, (bound, buckets)


def test_bucketed_dense_ordinal_equivalence(spark):
    """bucketed_dense_ordinal == with_dense_ordinal == a single-window
    ground truth, on a bounded leading key (the engine's discovery /
    budget-cut shape), including degenerate bounds."""
    from pyspark.sql import Window, functions as F

    from crawleria_spark.operators.ordinal import (
        bucketed_dense_ordinal,
        bucketed_limit_by,
        with_dense_ordinal,
    )

    df = (
        spark.range(5_000)
        .select(
            (F.xxhash64("id") % 1000 + 1000).cast("double").alias("prio"),
            F.col("id").alias("tie"),
        )
        .persist()
    )
    w = Window.orderBy("prio", "tie")
    truth = {
        (r["prio"], r["tie"]): r["o"]
        for r in df.withColumn("o", F.row_number().over(w) - 1 + 7).collect()
    }
    for buckets, bound in ((16, 2000.0), (1, 2000.0), (64, 1.0)):
        got = {
            (r["prio"], r["tie"]): r["ord"]
            for r in bucketed_dense_ordinal(
                df, "prio", ["prio", "tie"], bound=bound, col_name="ord",
                start=7, num_buckets=buckets,
            ).collect()
        }
        assert got == truth, f"buckets={buckets} bound={bound}"
    legacy = {
        (r["prio"], r["tie"]): r["ord"]
        for r in with_dense_ordinal(df, ["prio", "tie"], col_name="ord", start=7).collect()
    }
    assert legacy == truth

    taken, rest = bucketed_limit_by(df, "prio", ["prio", "tie"], 123, bound=2000.0)
    tk = {(r["prio"], r["tie"]) for r in taken.collect()}
    assert len(tk) == 123
    assert tk == {k for k, v in truth.items() if v - 7 < 123}
    assert rest.count() == 5_000 - 123


def test_bucketed_prefix_sum_matches_global_window(spark):
    """Weighted running sum recomposes exactly across bucket boundaries
    (exclusive semantics, arbitrary weights incl. zeros), and the
    packing operator derives consistent pack/offset from it."""
    import random

    from pyspark.sql import functions as F

    from crawleria_spark.operators.ordinal import bucketed_prefix_sum
    from crawleria_spark.operators.packing import pack_sequences

    rng = random.Random(7)
    rows = [(i, rng.choice([0, 1, 3, 17, 120])) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, w long").repartition(7)
    got = {
        r["k"]: r["cum_before"]
        for r in bucketed_prefix_sum(
            df, "k", ["k"], "w", bound=1000, num_buckets=8
        ).collect()
    }
    acc, want = 0, {}
    for k, w in rows:
        want[k] = acc
        acc += w
    assert got == want

    packed = {
        r["k"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(
            df, budget=256, token_col="w", bound_col="k", bound=1000, num_buckets=8
        ).collect()
    }
    assert packed == {k: (c // 256, c % 256) for k, c in want.items()}
