"""Bloom seen-set properties: zero false negatives, bounded FP rate,
anti-join equivalence, and full engine parity with the bloom path on."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawleria_spark.operators.bloom import (
    _indexes,
    _set_bits,
    _test_bits,
    anti_join_seen,
    bloom_params,
    build_bloom,
    compact_blooms,
)


def test_bloom_numpy_no_false_negatives():
    m, k = bloom_params(10_000, 0.01)
    rng = np.random.default_rng(0)
    keys = rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64)
    bits = np.zeros(m // 8, dtype=np.uint8)
    _set_bits(bits, _indexes(keys, m, k))
    assert _test_bits(bits, _indexes(keys, m, k)).all()  # zero FN

    probes = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    probes = np.setdiff1d(probes, keys)
    fp_rate = _test_bits(bits, _indexes(probes, m, k)).mean()
    assert fp_rate < 0.05  # sized for 1%


def test_bloom_fpp_holds_for_bucket_correlated_keys():
    """Regression (r3): per-bucket blooms hold keys sharing h ≡ b (mod
    n_buckets). Before the _mix64 decorrelation, every double-hashed
    index then collapsed into k residue classes mod n_buckets (m is a
    multiple of 64), saturating 1/n_buckets of the bits — 84% FP at the
    2M bench shape instead of the sized 1%."""
    n_buckets, bucket = 32, 5
    m, k = bloom_params(65536, 0.01)
    rng = np.random.default_rng(3)
    # one bucket's worth of keys: all ≡ bucket (mod n_buckets)
    base = rng.integers(0, 2**57, size=62_500, dtype=np.int64)
    keys = base * n_buckets + bucket
    bits = np.zeros(m // 8, dtype=np.uint8)
    _set_bits(bits, _indexes(keys, m, k))
    assert _test_bits(bits, _indexes(keys, m, k)).all()  # zero FN
    probes = rng.integers(0, 2**57, size=100_000, dtype=np.int64) * n_buckets + bucket
    probes = np.setdiff1d(probes, keys)
    fp_rate = _test_bits(bits, _indexes(probes, m, k)).mean()
    assert fp_rate < 0.05, f"bucket-correlated FP rate {fp_rate:.3f}"


def test_anti_join_equivalence(spark):
    """bloom-prefiltered anti-join returns the identical row set."""
    n_seen, n_pending = 5_000, 8_000
    seen = spark.range(n_seen).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    # pending overlaps seen on ~half its rows
    pending = spark.range(n_pending).select(
        F.concat(F.lit("https://h/"), (F.col("id") * 2)).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))

    bloom = build_bloom(seen.select("url_hash"), n_buckets=8, capacity_per_bucket=10_000)
    exact = {r["url_canon"] for r in anti_join_seen(pending, seen).collect()}
    fast = {
        r["url_canon"]
        for r in anti_join_seen(
            pending, seen, bloom, n_buckets=8, capacity_per_bucket=10_000
        ).collect()
    }
    assert fast == exact
    assert 0 < len(exact) < n_pending


def test_merge_blooms_is_or(spark):
    a = spark.range(0, 1000).withColumn("url_hash", F.xxhash64("id"))
    b = spark.range(1000, 2000).withColumn("url_hash", F.xxhash64("id"))
    both = spark.range(0, 2000).withColumn("url_hash", F.xxhash64("id"))
    kw = dict(n_buckets=4, capacity_per_bucket=5_000)
    merged = compact_blooms(
        build_bloom(a.select("url_hash"), **kw).unionByName(
            build_bloom(b.select("url_hash"), **kw)
        )
    )
    direct = build_bloom(both.select("url_hash"), **kw)
    m = {r["partition"]: (bytes(r["bloom"]), r["n_items"]) for r in merged.collect()}
    d = {r["partition"]: (bytes(r["bloom"]), r["n_items"]) for r in direct.collect()}
    assert m == d


def test_delta_sized_blooms_bounded_probe(spark):
    """Round deltas get delta-sized blooms (a 300-row round appends KBs,
    not capacity-sized MBs) and bloom_split's driver collect is bounded
    by n_buckets × size-classes MERGED rows — independent of how many
    un-compacted delta rows the append table holds (round-2 verdict:
    the per-round driver pull grew with round count)."""
    from crawleria_spark.operators.bloom import bloom_split, compact_blooms

    def mk(lo, hi):
        df = spark.range(lo, hi).select(
            F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon")
        ).withColumn("url_hash", F.xxhash64("url_canon"))
        return build_bloom(df.select("url_hash"), n_buckets=8)

    big = mk(0, 20_000)
    smalls = [mk(20_000 + 300 * i, 20_000 + 300 * (i + 1)) for i in range(10)]
    appended = big
    for s in smalls:
        appended = appended.unionByName(s)
    rows = appended.collect()
    sizes = {len(bytes(r["bloom"])) for r in rows}
    assert len(sizes) == 2  # big-delta size class + small-delta size class
    # small deltas are sized for ~300/8 keys (1024 floor), NOT 1M capacity
    assert min(sizes) < 10_000
    # probe-time merge: ≤ n_buckets × size-classes rows reach the driver
    compacted = compact_blooms(spark.createDataFrame(rows)).collect()
    assert len(compacted) <= 8 * 2
    assert sum(len(bytes(r["bloom"])) for r in compacted) < sum(
        len(bytes(r["bloom"])) for r in rows
    )

    probe = spark.range(0, 24_000).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    certain_new, _ = bloom_split(probe, appended, n_buckets=8)
    new_ids = {r["url_canon"] for r in certain_new.collect()}
    # zero false negatives across mixed-m deltas
    assert not any(f"https://h/{i}" in new_ids for i in range(23_000))
    # the never-inserted tail is mostly certain-new (fp-bounded)
    assert sum(1 for i in range(23_000, 24_000) if f"https://h/{i}" in new_ids) > 900


def test_engine_parity_with_bloom(spark, tmp_catalog_root):
    """Full oracle parity with use_bloom=True and skew_safe=True — the
    flags the CLI and the benchmark crawl with (identical seen set is the
    north-rule invariant; the bloom must not change ANY output) — under
    an ``allowed_domains`` list: the hub host passes by suffix match, h1
    and h2 by exact match; the h3 seed drops at init and links to h3-h7
    in the engine's domain filter."""
    import dataclasses

    from tests.test_oracle_parity import CONFIG, SEEDS, WORLD, assert_parity, run_engine
    from crawleria_spark.oracle.crawler import OracleCrawler

    config = dataclasses.replace(
        CONFIG, allowed_domains=("example.com", "h1.example.org", "h2.example.org")
    )
    oracle = OracleCrawler(config, WORLD).crawl(SEEDS)
    catalog = run_engine(
        spark, tmp_catalog_root, config=config, use_bloom=True, skew_safe=True
    )
    assert_parity(catalog, oracle)
    # the bloom table exists and covers the seen set
    assert catalog.exists("seen_bloom")
    n_items = catalog.read("seen_bloom").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == catalog.read("seen").count()


def test_compact_blooms_equivalence(spark):
    """compact_blooms merges an append-table of per-round delta blooms
    into one row per bucket with the identical membership (probe results
    unchanged) — the path crawl() takes when delta dirs pile up."""
    import numpy as np
    from pyspark.sql import functions as F

    from crawleria_spark.operators.bloom import bloom_split, compact_blooms

    deltas = []
    for r in range(3):
        df = spark.range(r * 1000, (r + 1) * 1000).select(
            F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon")
        ).withColumn("url_hash", F.xxhash64("url_canon"))
        deltas.append(build_bloom(df, n_buckets=8, capacity_per_bucket=10_000))
    appended = deltas[0].unionByName(deltas[1]).unionByName(deltas[2])
    compacted = compact_blooms(appended)
    rows = compacted.collect()
    assert len(rows) == 8  # one row per bucket
    assert sum(r["n_items"] for r in rows) == 3000

    probe = spark.range(0, 4000).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    for bloom_table in (appended, compacted):
        certain_new, suspects = bloom_split(
            probe, bloom_table, n_buckets=8, capacity_per_bucket=10_000
        )
        new_ids = {r["url_canon"] for r in certain_new.collect()}
        # zero false negatives: every inserted key is a suspect
        assert all(f"https://h/{i}" not in new_ids for i in range(3000))
        # the never-inserted tail is mostly certain-new (fp-bounded)
        tail_new = sum(1 for i in range(3000, 4000) if f"https://h/{i}" in new_ids)
        assert tail_new > 900
