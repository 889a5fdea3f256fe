"""Retrieval-surface operators (A6-A9, P6, J1/J2, C1) on synthetic data."""

import os
import threading

from pyspark.sql import functions as F

from crawleria_spark.operators.cache import QueryCache
from crawleria_spark.operators.topk import (
    enrich_with_media,
    grouped_topk,
    rerank,
    threshold_topk,
)


def _scores(spark):
    rows = [(i, f"d{i}", (i * 37 % 100) / 100.0) for i in range(200)]
    return spark.createDataFrame(rows, "id long, doc_id string, score double")


def test_threshold_topk(spark):
    out = threshold_topk(_scores(spark), "score", 0.7, 5, ["doc_id"]).collect()
    assert len(out) == 5
    assert all(r["score"] >= 0.7 for r in out)
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_threshold_filters_everything(spark):
    assert threshold_topk(_scores(spark), "score", 2.0, 5).count() == 0


def test_grouped_topk(spark):
    df = _scores(spark).withColumn("host", (F.col("id") % 4).cast("string"))
    out = grouped_topk(df, ["host"], "score", 3, ["doc_id"])
    counts = out.groupBy("host").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_rerank_and_cap(spark):
    df = threshold_topk(_scores(spark), "score", 0.5, 10, ["doc_id"])
    rr = rerank(df, F.lit(1.0) - F.col("score"), tiebreak_cols=["doc_id"])
    rows = rr.collect()
    rs = [r["rerank_score"] for r in rows]
    assert rs == sorted(rs, reverse=True)


def test_enrich_with_media_broadcast(spark):
    results = spark.createDataFrame(
        [("d1", 0.9), ("d2", 0.8), ("d3", 0.7)], "doc_id string, score double"
    )
    media = spark.createDataFrame(
        [("d1", "img://a"), ("d3", None)], "doc_id string, media_ref string"
    ).withColumn("fallback", F.concat(F.lit("shots/"), "doc_id"))
    out = enrich_with_media(results, media, fallback_col="fallback")
    got = {r["doc_id"]: r["media_ref"] for r in out.collect()}
    assert got == {"d1": "img://a", "d3": "shots/d3"}  # d2: no media row → dropped
    # physical plan: the media side must be a broadcast join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_query_cache_ttl(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"), ttl_s=3600)
    calls = []

    def compute():
        calls.append(1)
        return spark.createDataFrame([(1, "a")], "id long, v string")

    df1, hit1 = cache.get_or_compute("q", compute, now=1000.0)
    assert not hit1 and df1.count() == 1
    _, hit2 = cache.get_or_compute("q", compute, now=1000.0 + 3600)  # edge: fresh
    assert hit2
    _, hit3 = cache.get_or_compute("q", compute, now=1000.0 + 3601)  # stale
    assert not hit3
    assert len(calls) == 2  # computed on miss + on expiry only
    _, hit4 = cache.get_or_compute("other", compute, now=2000.0)
    assert not hit4


def test_query_cache_entry_files(spark, tmp_path):
    """One file per key: re-storing an expired key replaces its file, and
    a stale lookup removes it."""
    root = tmp_path / "qc"
    cache = QueryCache(spark, str(root), ttl_s=10)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    cache.store("q", df, now=0.0)
    cache.store("q", df, now=100.0)  # the entry from t=0 had expired
    assert os.listdir(root) == [f"{QueryCache.key_for('q')}.arrow"]
    assert cache.lookup("q", now=105.0).collect() == df.collect()
    assert cache.lookup("q", now=111.0) is None  # stale
    assert os.listdir(root) == []


def test_query_cache_two_clients(spark, tmp_path):
    """Two caches on one root, storing different keys from two threads at
    once, each see every key afterwards (no shared index to lose)."""
    root = str(tmp_path / "qc")
    caches = [QueryCache(spark, root), QueryCache(spark, root)]
    keys = [[f"c{c}-q{i}" for i in range(3)] for c in range(2)]
    frames = {
        k: spark.createDataFrame([(k,)], "q string") for ks in keys for k in ks
    }
    start = threading.Barrier(2)

    def client(cache, ks):
        start.wait(timeout=60)
        for k in ks:
            cache.store(k, frames[k], now=0.0)

    threads = [
        threading.Thread(target=client, args=(cache, ks))
        for cache, ks in zip(caches, keys)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    for cache in caches:
        for k in frames:
            hit = cache.lookup(k, now=1.0)
            assert hit is not None, k
            assert hit.collect()[0]["q"] == k
