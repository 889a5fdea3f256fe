"""Edge-case coverage for deterministic sampling + parquet-footer stats
(the r4 ADVICE items: saturated frac, NULL keys, packing bound)."""

import os

import pytest
from pyspark.sql import functions as F


def test_sample_frac_one_selects_everything(spark):
    # frac=1.0 saturates the hex threshold: 16^6 formats to a 7-char
    # string whose lexicographic compare against 6-char hex selects only
    # ~6.25% of rows. The predicate must special-case saturation.
    from crawleria_spark.operators.sampling import deterministic_sample

    df = spark.range(400).withColumnRenamed("id", "k")
    assert deterministic_sample(df, 1.0, "k").count() == 400
    assert deterministic_sample(df, 0.0, "k").count() == 0
    # within float resolution of 1.0 — same saturation path
    assert deterministic_sample(df, 1.0 - 1e-9, "k").count() == 400


def test_split_keeps_null_keys(spark):
    # NULL key => NULL md5 => NULL predicate; without coalesce the row
    # vanishes from BOTH filter(pred) and filter(~pred).
    from crawleria_spark.operators.sampling import sample_predicate

    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("c",)], "k string"
    )
    pred = sample_predicate("k", 0.5)
    inside, outside = df.filter(pred), df.filter(~pred)
    got = sorted(
        (r["k"] or "<null>") for part in (inside, outside) for r in part.collect()
    )
    assert got == ["<null>", "a", "b", "c"]
    # and deterministically outside the sample
    assert any(r["k"] is None for r in outside.collect())


def test_parquet_footer_stats(tmp_path, spark):
    from crawleria_spark.sources.stats import key_bound, parquet_column_max

    path = str(tmp_path / "t.parquet")
    spark.range(100).withColumnRenamed("id", "doc_id").withColumn(
        "x", F.lit("y")
    ).write.parquet(path)
    assert parquet_column_max(path, "doc_id") == 99
    assert key_bound(path, "doc_id") == 100.0
    # empty table: bound falls back to 1 (single bucket, still correct)
    empty = str(tmp_path / "e.parquet")
    spark.range(0).withColumnRenamed("id", "doc_id").write.parquet(empty)
    assert key_bound(empty, "doc_id") == 1.0


def test_pack_sequences_empty_and_bound_insensitive(spark):
    # pack assignment is correct for ANY positive bound (bound only
    # shapes buckets), and an empty input yields an empty result rather
    # than a construction-time error.
    from crawleria_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, 700) for i in range(10)], "doc_id long, n_tok long"
    )
    for bound in (1.0, 10.0, 1e9):
        rows = (
            pack_sequences(df, budget=2048, token_col="n_tok",
                           bound_col="doc_id", bound=bound)
            .orderBy("doc_id")
            .collect()
        )
        cum = 0
        for r in rows:
            assert (r["pack_id"], r["pack_offset"]) == (cum // 2048, cum % 2048)
            cum += 700
    empty = spark.createDataFrame([], "doc_id long, n_tok long")
    out = pack_sequences(empty, budget=2048, token_col="n_tok",
                         bound_col="doc_id", bound=1.0)
    assert out.count() == 0


def test_q_pack_sequences_builds_without_spark_job(spark, monkeypatch):
    # query construction must not launch a Spark job (the bound comes
    # from parquet footers now) — guard by failing any action.
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("testdata missing")
    from pyspark.sql import DataFrame

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("query construction ran a Spark action")

    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = entry.queries()["q_pack_sequences"](spark, sf_dir)
    monkeypatch.undo()
    assert df.count() > 0
