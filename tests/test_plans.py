"""Physical-plan quality gates: the optimizations we rely on at 100 TB
must actually appear in the executed plan — filter pushdown to parquet,
broadcast joins for small dims, TakeOrderedAndProject for top-k (no
global sort), and whole-stage codegen around hot expressions."""

import pytest

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_threshold_pushdown_to_parquet(spark, entry):
    df = entry.queries()["q_topk_threshold_rank"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThanOrEqual(o_totalprice" in plan


def test_column_pruning(spark, entry):
    df = entry.queries()["q_group_by_kind"](spark, SF_DIR)
    plan = _plan(df)
    # scan must read only event_type, not all 6 event columns
    assert "ReadSchema: struct<event_type:string>" in plan


def test_topk_is_take_ordered(spark, entry):
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    top = orders.orderBy(F.col("o_totalprice").desc()).limit(5)
    assert "TakeOrderedAndProject" in _plan(top)  # no global sort


def test_revenue_join_is_broadcast(spark, entry):
    df = entry.queries()["q_revenue_by_nation"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "SortMergeJoin" not in plan


def test_anti_join_shape(spark, entry):
    df = entry.queries()["q_dedup_anti_join"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_text_metrics_stay_jvm_side(spark, entry):
    """Quality scoring must be pure JVM expressions (higher-order array
    lambdas fall out of codegen but never cross into Python) with the
    scan pruned to the two needed columns."""
    df = entry.queries()["q_quality_scores"](spark, SF_DIR)
    plan = _plan(df)
    assert "EvalPython" not in plan  # no Python crossing at all
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_corpus_hygiene_plans(spark, entry):
    """The round-4 training-data hygiene queries stay pure-JVM (array
    exprs + regexp_replace — zero Python crossings) and decontamination
    keeps the corpus side shuffle-free: the benchmark n-gram set and
    the contaminated-id set are the ONLY broadcast sides."""
    qs = entry.queries()
    for name in (
        "q_repetition_filter",
        "q_pii_redaction",
        "q_decontaminate",
        "q_pack_sequences",
        "q_stratified_sample",
    ):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "EvalPython" not in plan, name
    decon = _plan(qs["q_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in decon  # bench grams broadcast, semi
    assert "LeftSemi" in decon
    assert "SortMergeJoin" not in decon  # corpus n-grams never shuffle


def test_no_row_python_udfs_anywhere(spark, entry):
    """Every Python crossing must be Arrow-vectorized (ArrowEvalPython /
    mapInPandas FlatMapGroupsInPandas etc.), never BatchEvalPython."""
    qs = entry.queries()
    for name in [
        "q_url_canonical_doc_id", "q_lang_id", "q_cosine_topk",
        "q_minhash_dup_pairs", "q_simhash_dup_pairs", "q_winnow_dup_pairs",
        "q_ann_lsh_topk", "q_ann_ivf_topk", "q_media_pipeline",
        "q_dedup_anti_join_cuckoo",
    ]:
        plan = _plan(qs[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name


def test_fetch_stage_has_one_python_node(spark):
    """The crawl's fetch is its one Python crossing: the mapInPandas
    fetch UDF. doc_id (and the span zip) are JVM columns around it.
    Plan-only — no Spark job runs."""
    import re

    from crawleria_spark.sources.fetch import (
        fetch_stage,
        synthetic_fetcher,
        with_spans_column,
    )
    from crawleria_spark.synthetic.world import WorldConfig

    df = spark.createDataFrame([("https://h0.example.org/p/0",)], "url string")
    plan = _plan(with_spans_column(fetch_stage(df, synthetic_fetcher(WorldConfig()))))
    nodes = re.findall(r"\b(MapInPandas|MapInArrow|\w*EvalPython\w*)\b", plan)
    assert nodes == ["MapInPandas"], plan


def test_clustered_derivation_stays_jvm_side(spark, entry):
    """The r3 clustered-embedding derivation (ANN oracle substrate) is a
    pure JVM transform expression — no Python crossing before the probe
    UDF itself."""
    import __spark_entry__ as e

    df, _ = e._clustered_embeddings(spark, SF_DIR)
    assert "EvalPython" not in _plan(df)


def test_media_enrichment_broadcasts(spark):
    from pyspark.sql import functions as F

    from crawleria_spark.operators.topk import enrich_with_media

    results = spark.range(100).select(
        F.concat(F.lit("d"), "id").alias("doc_id"), F.rand(1).alias("score")
    )
    media = spark.createDataFrame([("d1", "m")], "doc_id string, media_ref string")
    assert "BroadcastHashJoin" in _plan(enrich_with_media(results, media))


def test_ann_probes_prune_partitions(spark, entry):
    """The r5 indexed ANN layout: probe plans must filter on PARTITION
    columns (directory pruning — the scan reads ~nprobe/n_centroids or
    n_tables buckets of the index, never the full table) and contain NO
    Python at probe time (the signature recompute moved to ingest)."""
    qs = entry.queries()
    ivf = _plan(qs["q_ann_ivf_topk"](spark, SF_DIR))
    lsh = _plan(qs["q_ann_lsh_topk"](spark, SF_DIR))
    assert "PartitionFilters: [ivf_cell" in ivf
    assert "EvalPython" not in ivf
    # OR-of-(table_id, code) conjunctions lands in PartitionFilters
    assert "PartitionFilters: [" in lsh and "table_id" in lsh.split("PartitionFilters: [", 1)[1][:400]
    assert "EvalPython" not in lsh

    # runtime truth, not just plan text: probed files < index files
    from pyspark.sql import functions as F

    idx = entry._ann_index(spark, SF_DIR)
    all_files = idx.ivf_df().select(F.input_file_name()).distinct().count()
    probed = (
        idx.ivf_df().filter(F.col("ivf_cell").isin([0, 1, 2]))
        .select(F.input_file_name()).distinct().count()
    )
    assert 0 < probed < all_files


def test_iterative_cc_plan_stays_bounded(spark, entry):
    """r6 gate for the r5 scale-killer: connected_components references
    its previous iteration twice per loop, so WITHOUT per-iteration
    lineage truncation the lazy plan doubles per iteration (~2^iters
    embeddings of the upstream pair pipeline — q_dup_groups measured
    295 s on 200 docs; the truncated version runs in ~2 s). Gate: the
    final plan of the full q_dup_groups query must be truncated-small
    (a LogicalRDD scan, no parquet rescan) and the per-iteration cost
    must not have re-inflated."""
    df = entry.queries()["q_dup_groups"](spark, SF_DIR)
    plan = _plan(df)
    # truncated lineage: final plan reads the checkpointed RDD, not the
    # minhash pipeline (no parquet scan, no Python eval in the tail)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert len(plan) < 20_000, f"plan blew up to {len(plan)} chars"

    # the operator itself, on a plain in-memory pairs df: analyzed plan
    # size must grow at most linearly in iters, never exponentially
    from crawleria_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    p2 = len(_plan(connected_components(pairs, iters=2)))
    p8 = len(_plan(connected_components(pairs, iters=8)))
    assert p8 < p2 * 8
