"""Retriever facade: the reference's query lifecycle end-to-end
(score → threshold → top-k → rank → rerank → media join → cache →
LLM-context formatting)."""

import pytest
from pyspark.sql import functions as F

from crawleria_spark.config import CrawlConfig
from crawleria_spark.operators.cache import QueryCache
from crawleria_spark.operators.retrieval import Retriever, text_overlap_score


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        ("d1", "spark frontier crawl fetch queue", [1.0, 0.0, 0.0, 0.0]),
        ("d2", "spark shuffle partition skew salt", [0.9, 0.1, 0.0, 0.0]),
        ("d3", "bloom filter hash seen set", [0.0, 1.0, 0.0, 0.0]),
        ("d4", "politeness budget robots gate", [0.0, 0.0, 1.0, 0.0]),
        ("d5", "spark crawl fetch frontier queue page", [0.95, 0.0, 0.1, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "doc_id string, text string, embedding array<float>"
    ).persist()


def test_text_retrieval(spark, corpus):
    r = Retriever(corpus, config=CrawlConfig(top_k=3, similarity_threshold=0.2))
    out = r.retrieve(query_text="spark crawl frontier fetch queue").collect()
    assert [row["doc_id"] for row in out][:2] == ["d1", "d5"]
    assert [row["rank"] for row in out] == list(range(1, len(out) + 1))
    assert all(row["score"] >= 0.2 for row in out)


def test_vector_and_hybrid(spark, corpus):
    r = Retriever(corpus, config=CrawlConfig(top_k=2, similarity_threshold=0.5))
    out_v = r.retrieve(query_vec=[1.0, 0.0, 0.0, 0.0], search_type="vector").collect()
    assert [row["doc_id"] for row in out_v] == ["d1", "d5"]
    out_h = r.retrieve(
        query_text="spark crawl", query_vec=[1.0, 0.0, 0.0, 0.0],
        search_type="hybrid", threshold=0.3,
    ).collect()
    assert out_h[0]["doc_id"] in ("d1", "d5")


def test_media_join_and_rerank(spark, corpus):
    media = spark.createDataFrame(
        [("d1", "img://1"), ("d5", "img://5")], "doc_id string, media_ref string"
    )
    cfg = CrawlConfig(top_k=3, similarity_threshold=0.2, reranking_enabled=True)
    r = Retriever(corpus, media=media, config=cfg)
    out = r.retrieve(
        query_text="spark crawl frontier fetch queue",
        rerank_score=F.length("doc_id") + F.col("score"),
    ).collect()
    # P7 existence filter: only docs with media remain
    assert {row["doc_id"] for row in out} <= {"d1", "d5"}
    assert all(row["media_ref"] for row in out)


def test_uncached_retrieve_is_action_free(spark, corpus):
    """The uncached retrieve() hot path launches ZERO Spark jobs —
    plan-building only (round-2 verdict: a standalone count() job gated
    the rerank branch). The single-row rerank case stays semantically
    identical: rank == 1 either way."""
    cfg = CrawlConfig(top_k=3, similarity_threshold=0.2, reranking_enabled=True)
    r = Retriever(corpus, config=cfg)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    out = r.retrieve(
        query_text="spark crawl frontier fetch queue",
        rerank_score=F.length("doc_id") + F.col("score"),
    )
    assert len(tracker.getJobIdsForGroup()) == before  # no job until an action
    rows = out.collect()
    assert [row["rank"] for row in rows] == list(range(1, len(rows) + 1))

    # n == 1: rerank must leave the single row at rank 1 (reference's
    # ">1 result" gate is a cost guard, not a semantic branch)
    one = Retriever(
        corpus.filter(F.col("doc_id") == "d1"), config=cfg
    ).retrieve(
        query_text="spark crawl frontier fetch queue",
        rerank_score=F.length("doc_id") + F.col("score"),
    ).collect()
    assert len(one) == 1 and one[0]["rank"] == 1


def test_cache_integration(spark, corpus, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"), ttl_s=100)
    r = Retriever(corpus, config=CrawlConfig(top_k=2, similarity_threshold=0.2), cache=cache)
    a = r.retrieve(query_text="spark crawl", now=0.0).collect()
    b = r.retrieve(query_text="spark crawl", now=50.0).collect()  # hit
    c = r.retrieve(query_text="spark crawl", now=500.0).collect()  # stale → recompute
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) == sorted(map(tuple, c))


def test_format_for_llm(spark, corpus):
    spans = spark.createDataFrame(
        [
            ("d1", [{"kind": "heading", "text": "t1", "media_ref": None, "offset": 0},
                     {"kind": "link", "text": "t2", "media_ref": "u", "offset": 1},
                     {"kind": "link", "text": "t3", "media_ref": "u2", "offset": 2}]),
            ("d5", [{"kind": "heading", "text": "t4", "media_ref": None, "offset": 0}]),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    r = Retriever(corpus, config=CrawlConfig(top_k=5, similarity_threshold=0.2))
    results = r.retrieve(query_text="spark crawl frontier fetch queue")
    ctx = r.format_for_llm(results, spans)
    assert len(ctx["results"]) <= 4  # A9 head cap
    assert ctx["element_summary"]["heading"]["count"] == 2
    assert ctx["element_summary"]["link"]["count"] == 2
    assert len(ctx["element_summary"]["link"]["sample"]) <= 5


def test_text_overlap_score_semantics(spark):
    df = spark.createDataFrame([("a b c",), ("x y z",), ("",)], "text string")
    out = df.select(text_overlap_score(F.col("text"), "a b").alias("s")).collect()
    assert abs(out[0]["s"] - 2 / 3) < 1e-9
    assert out[1]["s"] == 0.0


def test_assemble_model_input_golden():
    """Messages-assembly twin vs a golden context dict (reference
    _prepare_model_input, generator.py:72-125)."""
    import base64

    from crawleria_spark.operators.retrieval import assemble_model_input

    ctx = {
        "results": [
            {"doc_id": "d1", "media_content": b"img-1"},
            {"doc_id": "d2", "media_content": None},   # missing → skipped
            {"doc_id": "d3", "media_content": b"img-3"},
            {"doc_id": "d4", "media_content": b"img-4"},
            {"doc_id": "d5", "media_content": b"img-5"},
            {"doc_id": "d6", "media_content": b"img-6"},  # beyond cap
        ]
    }
    out = assemble_model_input("what is this?", ctx)
    assert out["text"] == "USER: what is this?\nASSISTANT:"
    # cap at 4 applies AFTER dropping missing payloads, BEFORE encoding
    assert out["images"] == [
        base64.b64encode(b).decode() for b in (b"img-1", b"img-3", b"img-4", b"img-5")
    ]
    # no images → text-only mode (no "images" key at all)
    assert assemble_model_input("q", {"results": [{"doc_id": "d"}]}) == {
        "text": "USER: q\nASSISTANT:"
    }


def test_visual_elements_prompt_golden():
    from crawleria_spark.operators.retrieval import visual_elements_prompt

    ctx = {
        "results": [
            {
                "doc_id": "d1",
                "visual_elements": [
                    {"type": "heading", "text": "Welcome"},
                    {"type": "link", "text": "a"},
                    {"type": "link", "text": "b"},
                    {"type": "link", "text": "c"},
                    {"type": "link", "text": "d"},
                    {"type": "link", "text": "e"},
                    {"type": "link", "text": "f"},
                    {"type": "image", "text": None},
                ],
            },
            {"doc_id": "d2", "visual_elements": []},  # skipped entirely
        ]
    }
    prompt = visual_elements_prompt("find the docs page", ctx)
    assert prompt == "\n".join(
        [
            "I'll describe the visual content I'm looking at to answer "
            'your question: "find the docs page"',
            "\nIn result 1, I can see:",
            "- 1 headings",
            "  Text content includes: Welcome",
            "- 6 links",
            "  Text content includes: a, b, c, d, e",
            "  ...and 1 more",
            "- 1 images",
            "\nNow, to answer your question about: find the docs page",
        ]
    )


def test_format_for_llm_visual_elements(spark, corpus):
    """format_for_llm attaches per-result span-order visual_elements."""
    from crawleria_spark.operators.retrieval import visual_elements_prompt

    spans = spark.createDataFrame(
        [
            ("d1", [{"kind": "heading", "text": "t1", "media_ref": None, "offset": 0},
                     {"kind": "link", "text": "t2", "media_ref": "u", "offset": 1}]),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    r = Retriever(corpus, config=CrawlConfig(top_k=5, similarity_threshold=0.2))
    results = r.retrieve(query_text="spark crawl frontier fetch queue")
    ctx = r.format_for_llm(results, spans)
    d1 = next(x for x in ctx["results"] if x["doc_id"] == "d1")
    assert d1["visual_elements"] == [
        {"type": "heading", "text": "t1"},
        {"type": "link", "text": "t2"},
    ]
    assert "In result" in visual_elements_prompt("q", ctx)


_SPANS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind string, text string, media_ref string, offset int>>"
)


def _spark_format_reference(results, spans, id_col="doc_id"):
    """The Spark formulation format_for_llm replaced, kept as its
    reference: head-4 collect, spans ⋈ results → explode →
    groupBy(kind) count + sorted first-5 texts, groupBy(id) sorted
    struct(offset, kind, text)."""
    capped = results.limit(4).collect()
    per_doc = (
        spans.join(results.select(id_col), id_col)
        .select(id_col, F.explode("spans").alias("s"))
        .select(
            id_col,
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.offset").alias("offset"),
        )
    )
    summary = (
        per_doc.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.slice(F.array_sort(F.collect_list("text")), 1, 5).alias("sample"),
        )
        .collect()
    )
    elements = (
        per_doc.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("offset", "kind", "text"))).alias("els"))
        .collect()
    )
    by_id = {
        r[id_col]: [{"type": e["kind"], "text": e["text"]} for e in r["els"]]
        for r in elements
    }
    return {
        "results": [
            {**r.asDict(), "visual_elements": by_id.get(r[id_col], [])} for r in capped
        ],
        "element_summary": {
            r["kind"]: {"count": r["n"], "sample": list(r["sample"])} for r in summary
        },
    }


def test_format_for_llm_matches_spark_aggregation(spark, corpus):
    """Driver-side format_for_llm == the Spark join/explode/groupBy it
    replaced, on adversarial spans: null text/kind/element, tied offsets,
    a result doc without spans, a spans doc outside the results, a
    duplicated spans row and a doc_id repeated in the results (media
    with two refs)."""

    def el(kind, text, offset):
        return {"kind": kind, "text": text, "media_ref": None, "offset": offset}

    d1 = [el("link", "b", 1), el("link", None, 1), el("heading", "a", 1),
          el(None, "z", 0), None, el("link", "ß", None)]
    spans = spark.createDataFrame(
        [
            ("d1", d1),
            ("d1", d1),  # duplicated spans row
            ("d2", [el("para", t, i) for i, t in enumerate("gfedcba")]),
            ("d3", None),
            ("d4", []),
            ("d9", [el("link", "not a result", 0)]),  # not in the results
        ],
        _SPANS_SCHEMA,
    )
    media = spark.createDataFrame(
        [("d1", "img://1a"), ("d1", "img://1b"), ("d2", "img://2"),
         ("d3", "img://3"), ("d4", "img://4"), ("d5", "img://5")],
        "doc_id string, media_ref string",
    )
    cfg = CrawlConfig(top_k=5, similarity_threshold=0.0)
    r = Retriever(corpus, media=media, config=cfg)
    results = r.retrieve(query_text="spark crawl frontier fetch queue").persist()
    ids = [row["doc_id"] for row in results.collect()]
    assert ids.count("d1") == 2 and "d5" in ids  # d5: a result without spans
    assert r.format_for_llm(results, spans) == _spark_format_reference(results, spans)
    results.unpersist()
    none = results.filter(F.lit(False))
    assert r.format_for_llm(none, spans) == {"results": [], "element_summary": {}}


def test_query_path_spark_jobs(spark, corpus, tmp_path):
    """retrieve + format_for_llm behind the cache: a hit runs at most 2
    Spark jobs (results collect + spans lookup), a miss at most 3 (the
    scoring collect of the store on top)."""
    spans = spark.createDataFrame(
        [("d1", [{"kind": "heading", "text": "t1", "media_ref": None, "offset": 0}])],
        _SPANS_SCHEMA,
    )
    r = Retriever(
        corpus,
        config=CrawlConfig(top_k=3, similarity_threshold=0.2),
        cache=QueryCache(spark, str(tmp_path / "qc")),
    )
    tracker = spark.sparkContext.statusTracker()

    def jobs(now):
        # job ids are numbered in submission order
        mark = max(tracker.getJobIdsForGroup(None), default=-1)
        ctx = r.format_for_llm(r.retrieve(query_text="spark crawl", now=now), spans)
        assert ctx["results"]
        return len([j for j in tracker.getJobIdsForGroup(None) if j > mark])

    assert jobs(0.0) <= 3  # miss
    assert jobs(1.0) <= 2  # hit
