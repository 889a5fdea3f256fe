"""End-to-end retrieval facade — the engine twin of the reference's
query lifecycle (SURVEY.md §3.3):

    retrieve(query):
      cache probe (TTL, C1; src/retrieval/retriever.py:56-93)
      → score stage (visual/text/hybrid; index.search :126-151)
      → threshold filter (P6, min_score=0.7 :118)
      → top-k + rank (A6/A8, limit=5 :117, rank=i+1 :225)
      → rerank when enabled and >1 result (A7 :154-159)
      → media enrichment join + existence filter (J1/J2/P7 :167-202)
    format_for_llm(results):            (driver side: results are top-k)
      one collect of the results + one ``doc_id IN (...)`` spans read
      → head-4 media cap (A9; generator.py:101-102)
      → group spans by kind, count + top-5 text sample (A1/A2;
        generator.py:149-165), in Python over the collected spans

Scoring is pluggable: 'vector' = cosine against an embedding column
(JVM fold), 'text' = token-overlap Jaccard against the query string
(JVM array ops), 'hybrid' = mean of both — mirroring the reference's
search_type ∈ {visual, text, hybrid} (src/retrieval/retriever.py:126-151).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawleria_spark.config import CrawlConfig
from crawleria_spark.operators.cache import QueryCache
from crawleria_spark.operators.dedup import cosine_expr
from crawleria_spark.operators.topk import enrich_with_media, threshold_topk


def text_overlap_score(text_col, query: str):
    """Token-set Jaccard between a text column and the query — JVM-side."""
    q_tokens = sorted(set(query.lower().split()))
    q_arr = F.array(*[F.lit(t) for t in q_tokens])
    toks = F.array_distinct(F.split(F.lower(F.trim(text_col)), r"\s+"))
    inter = F.size(F.array_intersect(toks, q_arr))
    union = F.size(F.array_union(toks, q_arr))
    return F.when(union <= 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union
    )


class Retriever:
    """Composable retrieval over a (doc_id, text?, embedding?) table."""

    def __init__(
        self,
        docs: DataFrame,
        media: DataFrame | None = None,
        config: CrawlConfig | None = None,
        cache: QueryCache | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_col: str = "embedding",
    ):
        self.docs = docs
        self.media = media
        self.config = config or CrawlConfig()
        self.cache = cache
        self.id_col = id_col
        self.text_col = text_col
        self.vec_col = vec_col

    def _score(self, query_text: str | None, query_vec, search_type: str):
        if search_type == "vector":
            return cosine_expr(F.col(self.vec_col), F.array(*[F.lit(float(x)) for x in query_vec]))
        if search_type == "text":
            return text_overlap_score(F.col(self.text_col), query_text)
        if search_type == "hybrid":
            v = cosine_expr(F.col(self.vec_col), F.array(*[F.lit(float(x)) for x in query_vec]))
            t = text_overlap_score(F.col(self.text_col), query_text)
            return (v + t) / 2
        raise ValueError(f"unknown search_type {search_type!r}")

    def retrieve(
        self,
        query_text: str | None = None,
        query_vec=None,
        search_type: str = "text",
        top_k: int | None = None,
        threshold: float | None = None,
        rerank_score=None,
        now: float = 0.0,
    ) -> DataFrame:
        cfg = self.config
        top_k = cfg.top_k if top_k is None else top_k
        threshold = cfg.similarity_threshold if threshold is None else threshold

        def compute() -> DataFrame:
            scored = self.docs.withColumn(
                "score", self._score(query_text, query_vec, search_type)
            )
            result = threshold_topk(scored, "score", threshold, top_k, [self.id_col])

            # A7 rerank: second scoring stage. The reference gates this on
            # ">1 result" (retriever.py:154-159) because its rerank is an
            # LLM call per row; here it is a lazy column expression, and for
            # n <= 1 the reranked order/rank are trivially identical to the
            # original — so applying it unconditionally preserves the
            # reference's observable semantics while keeping retrieve()
            # action-free (the old `result.count()` was the only Spark job
            # in the uncached hot path that existed purely to branch).
            if cfg.reranking_enabled and rerank_score is not None:
                w = Window.orderBy(F.col("rerank_score").desc(), F.col(self.id_col))
                result = (
                    result.withColumn("rerank_score", rerank_score)
                    .withColumn("rank", F.row_number().over(w))
                )

            # J1/J2 media enrichment (+ P7 existence filter) when media exists
            if self.media is not None:
                result = enrich_with_media(result, self.media, key=self.id_col)
            return result

        if self.cache is None:
            return compute()
        cache_key = f"{search_type}|{query_text}|{query_vec}|{top_k}|{threshold}"
        return self.cache.get_or_compute(cache_key, compute, now)[0]

    def format_for_llm(self, results: DataFrame, spans: DataFrame) -> dict:
        """Driver-side sink (reference context dict): cap media at 4,
        summarize spans per kind with counts + first-5 text sample, and
        attach per-result ``visual_elements`` (span-order {type, text})
        so ``assemble_model_input`` / ``visual_elements_prompt`` can
        build the reference's model input without another Spark pass.

        ``results`` is top-k sized: it is collected once, its ids fetch
        their ``spans`` rows in one pushed-down ``IN`` filter, and the
        rest is plain Python. The spans are matched as an inner join
        would match them: a doc_id repeated in ``results`` or in
        ``spans`` contributes its spans once per pairing. The summary
        covers all of ``results``; the returned rows are its first 4."""
        key = self.id_col
        rows = results.collect()
        hits = Counter(r[key] for r in rows if r[key] is not None)
        spans_of: dict = {}
        if hits:
            for s in (
                spans.filter(F.col(key).isin(sorted(hits)))
                .select(key, "spans")
                .collect()
            ):
                spans_of.setdefault(s[key], []).extend(
                    (None, None, None) if e is None
                    else (e["offset"], e["kind"], e["text"])
                    for e in s["spans"] or ()
                )
        # (offset, kind, text) order with nulls first, as array_sort
        # orders the struct(offset, kind, text) Spark would build
        per_doc = {
            k: sorted(v * hits[k], key=lambda e: [(x is not None, x) for x in e])
            for k, v in spans_of.items()
        }
        counts: Counter = Counter()
        texts: dict = {}
        for els in per_doc.values():
            for _, kind, text in els:
                counts[kind] += 1
                if text is not None:
                    texts.setdefault(kind, []).append(text)
        by_id = {
            k: [{"type": kind, "text": text} for _, kind, text in els]
            for k, els in per_doc.items()
        }
        out_results = []
        for r in rows[:4]:
            d = r.asDict()
            d["visual_elements"] = by_id.get(d[key], [])
            out_results.append(d)
        return {
            "results": out_results,
            "element_summary": {
                kind: {"count": n, "sample": sorted(texts.get(kind, []))[:5]}
                for kind, n in counts.items()
            },
        }


def assemble_model_input(
    query: str,
    context: dict,
    image_key: str = "media_content",
    max_images: int = 4,
) -> dict:
    """Messages-assembly twin of the reference's ``_prepare_model_input``
    (src/response_generator/generator.py:72-125), WITHOUT the model call:

    - collect image payloads from context["results"] in rank order,
    - cap at 4 BEFORE encoding (model constraint, :101-102), skipping
      results whose payload is missing or fails to encode (:104-110),
    - no images (or none encodable) → text-only input (:94-98, :112-117),
    - else {"text": "USER: <query>\\nASSISTANT:", "images": [b64, ...]}.

    ``image_key`` holds raw bytes (the media enrichment join's payload
    column); the reference holds file paths and reads them — same shape
    either way: opaque blob → base64 string.
    """
    import base64

    blobs = [
        r.get(image_key)
        for r in context.get("results", [])
        if r.get(image_key) is not None
    ]
    text = f"USER: {query}\nASSISTANT:"
    if not blobs:
        return {"text": text}
    encoded = []
    for blob in blobs[:max_images]:
        try:
            encoded.append(base64.b64encode(bytes(blob)).decode("ascii"))
        except Exception:
            continue  # reference logs and skips the unencodable image
    if not encoded:
        return {"text": text}
    return {"text": text, "images": encoded}


def visual_elements_prompt(query: str, context: dict) -> str:
    """Twin of the reference's ``_prepare_prompt_with_visual_elements``
    (src/response_generator/generator.py:127-171): per-result grouping
    of visual elements by type, counts, up to 5 text samples per textual
    type with an "...and N more" overflow line, framed by the query."""
    parts = [
        "I'll describe the visual content I'm looking at to answer "
        f'your question: "{query}"'
    ]
    for i, result in enumerate(context.get("results", [])):
        elements = result.get("visual_elements") or []
        if not elements:
            continue
        parts.append(f"\nIn result {i + 1}, I can see:")
        by_type: dict[str, list[dict]] = {}
        for el in elements:
            by_type.setdefault(el.get("type", "unknown"), []).append(el)
        for el_type, els in by_type.items():
            parts.append(f"- {len(els)} {el_type}s")
            if el_type in ("heading", "paragraph", "link", "button"):
                texts = [e.get("text") for e in els if e.get("text")]
                if texts:
                    parts.append(
                        f"  Text content includes: {', '.join(texts[:5])}"
                    )
                    if len(texts) > 5:
                        parts.append(f"  ...and {len(texts) - 5} more")
    parts.append(f"\nNow, to answer your question about: {query}")
    return "\n".join(parts)
