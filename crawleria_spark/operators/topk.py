"""Retrieval-side operators: threshold + top-k + rank + rerank + media join.

Reference semantics being re-expressed (SURVEY.md §2.5):
- A6 top-k retrieval: `limit = top_k (5)` best-scoring docs above the
  similarity threshold, ordered by score desc
  (src/retrieval/retriever.py:117,128-149; config/config.py:61-62)
- P6 score-threshold filter: drop score < threshold — pushed into the
  scan by Catalyst (predicate pushdown is free once declared)
- A8 rank assignment: rank = i + 1 in result order
  (src/retrieval/retriever.py:225)
- A7 rerank: re-score + re-sort when reranking_enabled and >1 result
  (src/retrieval/retriever.py:154-159)
- J1/J2 doc→media enrichment join (src/retrieval/retriever.py:167-202):
  broadcast hash join — the media side is small by construction.

Physical notes: global `orderBy(desc).limit(k)` compiles to
TakeOrderedAndProject (per-partition top-k, then k-way driver merge) —
no global sort, safe at any scale. The per-group variant uses a window
per group, which shuffles once on the group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def threshold_topk(
    df: DataFrame,
    score_col: str,
    threshold: float,
    k: int,
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """filter(score >= threshold) → top-k by score desc → rank = i+1.

    Deterministic given tiebreak columns (pass the row's key). The limit
    compiles to TakeOrderedAndProject; the rank over k<=~100 rows is a
    trivial single-partition window AFTER the limit (k rows, not N).
    """
    order = [F.col(score_col).desc()] + [F.col(c) for c in (tiebreak_cols or [])]
    top = df.filter(F.col(score_col) >= F.lit(threshold)).orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn(rank_col, F.row_number().over(w))


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    k: int,
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k (e.g. per-host best pages): one shuffle on the
    group key, rank <= k filter."""
    order = [F.col(score_col).desc()] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def rerank(
    df: DataFrame,
    new_score: Column,
    k: int | None = None,
    score_col: str = "rerank_score",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Second scoring stage + re-sort (reference A7). `new_score` is any
    column expression (built-in or a vectorized UDF)."""
    order = [F.col(score_col).desc()] + [F.col(c) for c in (tiebreak_cols or [])]
    out = df.withColumn(score_col, new_score).orderBy(*order)
    return out.limit(k) if k is not None else out


def enrich_with_media(
    results: DataFrame,
    media: DataFrame,
    key: str = "doc_id",
    ref_col: str = "media_ref",
    fallback_col: str | None = None,
) -> DataFrame:
    """J1/J2: results ⟕ media, broadcast hash join; coalesce primary /
    fallback ref; keep rows with a resolvable ref (reference P7 existence
    filter, src/retrieval/retriever.py:186-199)."""
    joined = results.join(F.broadcast(media), key, "left")
    ref = (
        F.coalesce(F.col(ref_col), F.col(fallback_col))
        if fallback_col
        else F.col(ref_col)
    )
    return joined.withColumn(ref_col, ref).filter(F.col(ref_col).isNotNull())
