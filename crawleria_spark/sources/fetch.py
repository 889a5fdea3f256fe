"""Batch fetch stage: ``mapInPandas`` over a politeness-ordered fetch round.

Plays the role of the reference's per-URL Firecrawl scrape
(``crawl_url``, src/crawler/crawler.py:73-135) — but batched per Arrow
record batch on executors, with the per-row retry policy of the
reference's ``safe_request`` decorator (3 attempts, exponential backoff
2-10 s; src/utils.py:110) applied *inside* the UDF so a failing URL
yields an error row instead of a task failure (error-row tolerance,
src/crawler/crawler.py:129-135).

The fetcher is an injected callable ``url -> payload dict`` — the
deterministic synthetic world in tests/bench, a real HTTP client in
production. ``deterministic=True`` skips retries (a deterministic error
fails identically every attempt).

The UDF is the stage's one Python crossing: it only fetches. ``doc_id``
(reference ``get_clean_filename``) is ``doc_id_expr``, a JVM column over
the UDF's output.

Output schema appends to the input columns:

    doc_id string, status string, error string,
    spans  array<struct<kind string, text string, media_ref string, offset int>>,
    links  array<string>
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawleria_spark.functions.urls import doc_id_expr

SPAN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

# The UDF emits spans as four FLAT parallel arrays — Arrow converts flat
# string/int lists an order of magnitude faster than list<struct> built
# from per-span Python dicts (measured: the dict path dominated the crawl
# round). with_spans_column() zips them back into the input_hint shape
# JVM-side (arrays_zip is codegen'd; the cast renames fields positionally).
# These are the UDF's fields; fetch_stage puts the JVM doc_id before them.
FETCH_RESULT_FIELDS = [
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("span_kinds", T.ArrayType(T.StringType())),
    T.StructField("span_texts", T.ArrayType(T.StringType())),
    T.StructField("span_refs", T.ArrayType(T.StringType())),
    T.StructField("span_offsets", T.ArrayType(T.IntegerType())),
    T.StructField("links", T.ArrayType(T.StringType())),
]


def with_spans_column(df: DataFrame) -> DataFrame:
    """Zip the flat span arrays into `spans array<struct<kind,text,
    media_ref,offset>>` (JVM-side) and drop the flats."""
    zipped = F.arrays_zip("span_kinds", "span_texts", "span_refs", "span_offsets")
    return df.withColumn("spans", zipped.cast(SPAN_SCHEMA)).drop(
        "span_kinds", "span_texts", "span_refs", "span_offsets"
    )


def synthetic_fetcher(world_cfg) -> Callable[[str], dict]:
    """url -> payload via the deterministic synthetic world."""
    from crawleria_spark.synthetic.world import page_for_url

    def fetch(url: str) -> dict:
        return page_for_url(url, world_cfg)

    fetch.deterministic = True
    return fetch


def fetch_stage(
    df: DataFrame,
    fetcher: Callable[[str], dict],
    url_col: str = "url",
    retry_attempts: int = 3,
    backoff_min_s: float = 2.0,
    backoff_max_s: float = 10.0,
    simulate_wallclock: bool = False,
    politeness_delay_s: float = 1.0,
) -> DataFrame:
    """Append fetch-result columns to ``df`` via mapInPandas.

    When ``simulate_wallclock`` is set, each batch honors politeness
    slots with real sleeps (slot spacing × delay); the default is
    logical-order-only, which is what correctness compares.
    """
    out_schema = T.StructType(list(df.schema.fields) + FETCH_RESULT_FIELDS)
    deterministic = getattr(fetcher, "deterministic", False)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses, errors, links_col = [], [], []
            kinds_col, texts_col, refs_col, offs_col = [], [], [], []
            prev_slot_by_host: dict[str, int] = {}
            for row in pdf.itertuples(index=False):
                url = getattr(row, url_col)
                if simulate_wallclock and "politeness_slot" in pdf.columns:
                    host = getattr(row, "host", "")
                    slot = int(getattr(row, "politeness_slot", 0))
                    # per-host crawl delay from the matched robots rule
                    # (fixture §3 crawl_delay_s) falls back to the global
                    delay = float(getattr(row, "crawl_delay_s", politeness_delay_s) or politeness_delay_s)
                    gap = slot - prev_slot_by_host.get(host, slot)
                    if gap > 0:
                        time.sleep(gap * delay)
                    prev_slot_by_host[host] = slot
                payload = None
                last_err = None
                attempts = 1 if deterministic else max(1, retry_attempts)
                for attempt in range(attempts):
                    try:
                        payload = fetcher(url)
                        if payload.get("status") == "error" and deterministic:
                            break  # deterministic error: retrying is a no-op
                        if payload.get("status") == "error":
                            raise RuntimeError(payload.get("error") or "fetch error")
                        break
                    except Exception as e:  # error-row tolerance: never raise
                        last_err = str(e)
                        payload = None
                        if attempt + 1 < attempts:
                            delay = min(backoff_max_s, backoff_min_s * (2**attempt))
                            if simulate_wallclock:
                                time.sleep(delay)
                if payload is None:
                    payload = {"status": "error", "error": last_err, "spans": [], "links": []}
                statuses.append(payload["status"])
                errors.append(payload.get("error"))
                spans = payload.get("spans") or []
                kinds_col.append([s["kind"] for s in spans])
                texts_col.append([s["text"] for s in spans])
                refs_col.append([s["media_ref"] for s in spans])
                offs_col.append([s["offset"] for s in spans])
                links_col.append(payload.get("links") or [])
            out = pdf.copy()
            out["status"] = pd.Series(statuses, dtype="object")
            out["error"] = pd.Series(errors, dtype="object")
            out["span_kinds"] = pd.Series(kinds_col, dtype="object")
            out["span_texts"] = pd.Series(texts_col, dtype="object")
            out["span_refs"] = pd.Series(refs_col, dtype="object")
            out["span_offsets"] = pd.Series(offs_col, dtype="object")
            out["links"] = pd.Series(links_col, dtype="object")
            yield out

    return df.mapInPandas(run, schema=out_schema).select(
        *df.columns,
        doc_id_expr(url_col).alias("doc_id"),
        *(f.name for f in FETCH_RESULT_FIELDS),
    )
