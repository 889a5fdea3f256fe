"""Output checks, computed independently of the engine's DataFrame code.

Crawls are compared with ``OracleCrawler``, the pure-Python twin of the
round spec, run on the same world and config. Queries are compared
with a pandas recomputation of token-overlap top-k over the corpus
regenerated from the synthetic world. Each check returns the set of
operations (round numbers, query positions) whose output is wrong, so
a run can count them in its failed operations.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import defaultdict

import pandas as pd


def _span_digest(spans) -> str:
    seq = [(s["kind"], s["text"], s["media_ref"], int(s["offset"])) for s in spans]
    return hashlib.sha1(json.dumps(seq).encode()).hexdigest()


def _per_round_crawl(fetch_log, seen_rounds, documents):
    """round -> (fetch rows, denied, seen, doc digests) as sets."""
    out = defaultdict(lambda: (set(), set(), set(), set()))
    for r in fetch_log:
        fetched, denied, _, _ = out[r["round"]]
        if r["status"] == "robots_denied":
            denied.add(r["url_canon"])
        else:
            fetched.add(
                (r["host"], r["seq_in_host"], r["url_canon"],
                 r["politeness_slot"], r["status"])
            )
    for url_canon, rnd in seen_rounds:
        out[rnd][2].add(url_canon)
    for rnd, url_canon, doc_id, spans in documents:
        out[rnd][3].add((url_canon, doc_id, _span_digest(spans)))
    return out


def check_crawl(engine: dict, oracle) -> set[int]:
    """Rounds whose engine output differs from the oracle's.

    ``engine`` holds plain rows read back from the catalog:
    ``fetch_log`` (dicts), ``seen`` ((url_canon, first_round) pairs) and
    ``documents`` ((round, url_canon, doc_id, spans) tuples). Per round
    it compares the per-host fetch order (host, seq_in_host, url_canon,
    slot, status), the robots denials, the URL-seen entries and the
    span sequence of every document. A URL fetched twice fails every
    round that fetched it."""
    round_of = {
        r["url_canon"]: r["round"]
        for r in oracle.fetch_log
        if r["status"] != "robots_denied"
    }
    want = _per_round_crawl(
        oracle.fetch_log,
        [(r["url_canon"], r["round"]) for r in oracle.fetch_log],
        [
            (round_of[d["url_canon"]], d["url_canon"], d["doc_id"], d["spans"])
            for d in oracle.documents
        ],
    )
    got = _per_round_crawl(engine["fetch_log"], engine["seen"], engine["documents"])
    failed = {r for r in set(want) | set(got) if want[r] != got[r]}
    fetch_rounds = defaultdict(list)
    for r in engine["fetch_log"]:
        if r["status"] != "robots_denied":
            fetch_rounds[r["url_canon"]].append(r["round"])
    for rounds in fetch_rounds.values():
        if len(rounds) > 1:
            failed.update(rounds)
    return failed


def doc_text(spans) -> str:
    """The retrieval text of a page: its span texts joined by spaces,
    skipping spans without text (``concat_ws`` semantics)."""
    return " ".join(s["text"] for s in spans if s["text"] is not None)


def reference_topk(
    corpus: pd.DataFrame, query: str, k: int, threshold: float
) -> list[tuple[str, float, int]]:
    """Token-set Jaccard top-k over ``corpus`` (doc_id, tokens), ties
    broken by doc_id: [(doc_id, score, rank), ...]."""
    q = set(query.lower().split())
    inter = corpus["tokens"].map(lambda t: len(t & q))
    union = corpus["tokens"].map(lambda t: len(t | q))
    scored = pd.DataFrame(
        {"doc_id": corpus["doc_id"], "score": inter / union.where(union > 0, 1)}
    )
    top = (
        scored[scored["score"] >= threshold]
        .sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
        .head(k)
    )
    return [
        (d, float(s), i + 1)
        for i, (d, s) in enumerate(zip(top["doc_id"], top["score"]))
    ]


def tokenize(text: str) -> frozenset[str]:
    """lower(trim(text)) split on whitespace runs, as a set."""
    return frozenset(re.split(r"\s+", text.strip(" ").lower()))


def check_queries(
    records: list[dict],
    corpus: pd.DataFrame,
    k: int,
    threshold: float,
    head: int,
) -> set[int]:
    """Positions of queries whose results are wrong.

    Each record holds ``query``, ``repeat`` (issued before, so served
    from the cache) and ``results`` [(doc_id, score, rank)] as the
    caller received them. Every result must equal the first ``head``
    rows of the reference top-k, and a repeat must also equal what the
    same query returned when it was first computed."""
    failed: set[int] = set()
    first: dict[str, list] = {}
    expected: dict[str, list] = {}
    for i, rec in enumerate(records):
        q = rec["query"]
        if q not in expected:
            expected[q] = reference_topk(corpus, q, k, threshold)[:head]
        got = [(d, float(s), int(r)) for d, s, r in rec["results"]]
        if got != expected[q]:
            failed.add(i)
        if rec["repeat"]:
            if first.get(q) != got:
                failed.add(i)
        else:
            first.setdefault(q, got)
    return failed
