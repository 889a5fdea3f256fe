"""Text-analysis column functions for training-data pipelines.

All hot-path expressions are JVM-side built-ins (whole-stage codegen);
only language-ID needs a vectorized pandas UDF (set intersections over a
stopword table are cheaper in numpy/pandas than exploded joins at this
fan-out). Each function is deliberately SQL-mirrorable so the DuckDB
oracle can verify it (see __spark_entry__.py oracle_sql).

Definitions (engine-authoritative, mirrored in oracle SQL):
- token_count: size(split(trim(text), '\\s+')) — whitespace tokens
- punct_ratio: punctuation chars / total chars
- stopword_ratio: tokens ∈ STOPWORDS / tokens
- quality_score: 0.4·len_norm + 0.3·(1-punct_ratio) + 0.3·stopword_band
  (len_norm = least(n_tokens/100, 1); stopword_band = 1 when ratio in
  [0.1, 0.6] — natural prose — else 0)
- fingerprint: md5 of whitespace-normalized lowercase text (md5 exists
  on both engines, so oracle-checkable)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from not no yes we you they he she i"
).split()

_PUNCT_RE = r"[!-/:-@\[-`{-~]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(text: Column | str) -> Column:
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def punct_ratio(text: Column | str) -> Column:
    t = _c(text)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, _PUNCT_RE, ""))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(t)
    )


def stopword_ratio(text: Column | str) -> Column:
    toks = F.split(F.lower(F.trim(_c(text))), r"\s+")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(n_stop.cast("double") / n)


def quality_score(text: Column | str) -> Column:
    """Composite prose-quality heuristic in [0, 1]."""
    n_tok = token_count(text).cast("double")
    len_norm = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_band = F.when((sw >= 0.1) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * len_norm + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text)) + F.lit(0.3) * sw_band
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Document fingerprint: md5 over normalized text (oracle-mirrorable)."""
    norm = F.lower(F.trim(F.regexp_replace(_c(text), r"\s+", " ")))
    return F.md5(norm)


def _bind(arr: Column, fn) -> Column:
    """Evaluate ``arr`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable: ``element_at(transform(array(arr), fn), 1)``.

    Why this exists: Spark's higher-order-function lambdas run
    INTERPRETED (outside whole-stage codegen), and any OUTER expression
    the lambda captures is re-evaluated on every element visit — only
    the lambda's own variables are bound values. So
    ``transform(sequence(...), i -> f(toks[i]))`` with a captured
    ``toks = split(...)`` re-runs the regex split per element: O(n²)
    splits per row. Binding through a one-element array makes it a
    variable lookup. Measured on q_repetition_filter at sf0.1:
    15.1 s → 0.6 s (24×)."""
    return F.element_at(F.transform(F.array(arr), fn), 1)


def _tokens(text: Column | str) -> Column:
    return F.split(F.lower(F.trim(_c(text))), r"\s+")


def _ngrams_of(t: Column, n: int) -> Column:
    """n-grams over a BOUND token array (see _bind): unrolled
    element_at + concat_ws, no per-position slice allocation. Empty
    array when the doc has fewer than n tokens (sequence(1, size-n+1)
    would otherwise step BACKWARD — Spark's sequence defaults to step
    -1 when start > stop)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - n + 1),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast(T.ArrayType(T.StringType()))
    )


def word_ngrams(text: Column | str, n: int) -> Column:
    """Word n-grams as space-joined strings — all JVM array exprs, with
    the token array bound once per row (_bind)."""
    return _bind(_tokens(text), lambda t: _ngrams_of(t, n))


def dup_word_frac(text: Column | str) -> Column:
    """Gopher-style repetition signal: fraction of word occurrences that
    are repeats of an earlier word (1 - distinct/total; 0 for empty)."""
    return _bind(
        _tokens(text),
        lambda t: F.when(F.size(t) <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / F.size(t)
        ),
    )


def dup_ngram_frac(text: Column | str, n: int = 3) -> Column:
    """Fraction of word n-gram occurrences that are repeats (the
    Gopher/C4 duplicate-n-gram filter signal; boilerplate and spam
    score high). 0 for docs shorter than n tokens."""
    return repetition_stats(text, n)["dup_ngram_frac"]


def repetition_stats(text: Column | str, n: int = 3) -> Column:
    """Both repetition signals in ONE pass: struct(dup_word_frac,
    dup_ngram_frac). Tokenization, n-gram construction, and the two
    distinct-counts each evaluate exactly once per row (nested _bind)."""

    def outer(t: Column) -> Column:
        def inner(g: Column) -> Column:
            dn = F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / F.size(g)
            )
            dw = F.when(F.size(t) <= 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / F.size(t)
            )
            return F.struct(
                dw.alias("dup_word_frac"), dn.alias("dup_ngram_frac")
            )

        return _bind(_ngrams_of(t, n), inner)

    return _bind(_tokens(text), outer)


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB oracle): no backrefs, no lookaround, no \b. Shape-based
# (no checksum/range validation) — a hygiene pass, not a validator.
# PII_CLASSES order IS the redaction order: emails first (their digit
# runs are gone before any phone pass), then +-prefixed intl phones,
# then IPv4 (4 dot-separated octets — disjoint from the 3-group dotted
# US phone shape), then SSN (3-2-4), then US phone (3-3-4).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_INTL_RE = r"\+\d{1,3}[-. ]?\d{1,4}([-. ]?\d{2,4}){0,2}[-. ]?\d{3,4}"
PII_IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_SSN_RE = r"\d{3}-\d{2}-\d{4}"
PII_PHONE_RE = r"\d{3}[-. ]\d{3}[-. ]\d{4}"

PII_CLASSES: list[tuple[str, str, str]] = [
    ("email", PII_EMAIL_RE, "[EMAIL]"),
    ("phone_intl", PII_PHONE_INTL_RE, "[PHONE]"),
    ("ipv4", PII_IPV4_RE, "[IP]"),
    ("ssn", PII_SSN_RE, "[SSN]"),
    ("phone", PII_PHONE_RE, "[PHONE]"),
]


def pii_counts(text: Column | str) -> Column:
    """Struct of per-class PII match counts (n_email, n_phone_intl,
    n_ipv4, n_ssn, n_phone). Each class is counted on the text AFTER
    the previous classes were redacted, so every count equals the
    number of replacements ``pii_redact`` performs for that class —
    no cross-class double counting (an email's digits can't also
    count as a phone, a +-prefixed intl number can't recount as a
    bare 3-3-4)."""
    t = _c(text)
    fields = []
    for name, pat, token in PII_CLASSES:
        fields.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("int").alias(f"n_{name}")
        )
        t = F.regexp_replace(t, pat, token)
    return F.struct(*fields)


def pii_count(text: Column | str) -> Column:
    """Total PII matches across all classes (sum of ``pii_counts``
    fields) == total replacements ``pii_redact`` performs."""
    c = pii_counts(text)
    total = F.lit(0)
    for name, _, _ in PII_CLASSES:
        total = total + c[f"n_{name}"]
    return total.cast("int")


def pii_redact(text: Column | str) -> Column:
    """Redact every PII class in PII_CLASSES order. Pure JVM
    regexp_replace — global by default, matching DuckDB's 'g' flag."""
    t = _c(text)
    for _, pat, token in PII_CLASSES:
        t = F.regexp_replace(t, pat, token)
    return t


# --------------------------------------------------------------------------
# winnowing fingerprints: rolling-hash k-grams, window minima (MOSS-style)
# --------------------------------------------------------------------------

import numpy as np


def _winnow_one(text: str, k: int, w: int) -> list[int]:
    """Deterministic winnowing: FNV-1a rolling over char k-grams of the
    normalized text, keep each window's minimum hash (dedup consecutive).
    Vectorized with numpy sliding windows.

    The FNV fold runs over CODE POINTS (not utf-8 bytes, r3): DuckDB's
    substr/unicode are character-based, so the codepoint form lets the
    q_winnow_dup_pairs oracle recompute the identical hashes in SQL
    (identical values for ASCII; re-signs non-ASCII corpora)."""
    norm = " ".join(text.lower().split())
    if len(norm) < k:
        return []
    data = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32)
    n = len(data) - k + 1
    if n <= 0:
        return []
    # FNV-1a over each k-byte gram via a strided view (vectorized)
    grams = np.lib.stride_tricks.sliding_window_view(data, k)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = (h ^ grams[:, j].astype(np.uint64)) * np.uint64(0x100000001B3)
    if n <= w:
        return [int(h.min())]
    windows = np.lib.stride_tricks.sliding_window_view(h, w)
    minima = windows.min(axis=1)
    out: list[int] = []
    prev = None
    for v in minima:
        if prev is None or v != prev:
            out.append(int(v))
            prev = v
    return sorted(set(out))


@F.pandas_udf(T.ArrayType(T.LongType()))
def winnow_fingerprints_udf(texts: pd.Series) -> pd.Series:
    """Winnowing fingerprints (k=8 chars, window=4) — the rolling-hash
    document signature for copy detection; two docs sharing a fingerprint
    share at least one 8-gram selected by both windows."""
    return texts.fillna("").map(
        lambda t: [v - (1 << 64) if v >= (1 << 63) else v for v in _winnow_one(t, 8, 4)]
    )


# --------------------------------------------------------------------------
# language ID: character-frequency + stopword heuristic (pandas UDF)
# --------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "du", "que", "une"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"),
}


@F.pandas_udf(T.StringType())
def lang_id_udf(texts: pd.Series) -> pd.Series:
    """Stopword-overlap language guess; 'und' (undetermined) when no
    marker hits. Deterministic; vectorized over the Arrow batch."""
    token_lists = texts.fillna("").str.lower().str.findall(r"[a-zà-ÿäöüß]+")

    def guess(tokens: list[str]) -> str:
        if not tokens:
            return "und"
        bag = set(tokens)
        best_lang, best_hits = "und", 0
        for lang, markers in _LANG_MARKERS.items():
            hits = sum(1 for m in markers if m in bag)
            if hits > best_hits:
                best_lang, best_hits = lang, hits
        return best_lang

    return token_lists.map(guess)
