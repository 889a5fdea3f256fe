"""Deterministic hash sampling.

Training-data pipelines need samples that are (a) reproducible without
storing row lists, (b) stable under re-runs and data re-partitioning,
(c) consistent across engines (the same row set falls in the sample
whether the pipeline step ran in Spark, DuckDB, or a backfill script).
Bernoulli ``df.sample`` gives none of these — it is seed- and
partitioning-dependent.

The primitive here keys the decision on a row identity: a row is
sampled iff the first ``HEX_DIGITS`` hex chars of
``md5(salt || key)`` compare below a threshold derived from the
fraction. Fixed-length lowercase hex compares lexicographically ==
numerically, and md5 is available everywhere, so the predicate is
portable verbatim (the q_stratified_sample DuckDB oracle runs the same
expression). Resolution is 16^-6 ≈ 6e-8 of the fraction; the sample is
Bernoulli per key (binomial size, not exact-n), stratification is
automatic because the decision is per-row.

Scale shape: a pure JVM filter — pushes into the scan's codegen span,
no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_DIGITS = 6


def _bucket_hex(key: Column, salt: str) -> Column:
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, HEX_DIGITS)


def sample_predicate(key: Column | str, frac: float, salt: str = "") -> Column:
    """Boolean column: True for rows in the deterministic ``frac``
    sample keyed on ``key`` (+ ``salt`` to draw independent samples
    from the same keys)."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    key = F.col(key) if isinstance(key, str) else key
    units = int(round(frac * 16**HEX_DIGITS))
    if units >= 16**HEX_DIGITS:
        # Saturated threshold: 16^HEX_DIGITS formats to HEX_DIGITS+1 chars,
        # and a 7-char string compares lexicographically against 6-char hex
        # ('1000000' would select only hashes starting '0' ~ 6.25%). frac
        # within ~6e-8 of 1.0 means "everything" at this resolution.
        return F.lit(True)
    threshold = format(units, f"0{HEX_DIGITS}x")
    # coalesce: md5(NULL key) is NULL -> pred NULL -> the row would vanish
    # from BOTH filter(pred) and filter(~pred). Null keys deterministically
    # land outside the sample.
    return F.coalesce(_bucket_hex(key, salt) < F.lit(threshold), F.lit(False))


def deterministic_sample(
    df: DataFrame, frac: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Reproducible ~``frac`` Bernoulli sample keyed on ``key_col``."""
    return df.filter(sample_predicate(key_col, frac, salt))

