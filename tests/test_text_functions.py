"""Text-analysis functions: token counts, ratios, quality, lang-id,
fingerprints — checked against straightforward Python equivalents."""

import re

from pyspark.sql import functions as F

from crawleria_spark.functions.text import (
    STOPWORDS,
    fingerprint_md5,
    lang_id_udf,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)

SAMPLES = [
    "The quick brown fox jumps over the lazy dog",
    "el perro y el gato en la casa de los vecinos",
    "   ",
    "",
    "one-token",
    "punct!!! heavy??? text... ;;; :::",
    "a b c d e f g h i j " * 20,
    "Der Hund und die Katze sind mit den Kindern im Haus",
]


def _df(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "id long, text string")


def test_token_count(spark):
    rows = _df(spark).select("id", token_count("text").alias("n")).collect()
    got = {r["id"]: r["n"] for r in rows}
    want = {i: len(s.split()) for i, s in enumerate(SAMPLES)}
    assert got == want


def test_ratios_and_quality(spark):
    rows = _df(spark).select(
        "id",
        punct_ratio("text").alias("p"),
        stopword_ratio("text").alias("s"),
        quality_score("text").alias("q"),
    ).collect()
    for r in rows:
        s = SAMPLES[r["id"]]
        if s.strip():
            toks = s.lower().split()
            want_s = sum(1 for t in toks if t in STOPWORDS) / len(toks)
            assert abs(r["s"] - want_s) < 1e-9
        assert 0.0 <= r["p"] <= 1.0
        assert 0.0 <= r["q"] <= 1.0
    # prose scores above punctuation soup
    q = {r["id"]: r["q"] for r in rows}
    assert q[0] > q[5]


def test_lang_id(spark):
    rows = _df(spark).select("id", lang_id_udf("text").alias("lang")).collect()
    got = {r["id"]: r["lang"] for r in rows}
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[7] == "de"
    assert got[2] == "und" and got[3] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        "id long, text string",
    )
    rows = df.select("id", fingerprint_md5("text").alias("fp")).collect()
    fp = {r["id"]: r["fp"] for r in rows}
    assert fp[1] == fp[2]  # case + whitespace insensitive
    assert fp[1] != fp[3]


def test_winnowing_fingerprints(spark):
    from pyspark.sql import functions as F

    from crawleria_spark.functions.text import winnow_fingerprints_udf

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (3, "THE  quick   brown fox jumps over the lazy dog and runs away fast"),
        (4, "completely different content with no shared substrings at all!"),
        (5, "xy"),  # shorter than k → empty
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["fp"]
        for r in df.select("id", winnow_fingerprints_udf("text").alias("fp")).collect()
    }
    assert got[1] == got[2]  # identical docs → identical fingerprints
    assert got[1] == got[3]  # whitespace/case-normalized
    assert len(set(got[1]) & set(got[4])) == 0  # disjoint content
    assert got[5] == []
    # overlap detection: shared prefix → shared fingerprints
    df2 = spark.createDataFrame(
        [(6, rows[0][1] + " with an extra tail appended here")], "id long, text string"
    )
    fp6 = df2.select(winnow_fingerprints_udf("text").alias("fp")).first()["fp"]
    overlap = len(set(got[1]) & set(fp6)) / len(got[1])
    assert overlap > 0.6


def test_repetition_fractions(spark):
    """dup_word_frac / dup_ngram_frac vs a plain-Python recount,
    including the short-doc (< n tokens) and empty edges."""
    from crawleria_spark.functions.text import dup_ngram_frac, dup_word_frac

    rows = (
        _df(spark)
        .select(
            "id",
            F.round(dup_word_frac("text"), 6).alias("dw"),
            F.round(dup_ngram_frac("text", 3), 6).alias("dn"),
        )
        .collect()
    )
    got = {r["id"]: (r["dw"], r["dn"]) for r in rows}
    for i, s in enumerate(SAMPLES):
        # mirror split('\s+') on trimmed text: '' -> [''], one token
        toks = re.split(r"\s+", s.strip().lower())
        dw = 0.0 if len(toks) == 0 else round(1 - len(set(toks)) / len(toks), 6)
        grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        dn = 0.0 if len(grams) <= 0 else round(1 - len(set(grams)) / len(grams), 6)
        assert got[i] == (dw, dn), (i, s)


def test_pii_redaction_and_count(spark):
    from crawleria_spark.functions.text import pii_count, pii_redact

    cases = [
        ("mail me at a.b+c@ex-ample.co.uk today", 1, "mail me at [EMAIL] today"),
        ("call 415-555-0134 or 415 555 0199", 2, "call [PHONE] or [PHONE]"),
        ("x@y.io and 212.555.0100", 2, "[EMAIL] and [PHONE]"),
        ("ring +1 415-555-0134 or +44 20 7946 0958", 2, "ring [PHONE] or [PHONE]"),
        ("ssn 123-45-6789 leaked", 1, "ssn [SSN] leaked"),
        ("from 192.168.100.1 and 10.0.0.7", 2, "from [IP] and [IP]"),
        ("mix a@b.io +33 1 4723 0145 10.1.2.3 987-65-4321 415-555-0134", 5,
         "mix [EMAIL] [PHONE] [IP] [SSN] [PHONE]"),
        ("no pii here 12345", 0, "no pii here 12345"),
        ("", 0, ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(cases)], "id long, text string"
    )
    rows = df.select(
        "id", pii_count("text").alias("n"), pii_redact("text").alias("red")
    ).collect()
    got = {r["id"]: (r["n"], r["red"]) for r in rows}
    for i, (_, n, red) in enumerate(cases):
        assert got[i] == (n, red), cases[i]
