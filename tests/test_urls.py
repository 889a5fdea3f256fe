"""Two-implementation parity: the JVM Column expressions Spark runs vs
the scalar urllib twins the driver runs (and vs the reference
get_clean_filename semantics, src/utils.py:38-60).

Every JVM check reads one collected Spark job over one corpus:
adversarial URLs, synthetic-world links, ``;params`` URLs and ~2,000
seeded random URLs."""

import random
from urllib.parse import urlparse

import pytest

from crawleria_spark.functions.urls import canonicalize, clean_filename, host_of

ADVERSARIAL = [
    "https://example.com",
    "https://example.com/",
    "https://example.com/a/b/c",
    "https://example.com/a/b/c/",
    "http://example.com:80/x",
    "https://example.com:443/x",
    "https://example.com:8443/x",
    "HTTPS://EXAMPLE.COM/Path/Stays",
    "https://example.com/p?q=1&r=2",
    "https://example.com/p#frag",
    "https://example.com/p?q=1#frag",
    "https://sub.domain.example.co.uk/deep/path",
    "https://example.com/" + "/".join(f"seg{i}" for i in range(30)),  # >100 chars → md5
    "https://example.com/_leading_underscore_",
    "https://example.com//double//slash//",
    "https://example.com/unicode/ünïcødé/路径",
    "ftp://files.example.com/pub/file.txt",
    "https://h1.example.org/p/42",
    "https://hub.example.com/private/p/7",
]

# urlparse splits ';params' off the last path segment for the schemes in
# urllib.parse.uses_params only (git is not one of them)
PARAMS = [
    "http://h.example.org/p;jsessionid=ABC#f",
    "https://h.example.org/p;jsessionid=ABC?q=1",
    "https://h.example.org/p/;jsessionid=ABC",
    "HTTP://H.EXAMPLE.ORG:80/P;JSESSIONID=abc;x=1",
    "https://h.example.org/a;b/c",
    "https://h.example.org/a;b/c;d",
    "https://h.example.org/dir/;x",
    "https://h.example.org/dir/;x/",
    "https://h.example.org;x/p",
    "https://h.example.org/;",
    "ftp://files.example.com/pub/f.txt;type=i",
    "git://git.example.org/repo.git;branch=main",
    "git://git.example.org/a;b/c;d",
]

_SCHEMES = ["http", "https", "ftp", "git"]
_HOST_FIRST = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_HOST_REST = _HOST_FIRST + ".-"
_PORTS = ["", ":80", ":443", ":8080"]
_SEG_CHARS = "abcdefghijklmnopqrstuvwxyzABC0123456789._~ü路-;="
_QUERIES = ["", "?a=1", "?a=1&b=x", "?_=%20"]
_FRAGS = ["", "#f", "#frag/with/slash"]


def _random_urls(n: int, seed: int = 20240611) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        host = rng.choice(_HOST_FIRST) + "".join(
            rng.choice(_HOST_REST) for _ in range(rng.randint(0, 30))
        )
        segs = [
            "".join(rng.choice(_SEG_CHARS) for _ in range(rng.randint(0, 12)))
            for _ in range(rng.randint(0, 12))
        ]
        out.append(
            f"{rng.choice(_SCHEMES)}://{host}{rng.choice(_PORTS)}/{'/'.join(segs)}"
            f"{rng.choice(_QUERIES)}{rng.choice(_FRAGS)}"
        )
    return out


@pytest.fixture(scope="module")
def jvm_rows(spark):
    """(url → row of every JVM expression) over the whole corpus, in ONE
    Spark job."""
    from crawleria_spark.functions.urls import (
        doc_id_expr,
        host_expr,
        path_expr,
        url_canon_expr,
        url_hash_col,
    )
    from crawleria_spark.synthetic.world import WorldConfig, page_for_url

    w = WorldConfig(seed=11, n_hosts=6, pages_per_host=40, dup_variant_prob=0.3,
                    long_path_prob=0.2, error_rate=0.0)
    urls = ADVERSARIAL + PARAMS + _random_urls(2000)
    for i in range(60):
        urls.extend(page_for_url(f"https://h{i % 6}.example.org/p/{i}", w)["links"])
    df = spark.createDataFrame([(u,) for u in sorted(set(urls))], "url string")
    rows = df.select(
        "url",
        url_canon_expr("url").alias("canon"),
        doc_id_expr("url").alias("doc_id"),
        host_expr("url").alias("host"),
        path_expr("url").alias("path"),
        url_hash_col(url_canon_expr("url")).alias("url_hash"),
    ).collect()
    return {r["url"]: r for r in rows}


def test_clean_filename_parity(jvm_rows):
    for u, r in jvm_rows.items():
        assert r["doc_id"] == clean_filename(u), u


def test_clean_filename_reference_semantics():
    # empty path → "home" (src/utils.py:53)
    assert clean_filename("https://example.com") == "example.com_home"
    assert clean_filename("https://example.com/") == "example.com_home"
    # '/'→'_', strip '_' (src/utils.py:51)
    assert clean_filename("https://example.com/a/b") == "example.com_a_b"
    # >100 chars → domain_md5[:10] (src/utils.py:56-58)
    long_url = "https://example.com/" + "x/" * 60
    out = clean_filename(long_url)
    assert out.startswith("example.com_") and len(out) == len("example.com_") + 10
    # urlparse drops the last segment's ;params (http) but not git's
    assert clean_filename("http://h.example.org/p;jsessionid=ABC") == "h.example.org_p"
    assert clean_filename("git://g.example.org/r;b") == "g.example.org_r;b"


def test_canonicalize_parity(jvm_rows):
    for u, r in jvm_rows.items():
        assert r["canon"] == canonicalize(u), u


def test_canonicalize_semantics():
    assert canonicalize("HTTPS://EXAMPLE.COM/Path") == "https://example.com/Path"
    assert canonicalize("https://example.com") == "https://example.com/"
    assert canonicalize("https://example.com/a/") == "https://example.com/a"
    assert canonicalize("http://example.com:80/x") == "http://example.com/x"
    assert canonicalize("https://example.com:443/x") == "https://example.com/x"
    assert canonicalize("https://example.com:8443/x") == "https://example.com:8443/x"
    assert canonicalize("https://example.com/p#frag") == "https://example.com/p"
    assert canonicalize("https://example.com/p?q=1#f") == "https://example.com/p?q=1"
    assert canonicalize("http://h.example.org/p;jsessionid=ABC#f") == "http://h.example.org/p"
    # duplicate variants collapse
    variants = [
        "https://h1.example.org/p/3",
        "https://h1.example.org/p/3/",
        "https://h1.example.org/p/3#frag2",
        "https://H1.EXAMPLE.ORG/p/3",
        "https://h1.example.org/p/3;jsessionid=X",
    ]
    assert len({canonicalize(v) for v in variants}) == 1


def test_host_parity(jvm_rows):
    for u, r in jvm_rows.items():
        assert r["host"] == host_of(u), u


def test_spark_udfs(jvm_rows):
    """The Spark columns the crawl writes per URL (doc_id, url_canon,
    url_hash) on the adversarial URLs: doc_id and url_canon equal the
    scalar twins, and url_hash is a 64-bit hash of url_canon alone."""
    for u in ADVERSARIAL:
        r = jvm_rows[u]
        assert r["doc_id"] == clean_filename(u), u
        assert r["canon"] == canonicalize(u), u
        assert isinstance(r["url_hash"], int), u
    hash_of = {}
    for u, r in jvm_rows.items():
        assert hash_of.setdefault(r["canon"], r["url_hash"]) == r["url_hash"], u


def test_jvm_exprs_parity(jvm_rows):
    """The rest of the JVM twins: ``path_expr`` (robots-gate path, and
    the base of url_canon_expr/doc_id_expr) equals ``urlparse(url).path``.
    The crawl's discovery path and the headline doc_id query run these
    inside whole-stage codegen, so divergence would silently fork the
    seen set."""
    assert set(PARAMS) <= set(jvm_rows)
    for u, r in jvm_rows.items():
        assert r["path"] == urlparse(u).path, u
