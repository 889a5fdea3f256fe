"""URL column functions: canonical doc_id, canonical URL, host, path, hash.

Parity targets in the reference:
- ``get_clean_filename`` (src/utils.py:38-60): domain + path with
  '/'→'_', strip '_', empty→'home'; if the combined name exceeds 100
  chars, fall back to ``f"{domain}_{md5(clean_path)[:10]}"``. This IS
  the reference's document id (src/document_processor/processor.py:69),
  so byte-exact parity is required.
- ``get_domain_from_url`` (src/utils.py:26-36): ``urlparse(url).netloc``.

The reference has no URL-seen set (a ``Set`` is imported at
src/crawler/crawler.py:8 but never used); the engine defines a proper
canonical URL for dedup (``canonicalize``): lowercase scheme+host, strip
default port, drop fragment and ``;params``, collapse empty path to '/',
strip trailing slash on non-root paths, keep the query string.

This module is the package's only URL parser, with one implementation per
side, changed together (tests/test_urls.py pins them to each other):

- scalar twins (``host_of``, ``canonicalize``, ``clean_filename``) on
  ``urllib.parse.urlparse`` — driver-side code (seeds, forget, capture)
  and the reference the JVM side is tested against;
- JVM Column expressions (``host_expr``, ``path_expr``,
  ``url_canon_expr``, ``doc_id_expr``, ``url_hash_col``) for Spark —
  whole-stage codegen, no Python crossing.

The JVM side splits with the RFC 3986 appendix-B regex, which agrees with
``urlsplit`` on absolute URLs, then drops the last segment's ``;params``
for the schemes in ``urllib.parse.uses_params``, as ``urlparse`` does
(``path_expr``). urlsplit's removal of tab/newline characters and of
leading whitespace is not mirrored: fetchers hand the engine links built
by ``urljoin``, which has already removed them.
"""

from __future__ import annotations

import hashlib
from urllib.parse import urlparse, uses_params

from pyspark.sql import Column
from pyspark.sql import functions as F

# RFC 3986 appendix B: scheme, authority, path, query, fragment
_URL_RE = (
    r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"
)

_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


# ---------------------------------------------------------------------------
# scalar twins (driver side, and the reference for the JVM expressions)
# ---------------------------------------------------------------------------

def host_of(url: str) -> str:
    """Scalar twin of ``get_domain_from_url`` (reference src/utils.py:26-36)."""
    return urlparse(url).netloc


def clean_filename(url: str) -> str:
    """Scalar twin of ``get_clean_filename`` (reference src/utils.py:38-60)."""
    parsed = urlparse(url)
    domain = parsed.netloc
    clean_path = parsed.path.replace("/", "_").strip("_")
    if not clean_path:
        clean_path = "home"
    if len(f"{domain}_{clean_path}") > 100:
        path_hash = hashlib.md5(clean_path.encode()).hexdigest()[:10]
        return f"{domain}_{path_hash}"
    return f"{domain}_{clean_path}"


def canonicalize(url: str) -> str:
    """Scalar twin of the engine's canonical-URL form (seen-set key)."""
    p = urlparse(url)
    scheme = p.scheme.lower()
    netloc = p.netloc.lower()
    default = _DEFAULT_PORTS.get(scheme)
    if default and netloc.endswith(default):
        netloc = netloc[: -len(default)]
    path = p.path or "/"
    if len(path) > 1 and path.endswith("/"):
        path = path.rstrip("/") or "/"
    out = f"{scheme}://{netloc}{path}"
    if p.query:
        out += f"?{p.query}"
    return out


# ---------------------------------------------------------------------------
# JVM expressions (Spark side)
# ---------------------------------------------------------------------------

def _col(url: Column | str) -> Column:
    return F.col(url) if isinstance(url, str) else url


def _group(url: Column, idx: int) -> Column:
    """RFC 3986 appendix-B group extraction, JVM-side. A group that does
    not participate extracts as '' — what urlparse returns for it."""
    return F.regexp_extract(url, _URL_RE, idx)


def host_expr(url: Column | str) -> Column:
    """JVM twin of ``host_of``: the raw authority (netloc) component."""
    return _group(_col(url), 2)


def path_expr(url: Column | str) -> Column:
    """JVM twin of ``urlparse(url).path``. For the schemes in
    ``uses_params`` urlparse splits ``;params`` off at the first ';'
    after the last '/' — ``;[^/]*$`` matches exactly that suffix."""
    col = _col(url)
    path = _group(col, 3)
    return F.when(
        F.lower(_group(col, 1)).isin(*uses_params),
        F.regexp_replace(path, ";[^/]*$", ""),
    ).otherwise(path)


def doc_id_expr(url: Column | str) -> Column:
    """JVM twin of ``clean_filename`` (reference get_clean_filename,
    src/utils.py:38-60) — byte-parity pinned in tests/test_urls.py."""
    col = _col(url)
    domain = host_expr(col)
    clean_path = F.regexp_replace(
        F.regexp_replace(path_expr(col), "/", "_"), "^_+|_+$", ""
    )
    clean_path = F.when(clean_path == "", "home").otherwise(clean_path)
    name = F.concat(domain, F.lit("_"), clean_path)
    hashed = F.concat(domain, F.lit("_"), F.substring(F.md5(clean_path), 1, 10))
    return F.when(F.length(name) > 100, hashed).otherwise(name)


def url_canon_expr(url: Column | str) -> Column:
    """JVM twin of ``canonicalize`` (the seen-set key): lowercase
    scheme+host, strip default port, path '' → '/', strip trailing
    slashes on non-root paths, keep query, drop fragment and params.
    Runs on every discovered link each round."""
    col = _col(url)
    scheme = F.lower(_group(col, 1))
    netloc = F.lower(host_expr(col))
    netloc = (
        F.when(
            (scheme == "http") & netloc.endswith(":80"),
            netloc.substr(F.lit(1), F.length(netloc) - 3),
        )
        .when(
            (scheme == "https") & netloc.endswith(":443"),
            netloc.substr(F.lit(1), F.length(netloc) - 4),
        )
        .otherwise(netloc)
    )
    path = path_expr(col)
    path = F.when(path == "", "/").otherwise(path)
    stripped = F.regexp_replace(path, "/+$", "")
    stripped = F.when(stripped == "", "/").otherwise(stripped)
    path = F.when((F.length(path) > 1) & path.endswith("/"), stripped).otherwise(path)
    out = F.concat(scheme, F.lit("://"), netloc, path)
    query = _group(col, 4)
    return F.when(query != "", F.concat(out, F.lit("?"), query)).otherwise(out)


def url_hash_col(url_canon: Column | str) -> Column:
    """64-bit seen-set hash of the canonical URL.

    JVM-side ``xxhash64`` (whole-stage-codegen'd) — no Python boundary.
    The exact dedup join is on ``url_canon`` itself, so the hash only
    feeds the bloom fast path and partitioning; collisions are harmless.
    """
    return F.xxhash64(_col(url_canon))
