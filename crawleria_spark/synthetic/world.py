"""Deterministic synthetic web: link graph + interleaved text+media pages.

Every page is a pure function of ``(world_seed, url)`` — no global state —
so the driver-side oracle crawler and executor-side Spark fetch UDFs
compute byte-identical pages without shipping anything but the
``WorldConfig``. This plays the role the Firecrawl API plays in the
reference (src/crawler/crawler.py:93): a URL → page payload boundary.

Page payloads follow the ``input_hint`` shape: interleaved spans
``(kind, text, media_ref, offset)`` with kinds drawn from the reference's
element vocabulary (heading/paragraph/link/button at
src/response_generator/generator.py:160, plus table/form/image per the
detect flags at config/config.py:50-53).

Graph shape knobs cover the fixture requirements (FIXTURES.md §2):
uniform hosts, a skewed hub host, canonical-duplicate link variants
(fragment / trailing slash / uppercase host), robots-disallowed subtrees,
deterministic fetch errors, and a >100-char path exercising the md5
doc_id fallback (reference src/utils.py:56-58).
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass

_VOCAB = (
    "spark frontier crawl fetch parse span media link page host queue "
    "bloom filter hash shard partition shuffle skew salt priority robots "
    "budget depth round snapshot lineage metric batch arrow vector column"
).split()

_TEXT_KINDS = ("heading", "paragraph", "link", "button", "table", "form")


@dataclass(frozen=True)
class WorldConfig:
    seed: int = 42
    n_hosts: int = 20
    pages_per_host: int = 200
    mean_links: int = 8
    error_rate: float = 0.03
    # Share of ALL links sent to host 0 through the skew branch of
    # _link_target: a cross-host link (40% of links) picks the hub with
    # probability hub_host_prob / 0.4, so 0.35 sends 87.5% of cross-host
    # links to the hub and any value >= 0.4 sends all of them.
    hub_host_prob: float = 0.35
    dup_variant_prob: float = 0.08  # canonical-duplicate link variants
    private_link_prob: float = 0.06  # links into robots-disallowed subtree
    long_path_prob: float = 0.01  # >100-char path (md5 doc_id branch)

    def host(self, i: int) -> str:
        return "hub.example.com" if i == 0 else f"h{i}.example.org"


def seed_urls(cfg: WorldConfig, n: int = 5) -> list[str]:
    """Deterministic seed list: front page of the first n hosts."""
    return [f"https://{cfg.host(i % cfg.n_hosts)}/p/0" for i in range(n)]


def _rng_for(cfg: WorldConfig, url: str) -> random.Random:
    digest = hashlib.sha256(f"{cfg.seed}|{url}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


_VOCAB_CYCLE = _VOCAB * 3  # slice room for the longest span


def _words(rng: random.Random, lo: int, hi: int) -> str:
    # O(1) rng calls per span: length + start offset into the vocab cycle
    # (the fetch stage runs this for every page — per-word rng.choice was
    # the crawl-bench hotspot)
    n = rng.randint(lo, hi)
    start = rng.randrange(len(_VOCAB))
    return " ".join(_VOCAB_CYCLE[start : start + n])


def _link_target(cfg: WorldConfig, rng: random.Random, host: str) -> str:
    if rng.random() < 0.6:
        target_host = host  # same-host link
    elif rng.random() < cfg.hub_host_prob / max(1e-9, 1 - 0.6):
        target_host = cfg.host(0)  # skew: hub host
    else:
        target_host = cfg.host(rng.randrange(cfg.n_hosts))
    r = rng.random()
    if r < cfg.private_link_prob:
        path = f"/private/p/{rng.randrange(cfg.pages_per_host)}"
    elif r < cfg.private_link_prob + cfg.long_path_prob:
        segs = "/".join(f"seg{rng.randrange(100)}" for _ in range(18))
        path = f"/deep/{segs}"
    else:
        path = f"/p/{rng.randrange(cfg.pages_per_host)}"
    url = f"https://{target_host}{path}"
    # canonical-duplicate variants: same canonical URL, different raw string
    v = rng.random()
    if v < cfg.dup_variant_prob / 3:
        url += "/"
    elif v < 2 * cfg.dup_variant_prob / 3:
        url += "#frag" + str(rng.randrange(5))
    elif v < cfg.dup_variant_prob:
        url = url.replace(target_host, target_host.upper(), 1)
    return url


def page_for_url(url: str, cfg: WorldConfig) -> dict:
    """Pure URL → page payload. Returns::

        {status: 'ok'|'error', error: str|None,
         spans: [{kind, text, media_ref, offset}], links: [str, ...]}

    ``links`` are in on-page order (the order the spans of kind='link'
    appear), which defines discovery order for priority assignment.
    """
    rng = _rng_for(cfg, url)
    if rng.random() < cfg.error_rate:
        return {
            "status": "error",
            "error": f"SyntheticFetchError: {url}",
            "spans": [],
            "links": [],
        }

    from urllib.parse import urlparse

    host = urlparse(url).netloc.lower()
    n_spans = rng.randint(3, 40)
    n_links = min(n_spans - 1, max(0, int(rng.gauss(cfg.mean_links, 3))))

    spans: list[dict] = []
    links: list[str] = []
    spans.append(
        {"kind": "heading", "text": _words(rng, 2, 6), "media_ref": None, "offset": 0}
    )
    # deterministic pseudo-sample of link slots in O(n_links): stride walk
    # over [1, n_spans) with an odd step (2 rng calls instead of sample())
    n_link_slots = min(n_links, n_spans - 1)
    slot_span = n_spans - 1
    start = rng.randrange(slot_span) if slot_span else 0
    step = rng.randrange(1, max(slot_span, 2))
    while math.gcd(step, slot_span) != 1:  # affine bijection → n distinct slots
        step += 1
    link_slots = {1 + (start + t * step) % slot_span for t in range(n_link_slots)}
    for off in range(1, n_spans):
        if off in link_slots:
            target = _link_target(cfg, rng, host)
            links.append(target)
            spans.append(
                {"kind": "link", "text": _words(rng, 1, 4), "media_ref": target, "offset": off}
            )
        elif rng.random() < 0.15:
            spans.append(
                {
                    "kind": "image",
                    "text": None,
                    "media_ref": f"img://{host}/{rng.randrange(10**6)}",
                    "offset": off,
                }
            )
        else:
            kind = rng.choice(_TEXT_KINDS)
            spans.append(
                {"kind": kind, "text": _words(rng, 3, 20), "media_ref": None, "offset": off}
            )
    return {"status": "ok", "error": None, "spans": spans, "links": links}


def robots_rules(cfg: WorldConfig) -> list[dict]:
    """Robots rules table: hosts with index % 3 == 0 disallow /private.

    Shape matches FIXTURES.md §3: (host, path_prefix, allow, crawl_delay_s).
    A default-allow row exists for every host so a broadcast join can
    distinguish 'no rule' from 'host unknown'.
    """
    rules = []
    for i in range(cfg.n_hosts):
        host = cfg.host(i)
        rules.append(
            {"host": host, "path_prefix": "/", "allow": True, "crawl_delay_s": 1.0}
        )
        if i % 3 == 0:
            rules.append(
                {"host": host, "path_prefix": "/private", "allow": False, "crawl_delay_s": 1.0}
            )
    return rules
