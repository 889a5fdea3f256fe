"""Engine configuration.

Mirrors every tunable the reference declares (config/config.py:24-90 in
the reference), but as a frozen dataclass that is cheap to broadcast to
executors. Defaults equal the reference's defaults so a reference user
can switch without changing behavior:

- politeness_delay_s = 1      (crawler sleep, src/crawler/crawler.py:169)
- max_concurrent_per_host = 5 (config/config.py:30 "max_concurrent_pages")
- max_pages = 50              (config/config.py:31 "max_pages_per_site")
- respect_robots_txt = True   (config/config.py:32)
- user_agent                  (config/config.py:33)
- top_k = 5                   (config/config.py:61)
- similarity_threshold = 0.7  (config/config.py:62)
- reranking_enabled = True    (config/config.py:63)
- cache_ttl_s = 3600          (config/config.py:68)
- retry: 3 attempts, exp backoff 2-10s (src/utils.py:110)
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    # crawl loop
    max_depth: int = 3
    max_pages: int = 50
    allowed_domains: tuple[str, ...] = ()  # empty = allow all
    respect_robots_txt: bool = True
    user_agent: str = "CrawlerIA-Spark-Bot/0.1"

    # politeness (reference: fixed 1s between consecutive fetches,
    # src/crawler/crawler.py:169 — generalized here to per-host slots)
    politeness_delay_s: float = 1.0
    max_concurrent_per_host: int = 5

    # retry (src/utils.py:110)
    retry_attempts: int = 3
    retry_backoff_min_s: float = 2.0
    retry_backoff_max_s: float = 10.0

    # retrieval
    top_k: int = 5
    similarity_threshold: float = 0.7
    reranking_enabled: bool = True
    cache_ttl_s: int = 3600

    # engine-only scale knobs (no reference equivalent)
    frontier_partitions: int = 32
    # append tables compact when their delta-directory count exceeds
    # this (bounds file listing; the frontier compaction also reclaims
    # logically-dequeued rows, bounding the dead fraction the per-round
    # dedup scan carries)
    compact_dirs_threshold: int = 64
    # AMQ seen-filter kind (north rule: "bloom/cuckoo-filter URL-seen
    # set"). "bloom" = operators/bloom.py (default; ~1.2 bytes/key at
    # fpp 0.01, no deletion); "cuckoo" = operators/cuckoo.py (~2.4
    # bytes/key capacity, probe fpp ≈ 1.2e-4, supports DELETION —
    # required by CrawlEngine.forget's O(filter) re-crawl path).
    # Active only when the engine is built with use_bloom=True. Both
    # kinds are probed by the one split/anti-join in operators/bloom.py
    # (the filter table's blob column names the kind).
    # Measured (BENCH/BASELINE.md round-4 filter A/B + kernel profile,
    # 2M URLs): the two kinds are throughput-equivalent — the probe is
    # ~1 s/2M keys on one core, invisible in a round. Pick cuckoo when
    # the deployment uses forget (O(filter) deletion); bloom
    # otherwise (half the state bytes/key). The kind persists in
    # catalog meta at init, so decide it once per catalog.
    seen_filter: str = "bloom"
    bloom_fpp: float = 0.01
    bloom_capacity_per_partition: int = 1_000_000
    # fetch-rebalance salt granularity: a hot host's kept rows split
    # into this many shuffle keys. Needs >= ~2x frontier_partitions so
    # hash collisions can't re-clump a 30%-hub's salt classes (measured
    # at the 2M bench shape: max/mean task load 2.05 at K=8 -> 1.47 at
    # K=64, count wall 0.47 -> 0.25 s); extra keys cost nothing.
    skew_salt_buckets: int = 64

    # per-host session config (reference S7: cookies file loaded into the
    # crawler session, src/crawler/crawler.py:45-57). Broadcast with the
    # config; a production fetcher reads cookies_for(host) per batch.
    cookies: tuple[tuple[str, str], ...] = ()  # (host, cookie_header) pairs

    # run identity (tests pass a fixed value for determinism;
    # reference uses f"website_{int(time.time())}", src/main.py:199)
    run_id: str = "run_0"

    def cookies_for(self, host: str) -> str | None:
        for h, cookie in self.cookies:
            if host == h or host.endswith("." + h):
                return cookie
        return None

    def allowed(self, host: str) -> bool:
        """Domain allow-check (reference `allowed_domains` param,
        src/crawler/crawler.py:142 — declared there, enforced here)."""
        if not self.allowed_domains:
            return True
        return any(host == d or host.endswith("." + d) for d in self.allowed_domains)


DEFAULT_CONFIG = CrawlConfig()
