"""Pure-Python reference-semantics oracle crawler — the correctness anchor.

Implements, record-at-a-time and independently of any Spark code, the
crawl semantics the engine must reproduce (SURVEY.md §0 tier-1 + tier-2):

- seed-list order IS crawl order (reference src/crawler/crawler.py:162)
- canonical doc_id = get_clean_filename (src/utils.py:38-60)
- politeness: per-host slot spacing generalizing the reference's fixed
  1s sleep between fetches (src/crawler/crawler.py:169)
- declared-but-unimplemented reference semantics, realized: URL-seen
  dedup (Set import, src/crawler/crawler.py:8), max_depth (:140),
  max_pages budget (:141,154), allowed_domains (:142), robots gate
  (config/config.py:32), per-host concurrency cap (config/config.py:30)
- error rows tolerated, loop continues (src/crawler/crawler.py:129-135)

Round spec (the engine implements the identical spec as one DataFrame
job per round; tests assert equality of fetch order per host, the
URL-seen set, and per-row span sequences):

1. DEQUEUE: all pending frontier rows.
2. DEDUP: drop rows whose url_canon is in `seen`; among survivors keep
   one row per url_canon — min (priority, depth, url).
3-5. DEQUEUE SCAN (robots + host cap + budget, fused, r3): walk the
   deduped candidates in (priority, url_canon) order. For each row:
   - robots longest-prefix rule DISALLOWS it → log status=
     'robots_denied', add to `seen`, not counted against the budget;
   - else if fewer than max_concurrent_per_host rows of its host have
     been taken this round → TAKE it;
   - else → it stays pending for the next round.
   The walk STOPS once (max_pages - fetched_so_far) rows are taken;
   rows never reached by the walk — including robots-disallowed ones —
   stay pending untouched and are (re-)evaluated in a later round.
   This bounded-scan form is what lets the engine dequeue from a
   priority HEAD of a 10^10-row frontier instead of scanning all of
   it: taken rows, slots, and logged denials are provably identical
   whenever the head contains at least the budget's worth of takeable
   rows (everything beyond the head sorts after the stop point).
6. POLITENESS: politeness_slot = 0-based rank within host by
   (priority, url_canon); seq_in_host = prior per-host fetch count + slot.
7. FETCH: deterministic synthetic page; status ok/error (retries are
   deterministic no-ops for synthetic errors). All attempts → `seen`.
8. EXTRACT: ok pages append (doc_id, spans) to documents.
9. ENQUEUE: for each ok page in (priority, url_canon) order, for each
   link in on-page order: candidate at depth+1; filter depth<=max_depth
   and allowed_domains; assign the next global priority ordinal to every
   passing candidate (dups included — dedup is dequeue-side); append.
10. Stop when budget exhausted or frontier is empty.

The URL-seen set the north rule compares = all dequeued url_canon
(fetched ok, fetch error, or robots-denied).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from urllib.parse import urlparse, uses_params

from crawleria_spark.config import CrawlConfig
from crawleria_spark.synthetic.world import WorldConfig, page_for_url, robots_rules

_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def _canon(url: str) -> str:
    # Independent scalar implementation of the engine canonical-URL spec
    # (see crawleria_spark/functions/urls.py docstring), kept separate from
    # urls.canonicalize by design so oracle parity checks the engine's.
    p = urlparse(url)
    scheme = p.scheme.lower()
    netloc = p.netloc.lower()
    dp = _DEFAULT_PORTS.get(scheme)
    if dp and netloc.endswith(dp):
        netloc = netloc[: -len(dp)]
    path = p.path or "/"
    if scheme in uses_params:
        # trailing '/' and ';params' segments, so that the form is a
        # fixed point: '/a/;x/' → '/a', not '/a/;x'
        while True:
            cut = path.rstrip("/")
            semi = cut.find(";", cut.rfind("/") + 1)
            cut = cut if semi < 0 else cut[:semi]
            if cut == path:
                break
            path = cut
        path = path or "/"
    elif len(path) > 1 and path.endswith("/"):
        path = path.rstrip("/") or "/"
    out = f"{scheme}://{netloc}{path}"
    if p.query:
        out += f"?{p.query}"
    return out


def _clean_filename(url: str) -> str:
    # Independent twin of reference get_clean_filename (src/utils.py:38-60).
    p = urlparse(url)
    domain = p.netloc
    clean_path = p.path.replace("/", "_").strip("_") or "home"
    if len(f"{domain}_{clean_path}") > 100:
        return f"{domain}_{hashlib.md5(clean_path.encode()).hexdigest()[:10]}"
    return f"{domain}_{clean_path}"


@dataclass
class OracleResult:
    fetch_log: list[dict] = field(default_factory=list)
    documents: list[dict] = field(default_factory=list)  # doc_id, url_canon, spans
    seen: set[str] = field(default_factory=set)
    frontier_pending: list[dict] = field(default_factory=list)
    metrics: list[dict] = field(default_factory=list)
    rounds: int = 0


class OracleCrawler:
    def __init__(self, config: CrawlConfig, world: WorldConfig):
        self.config = config
        self.world = world
        rules = robots_rules(world)
        self._robots: dict[str, list[tuple[str, bool]]] = {}
        for r in rules:
            self._robots.setdefault(r["host"], []).append((r["path_prefix"], r["allow"]))
        for prefixes in self._robots.values():
            # longest prefix first; among equal lengths disallow wins
            # (conservative tie-break, mirrored in the engine's rule window)
            prefixes.sort(key=lambda t: (-len(t[0]), t[1]))

    def _robots_allowed(self, host: str, path: str) -> bool:
        if not self.config.respect_robots_txt:
            return True
        for prefix, allow in self._robots.get(host, []):
            if path.startswith(prefix):
                return allow
        return True

    def crawl(self, seeds: list[str], max_rounds: int = 100) -> OracleResult:
        cfg = self.config
        res = OracleResult()
        frontier: list[dict] = []
        next_priority = 0
        for url in seeds:
            canon = _canon(url)
            host = urlparse(url).netloc.lower()
            if not cfg.allowed(host):
                continue
            frontier.append(
                {"url": url, "url_canon": canon, "host": host, "depth": 0,
                 "priority": float(next_priority), "discovered_round": -1}
            )
            next_priority += 1

        host_seq: dict[str, int] = {}
        fetched_total = 0

        for rnd in range(max_rounds):
            if not frontier or fetched_total >= cfg.max_pages:
                break
            res.rounds = rnd + 1

            # 2. dedup vs seen + within-batch
            alive = [r for r in frontier if r["url_canon"] not in res.seen]
            best: dict[str, dict] = {}
            for r in sorted(alive, key=lambda r: (r["priority"], r["depth"], r["url"])):
                best.setdefault(r["url_canon"], r)
            candidates = sorted(
                best.values(), key=lambda r: (r["priority"], r["url_canon"])
            )

            # 3-5. dequeue scan: robots + host cap + budget in candidate
            # order; the walk STOPS at the budget point — rows beyond it
            # (denied or not) stay pending untouched (round-spec 3-5).
            remaining = cfg.max_pages - fetched_total
            per_host_count: dict[str, int] = {}
            to_fetch: list[dict] = []
            deferred: list[dict] = []
            for i, r in enumerate(candidates):  # sorted by (priority, canon)
                if len(to_fetch) >= remaining:
                    deferred += candidates[i:]  # unscanned: stay pending
                    break
                path = urlparse(r["url_canon"]).path or "/"
                if not self._robots_allowed(r["host"], path):
                    res.seen.add(r["url_canon"])
                    res.fetch_log.append(
                        {"url_canon": r["url_canon"], "host": r["host"], "round": rnd,
                         "politeness_slot": -1, "seq_in_host": -1,
                         "status": "robots_denied", "error": None}
                    )
                    continue
                c = per_host_count.get(r["host"], 0)
                if c < cfg.max_concurrent_per_host:
                    per_host_count[r["host"]] = c + 1
                    to_fetch.append(r)
                else:
                    deferred.append(r)

            if not to_fetch:
                frontier = deferred
                if not deferred:
                    break
                # nothing fetchable this round and nothing will change → stop
                break

            # 6. politeness slots
            slot_count: dict[str, int] = {}
            n_ok = n_err = 0
            for r in to_fetch:
                slot = slot_count.get(r["host"], 0)
                slot_count[r["host"]] = slot + 1
                seq = host_seq.get(r["host"], 0)
                host_seq[r["host"]] = seq + 1
                r["_slot"], r["_seq"] = slot, seq

            # 7-8. fetch + extract
            pages: list[tuple[dict, dict]] = []
            for r in to_fetch:
                page = page_for_url(r["url"], self.world)
                res.seen.add(r["url_canon"])
                status = page["status"]
                if status == "ok":
                    n_ok += 1
                    res.documents.append(
                        {"doc_id": _clean_filename(r["url"]),
                         "url_canon": r["url_canon"], "spans": page["spans"]}
                    )
                    pages.append((r, page))
                else:
                    n_err += 1
                res.fetch_log.append(
                    {"url_canon": r["url_canon"], "host": r["host"], "round": rnd,
                     "politeness_slot": r["_slot"], "seq_in_host": r["_seq"],
                     "status": status, "error": page["error"]}
                )
            fetched_total += len(to_fetch)

            # 9. enqueue discovered links
            new_rows: list[dict] = []
            for r, page in pages:
                depth = r["depth"] + 1
                if depth > cfg.max_depth:
                    continue
                for link in page["links"]:
                    host = urlparse(link).netloc.lower()
                    if not cfg.allowed(host):
                        continue
                    new_rows.append(
                        {"url": link, "url_canon": _canon(link), "host": host,
                         "depth": depth, "priority": float(next_priority),
                         "discovered_round": rnd}
                    )
                    next_priority += 1

            res.metrics.append(
                {"round": rnd, "n_dequeued": len(to_fetch),
                 "n_deduped": len(alive) - len(candidates),
                 "n_fetched": n_ok, "n_errors": n_err,
                 "n_discovered": len(new_rows)}
            )
            frontier = deferred + new_rows

        res.frontier_pending = frontier
        return res
