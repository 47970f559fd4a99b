"""Single-node reference crawler — the operational oracle (SURVEY.md §0/§5.3).

Implements the reference's fetch-parse-extract loop semantics
(Mondego/spacetime-crawler family: frontier.add_url dict-admission,
get_tbd_url pop, scraper.is_valid filter, POLITENESS delay — citations in
SURVEY.md §2, reference repo empty at survey time) under the SAME BSP round
discipline the Spark engine uses, so "matching crawl ordering and URL-seen
set" (BASELINE.json north_rule) is a well-defined, testable equivalence:

- Admission (reference add_url): a canonical URL enters `seen` exactly once,
  at discovery; first writer wins.
- Round selection (reference get_tbd_url + politeness sleep): per host,
  candidates sorted by (depth, url_norm); the first
  quota(host) = floor(round_budget_s / crawl_delay(host)) are fetched this
  round with fetch_seq 1..q; the rest stay in the frontier.
- Robots: disallowed URLs are dropped from the frontier permanently (they
  stay in `seen`); missing robots.txt ⇒ allow-all with the default 0.5 s
  delay (reference POLITENESS).
- Fetch = latest-capture lookup in the pages world (status 404 if absent);
  extract links with the pinned extract_links; filter is_valid; admit.

Pure Python + the pinned functions only — NO Spark, no hashing parity
requirements (ordering ties break on url_norm, not on any hash).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from spacetime_crawler_spark.functions.robots import (
    DEFAULT_CRAWL_DELAY,
    parse_robots,
    robots_allowed,
)
from spacetime_crawler_spark.functions.textextract import extract_links, extract_text
from spacetime_crawler_spark.functions.urlnorm import (
    canonicalize_url,
    get_host,
    is_valid,
)


@dataclass
class FetchRecord:
    round: int
    host: str
    url_norm: str
    fetch_seq: int
    status: int
    depth: int
    n_links: int
    text_sha256: str | None


@dataclass
class CrawlResult:
    seen: dict[str, int]                    # url_norm -> round first seen
    fetch_log: list[FetchRecord] = field(default_factory=list)
    frontier_left: dict[str, int] = field(default_factory=dict)  # url -> depth

    def ordering_key(self) -> list[tuple]:
        return sorted(
            (r.round, r.host, r.fetch_seq, r.url_norm) for r in self.fetch_log
        )


class PagesWorld:
    """Latest-capture index over synth page rows, keyed by canonical URL."""

    def __init__(self, rows: list[dict]):
        self.by_canon: dict[str, dict] = {}
        for row in rows:
            canon = canonicalize_url(row["url"])
            cur = self.by_canon.get(canon)
            if cur is None or row["warc_ts"] > cur["warc_ts"]:
                self.by_canon[canon] = row

    def fetch(self, url_norm: str) -> dict | None:
        return self.by_canon.get(url_norm)

    def robots_rules(self, host: str, scheme_hint: str = "http"):
        for scheme in ("http", "https"):
            row = self.by_canon.get(f"{scheme}://{host}/robots.txt")
            if row is not None:
                return parse_robots(row["html"])
        return None, None  # no robots row → allow-all, default delay


def host_schedule(
    entries: list[tuple[int, str]], crawl_delay: float, round_budget_s: float
) -> tuple[list[tuple[int, int, str]], list[tuple[int, str]]]:
    """The per-host order rule: one host's allowed (depth, url_norm)
    entries in (depth, url_norm) order; the first
    quota = floor(round_budget_s / crawl_delay) are fetched this round as
    (fetch_seq, depth, url_norm), fetch_seq 1..q; the rest stay over quota."""
    ordered = sorted(entries)
    quota = int(round_budget_s / crawl_delay)
    selected = [(seq, depth, url)
                for seq, (depth, url) in enumerate(ordered[:quota], start=1)]
    return selected, ordered[quota:]


def crawl(
    world_rows: list[dict],
    seeds: list[str],
    rounds: int = 4,
    round_budget_s: float = 30.0,
) -> CrawlResult:
    pages = PagesWorld(world_rows)
    seen: dict[str, int] = {}
    frontier: dict[str, int] = {}  # url_norm -> depth
    result = CrawlResult(seen=seen)

    for raw in seeds:
        url = canonicalize_url(raw)
        if is_valid(url) and url not in seen:
            seen[url] = 0
            frontier[url] = 0

    robots_cache: dict[str, tuple] = {}

    def host_rules(host: str):
        if host not in robots_cache:
            delay, rules = pages.robots_rules(host)
            robots_cache[host] = (
                delay if delay is not None else DEFAULT_CRAWL_DELAY,
                rules,
            )
        return robots_cache[host]

    for rnd in range(1, rounds + 1):
        if not frontier:
            break
        # group by host
        by_host: dict[str, list[tuple[int, str]]] = defaultdict(list)
        for url, depth in frontier.items():
            by_host[get_host(url)].append((depth, url))

        next_frontier: dict[str, int] = {}
        discovered: dict[str, int] = {}  # url -> min depth this round

        for host in sorted(by_host):
            delay, rules = host_rules(host)
            allowed = []
            for depth, url in by_host[host]:
                path = urlsplit(url).path or "/"
                if rules is None or robots_allowed(path, rules):
                    allowed.append((depth, url))
                # disallowed: dropped permanently (stays in seen)
            selected, over_quota = host_schedule(allowed, delay, round_budget_s)
            for seq, depth, url in selected:
                row = pages.fetch(url)
                if row is None:
                    result.fetch_log.append(FetchRecord(
                        rnd, host, url, seq, 404, depth, 0, None))
                    continue
                text = row["text"]
                links = [
                    u for u in extract_links(row["html"], url) if is_valid(u)
                ]
                result.fetch_log.append(FetchRecord(
                    rnd, host, url, seq, 200, depth, len(links),
                    hashlib.sha256(text.encode("utf-8")).hexdigest()))
                for link in links:
                    if link not in seen:
                        d = discovered.get(link)
                        discovered[link] = depth + 1 if d is None else min(d, depth + 1)
            # over-quota leftover stays with its depth
            for depth, url in over_quota:
                next_frontier[url] = min(depth, next_frontier.get(url, depth))

        for url, depth in discovered.items():
            seen[url] = rnd
            next_frontier[url] = min(depth, next_frontier.get(url, depth))
        frontier = next_frontier

    result.frontier_left = dict(frontier)
    return result


# --- report analytics over the crawl (A1–A4 definitions, shared) -------------

def report_analytics(result: CrawlResult, world_rows: list[dict]):
    from spacetime_crawler_spark.functions.tokenize import STOPWORDS, tokenize

    pages = PagesWorld(world_rows)
    fetched_ok = [r for r in result.fetch_log if r.status == 200]
    unique_pages = len({r.url_norm for r in fetched_ok})
    subdomains: dict[str, int] = defaultdict(int)
    for r in fetched_ok:
        subdomains[r.host] += 1
    longest_url, longest_n = None, -1
    words: dict[str, int] = defaultdict(int)
    for r in sorted({x.url_norm for x in fetched_ok}):
        text = pages.fetch(r)["text"]
        toks = tokenize(text)
        if len(toks) > longest_n:
            longest_url, longest_n = r, len(toks)
        for t in toks:
            if t not in STOPWORDS:
                words[t] += 1
    top50 = sorted(words.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    return {
        "unique_pages": unique_pages,
        "subdomains": dict(sorted(subdomains.items())),
        "longest_page": (longest_url, longest_n),
        "common_words": top50,
    }
