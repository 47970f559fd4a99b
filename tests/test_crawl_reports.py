"""Differential check of the four report analytics (A1–A4) computed by the
engine over its crawl outputs vs the single-node oracle's report."""

from __future__ import annotations

import pytest

from spacetime_crawler_spark.plans import crawl as crawl_mod
from spacetime_crawler_spark.plans import crawl_reports
from spacetime_crawler_spark.plans.crawl import CrawlConfig, prepare_pages, run_crawl
from spacetime_crawler_spark.sources import synth
from tests import reference_impl

ROUNDS = 3
BUDGET = 10.0


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    p = synth.world("tiny", n_pages=500)
    rows = synth.driver_side_pages(p)
    seeds = synth.seed_urls(p)
    oracle = reference_impl.crawl(rows, seeds, rounds=ROUNDS, round_budget_s=BUDGET)
    report = reference_impl.report_analytics(oracle, rows)

    pages = synth.generate_pages_df(spark, p).persist()
    cfg = CrawlConfig(
        state_dir=str(tmp_path_factory.mktemp("rep")), rounds=ROUNDS,
        round_budget_s=BUDGET,
    )
    run = run_crawl(spark, pages, seeds, cfg)
    fetch_log = crawl_mod.read_fetch_log(spark, run.io, run.rounds_run).persist()
    pages_latest = prepare_pages(spark, pages).persist()
    return report, fetch_log, pages_latest


def test_a1_unique_pages(setup):
    report, fetch_log, _ = setup
    got = crawl_reports.unique_pages(fetch_log).collect()[0].unique_pages
    assert got == report["unique_pages"]


def test_a2_subdomains(setup):
    report, fetch_log, _ = setup
    got = {r.host: r.n for r in crawl_reports.subdomain_histogram(fetch_log).collect()}
    assert got == report["subdomains"]


def test_a3_longest_page(setup):
    report, fetch_log, pages_latest = setup
    row = crawl_reports.longest_page(fetch_log, pages_latest).collect()[0]
    assert (row.url_norm, row.n_words) == report["longest_page"]


def test_a4_common_words(setup):
    report, fetch_log, pages_latest = setup
    got = [
        (r.word, r.n)
        for r in crawl_reports.common_words(fetch_log, pages_latest).collect()
    ]
    assert got == report["common_words"]


def test_host_pagerank_matches_pure_python(spark, setup):
    """The generic PageRank kernel behind graph_pagerank (fixed 10
    iterations, dangling mass redistributed uniformly), run over the
    crawled host graph, must match a pure-Python implementation on the
    SAME edge list and conserve rank mass."""
    from spacetime_crawler_spark.functions.textextract import extract_links
    from spacetime_crawler_spark.functions.urlnorm import get_host

    _, fetch_log, pages_latest = setup
    ok = (
        fetch_log.filter("status = 200")
        .select("url_norm", "url_hash", "host")
        .distinct()
        .collect()
    )
    html_by_key = {
        (r.url_hash, r.url_norm): bytes(r.html)
        for r in pages_latest.select("url_norm", "url_hash", "html").collect()
    }
    nodes = sorted({r.host for r in ok})
    edges = set()
    for r in ok:
        for link in extract_links(html_by_key[(r.url_hash, r.url_norm)], r.url_norm):
            dst = get_host(link)
            if dst in nodes and dst != r.host:
                edges.add((r.host, dst))
    n, d = len(nodes), 0.85
    out = {}
    for s, t in edges:
        out.setdefault(s, set()).add(t)
    rank = {h: 1.0 / n for h in nodes}
    for _ in range(10):
        dangling = sum(rank[h] for h in nodes if h not in out)
        contrib = {h: 0.0 for h in nodes}
        for s, ts in out.items():
            share = rank[s] / len(ts)
            for t in ts:
                contrib[t] += share
        base = (1 - d) / n + d * dangling / n
        rank = {h: base + d * contrib[h] for h in nodes}

    got = {
        r.node: r.rank
        for r in crawl_reports.pagerank(
            spark.createDataFrame([(h,) for h in nodes], "node string"),
            spark.createDataFrame(sorted(edges), "src string, dst string"),
        ).collect()
    }
    assert set(got) == set(nodes)
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved
    for h in nodes:
        assert abs(got[h] - rank[h]) < 1e-6, (h, got[h], rank[h])
    # the graph must be non-trivial for this test to mean anything
    assert edges and len({v for v in got.values()}) > 1
