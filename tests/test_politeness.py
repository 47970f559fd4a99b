"""F7 scheduler kernel, checked directly: schedule_round's selection,
fetch_seq and due_s against the pure-Python order rule of the reference
crawler, with exact float equality on due_s."""

from __future__ import annotations

from pyspark.sql import functions as F

from spacetime_crawler_spark.operators.politeness import schedule_round
from tests.reference_impl import host_schedule

BUDGET = 2.0


def _frontier() -> list[tuple[str, str, int, float]]:
    """(host, url_norm, depth, crawl_delay) rows covering depth ties inside
    a host, code-point ordering of urls, one-row hosts, quota cut-offs
    (including a zero quota) and a host large enough for the salted
    pre-rank to cut in several salt buckets."""
    rows = []
    # quota 4; ties at depth 0 and 1 ordered by url_norm, including
    # characters whose code-point order differs from a case-folded order
    for i, path in enumerate(["b", "a", "B", "a-b", "a/b", "é", "z", "a.b"]):
        rows.append(("tie.com", f"http://tie.com/{path}", i % 2, 0.5))
    rows.append(("one.com", "http://one.com/only", 3, 1.0))  # one row
    rows.append(("slow.com", "http://slow.com/x", 0, 3.0))  # quota 0
    # delay 0.3: quota floor(2.0 / 0.3) = 6, due_s products that are not
    # exact decimals (0.3 · 3 = 0.8999999999999999)
    for i in range(9):
        rows.append(("frac.com", f"http://frac.com/p{i}", 2 - i % 3, 0.3))
    # 400 urls at quota 20: the salted pre-rank must keep the exact top 20
    for i in range(400):
        rows.append(("big.com", f"http://big.com/{i:04d}", (i * 7) % 5, 0.1))
    return rows


def test_schedule_round_matches_reference_order_rule(spark):
    rows = _frontier()
    gated = spark.createDataFrame(
        rows, "host string, url_norm string, depth int, crawl_delay double"
    ).select(
        "url_norm",
        F.xxhash64("url_norm").alias("url_hash"),
        F.hash("url_norm").alias("h2"),
        "host",
        "depth",
        "crawl_delay",
    )
    got = sorted(
        (r.host, r.fetch_seq, r.depth, r.url_norm, r.crawl_delay, r.due_s)
        for r in schedule_round(gated, BUDGET).collect()
    )

    by_host: dict[str, list[tuple[int, str]]] = {}
    delays = {}
    for host, url, depth, delay in rows:
        by_host.setdefault(host, []).append((depth, url))
        delays[host] = delay
    expected = sorted(
        (host, seq, depth, url, delays[host], delays[host] * seq)
        for host, entries in by_host.items()
        for seq, depth, url in host_schedule(entries, delays[host], BUDGET)[0]
    )

    assert got == expected  # due_s compared with exact float equality
    assert {h for h, *_ in got} == {"tie.com", "one.com", "frac.com", "big.com"}
    assert sum(h == "big.com" for h, *_ in got) == 20
