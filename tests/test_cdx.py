"""CDX index: SURT key vs a pure-Python reimplementation, record
determinism over a real crawl, shard ordering, and lookup semantics with
pushdown plan assertions."""

from __future__ import annotations

from urllib.parse import urlsplit

import pytest

from pyspark.sql import functions as F

from spacetime_crawler_spark.plans import cdx
from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from spacetime_crawler_spark.plans import crawl as crawl_mod
from spacetime_crawler_spark.sources import synth

ROUNDS = 2
BUDGET = 8.0


def py_surt(url: str) -> str:
    """Independent SURT per the module spec (stdlib urlsplit, not
    parse_url) — the cross-implementation oracle."""
    u = urlsplit(url)
    host = ",".join(reversed(u.hostname.lower().split(".")))
    q = f"?{u.query}" if u.query else ""
    return f"{host}){u.path}{q}"


SURT_CASES = [
    "http://host0001.example.com/page/7",
    "https://a.b.example.com/x/y?k=1&j=2",
    "http://example.com/",
    "http://sub.examples.com/p",
    "https://deep.multi.part.host.org/a",
]


def test_surt_expr_matches_python(spark):
    df = spark.createDataFrame([(u,) for u in SURT_CASES], ["url"])
    got = {r.url: r.s for r in df.select("url", cdx.surt_expr("url").alias("s")).collect()}
    for u in SURT_CASES:
        assert got[u] == py_surt(u), u


@pytest.fixture(scope="module")
def crawl_cdx(spark, tmp_path_factory):
    p = synth.world("tiny", n_pages=400)
    pages = synth.generate_pages_df(spark, p).persist()
    cfg = CrawlConfig(
        state_dir=str(tmp_path_factory.mktemp("cdx_st")), rounds=ROUNDS,
        round_budget_s=BUDGET,
    )
    run = run_crawl(spark, pages, synth.seed_urls(p), cfg)
    fetch_log = crawl_mod.read_fetch_log(spark, run.io, run.rounds_run).persist()
    path = str(tmp_path_factory.mktemp("cdx_idx") / "cdx")
    cdx.write_cdx_index(cdx.cdx_records(fetch_log), path, n_shards=4)
    rows = spark.read.parquet(path).collect()
    pages.unpersist()
    return fetch_log, path, rows


def test_cdx_records_complete_and_deterministic(spark, crawl_cdx):
    fetch_log, _path, rows = crawl_cdx
    ok = fetch_log.filter(F.col("status") == 200)
    assert len(rows) == ok.count()
    # surt round-trips the python spec over real crawl urls
    sample = {r.url_norm: r.surt for r in rows[:50]}
    for url, s in sample.items():
        assert s == py_surt(url), url
    # 14-digit virtual-clock ts, later rounds strictly later days
    by_url = {r.url_norm: r for r in rows}
    for r in fetch_log.select("url_norm", "round", "text_sha256").collect():
        rec = by_url.get(r.url_norm)
        if rec is None:
            continue
        assert len(rec.ts) == 14 and rec.ts.isdigit()
        assert rec.ts.startswith(("2024", "2025"))
        assert rec.digest == r.text_sha256
    # rebuilding yields the identical record set
    again = {
        (r.surt, r.ts, r.url_norm, r.digest)
        for r in cdx.cdx_records(fetch_log).collect()
    }
    assert again == {(r.surt, r.ts, r.url_norm, r.digest) for r in rows}


def test_cdx_shards_are_globally_ordered(spark, crawl_cdx):
    _fetch_log, path, _rows = crawl_cdx
    per_file = (
        spark.read.parquet(path)
        .select("surt", "ts", F.input_file_name().alias("f"))
        .collect()
    )
    files: dict[str, list[tuple[str, str]]] = {}
    for r in per_file:
        files.setdefault(r.f, []).append((r.surt, r.ts))
    # within-file sorted…
    for keys in files.values():
        assert keys == sorted(keys)
    # …and file key-ranges disjoint → the whole index is one total order
    spans = sorted((min(k), max(k)) for k in files.values() if k)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo


# --- revisit detection --------------------------------------------------------


@pytest.fixture(scope="module")
def captures(spark, crawl_cdx, tmp_path_factory):
    """Deterministic multi-snapshot captures derived from the crawl's CDX
    records: url-hash picks 1–3 captures per URL; later snapshots keep the
    base digest (content unchanged → a revisit) or mutate it (content
    changed → a new version) by a second hash.  Materialized to parquet so
    the DuckDB oracle reads the IDENTICAL input."""
    fetch_log, _path, _rows = crawl_cdx
    base = cdx.cdx_records(fetch_log)
    snaps = base.withColumn(
        "snap",
        F.explode(
            F.sequence(
                F.lit(0), F.pmod(F.xxhash64("url_norm"), F.lit(3)).cast("int")
            )
        ),
    )
    changed = (F.col("snap") > 0) & (
        F.pmod(F.xxhash64("url_norm", "snap"), F.lit(2)) == 0
    )
    virt_s = (
        F.unix_timestamp(F.to_timestamp("ts", "yyyyMMddHHmmss"))
        + F.col("snap").cast("long") * 86_400
    )
    derived = snaps.select(
        "surt",
        F.date_format(F.timestamp_seconds(virt_s), "yyyyMMddHHmmss").alias("ts"),
        "url_norm",
        F.when(
            changed,
            F.md5(F.concat(F.col("digest"), F.col("snap").cast("string"))),
        )
        .otherwise(F.col("digest"))
        .alias("digest"),
        F.when(changed, F.col("length") + F.col("snap"))
        .otherwise(F.col("length"))
        .alias("length"),
    )
    out = str(tmp_path_factory.mktemp("captures") / "captures.parquet")
    derived.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out), out


def test_revisit_stats_matches_duckdb(spark, captures):
    import duckdb

    from tests.oracle_harness import compare

    df, path = captures
    con = duckdb.connect()
    con.sql(f"CREATE VIEW captures AS SELECT * FROM '{path}/*.parquet'")
    oracle = con.sql(cdx.REVISIT_STATS_SQL).df()
    assert compare(cdx.revisit_stats(df), oracle) == []
    con.close()


def test_recrawl_schedule_matches_pure_python(spark, captures):
    """recrawl_schedule vs a python recompute of the pinned policy, plus
    policy invariants: never-changing URLs back off to max_days; the due
    key stays a sortable 14-digit virtual-clock string after last_ts."""
    from datetime import datetime, timedelta

    df, _path = captures
    stats = cdx.revisit_stats(df)
    got = {r.surt: r for r in cdx.recrawl_schedule(stats).collect()}
    fmt = "%Y%m%d%H%M%S"
    n_backoff = 0
    for s in stats.collect():
        r = got[s.surt]
        first = datetime.strptime(s.first_ts, fmt)
        last = datetime.strptime(s.last_ts, fmt)
        span_days = (last - first).total_seconds() / 86_400.0
        if s.n_versions > 1 and span_days > 0:
            period = min(
                max(span_days / (s.n_versions - 1), cdx.RECRAWL_MIN_DAYS),
                cdx.RECRAWL_MAX_DAYS,
            )
        else:
            period = cdx.RECRAWL_MAX_DAYS
            n_backoff += 1
        assert abs(r.change_period_days - round(period, 4)) < 1e-9, s.surt
        want_due = last + timedelta(seconds=int(period * 86_400))
        assert r.next_due == want_due.strftime(fmt), s.surt
        assert len(r.next_due) == 14 and r.next_due > s.last_ts
    assert n_backoff > 0  # single-capture and never-changed URLs exist
    assert any(r.change_period_days < cdx.RECRAWL_MAX_DAYS for r in got.values())


def test_capture_records_over_pages_archive(spark):
    """capture_records adapts the raw multi-snapshot pages archive (the
    BASELINE.json input shape) to the same captures schema as cdx_records:
    revisit_stats runs unchanged, the planted ~2% second captures show up
    as content VERSIONS (synth always mutates the re-capture), and the
    digest is the engine's text sha256."""
    import hashlib

    p = synth.world("tiny", n_pages=300)
    pages = synth.generate_pages_df(spark, p)
    caps = cdx.capture_records(pages)
    rows = caps.collect()
    assert len(rows) == pages.count()  # one capture per archive row

    # digest parity with the pinned text column — keyed by (url, ts) since
    # re-captured urls appear twice with different digests
    want = {
        (r.url, r.warc_ts.strftime("%Y%m%d%H%M%S")): hashlib.sha256(
            r.text.encode()
        ).hexdigest()
        for r in pages.select("url", "warc_ts", "text").limit(20).collect()
    }
    got = {(r.url_norm, r.ts): r.digest for r in rows}
    for key, digest in want.items():
        assert got[key] == digest, key

    stats = {r.surt: r for r in cdx.revisit_stats(caps).collect()}
    multi = [s for s in stats.values() if s.n_captures == 2]
    assert multi, "the world plants ~2% second captures"
    for s in multi:
        assert s.n_versions == 2 and s.n_revisits == 0, s
        assert s.first_ts < s.last_ts
