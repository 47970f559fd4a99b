"""CDX-style capture index over crawl output — the Common-Crawl/Internet-
Archive lookup layout (SURT key + 14-digit timestamp), Spark-first.

A CDX index answers "which captures exist for this URL / host / domain?"
without scanning page bodies.  The key is the SURT (Sort-friendly URI
Reordering Transform) of the URL: the host's dot-segments reversed and
comma-joined, then ')' + path (+ '?' + query).  Reversing the host is the
whole point — every URL of example.com, including all subdomains, shares
the prefix `com,example`, so host- and domain-scoped queries become PREFIX
scans over one sorted key instead of joins.

Pinned spec (this engine's SURT dialect, asserted against a pure-Python
reimplementation in tests/test_cdx.py):
  - host: lowercased, dot-split, reversed, comma-joined.  No www-stripping
    (url_norm is already canonical; stripping here would alias distinct
    hosts).  Ports never appear (canonicalize_url drops default ports and
    the synthetic worlds carry none).
  - path: as-is from url_norm ('' stays '' — url_norm is defragmented and
    case-preserved past the authority, so no further folding).
  - query: appended as '?query' when present, else nothing.
  - ts: 14-digit yyyyMMddHHmmss on a pinned virtual clock —
    CDX_EPOCH + round·round_seconds + floor(due_s) — because this crawler's
    politeness schedule, not a wall clock, is the authoritative capture
    time.  Deterministic across machines (session timezone is pinned UTC
    in session.get_spark).

Scale shape: cdx_records is a map-only projection of fetch_log (no page
bodies touched); write_cdx_index adds exactly one range exchange keyed by
(surt, ts) plus a partition-local sort, producing globally-ordered parquet
shards whose per-file/row-group min-max stats ARE the secondary index —
the same two-level layout as Common Crawl's ZipNum cluster.idx, with
parquet stats standing in for the idx lines: a SURT-prefix filter over the
index (host and domain lookups alike) needs only the shards whose surt
range intersects the prefix.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CDX_EPOCH_S = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
CDX_ROUND_SECONDS = 86_400  # one virtual day per crawl round
CDX_SHARDS = 16


def surt_expr(url_col: str | Column) -> Column:
    """SURT key of a canonical URL column, per the module spec."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.parse_url(url, F.lit("QUERY"))
    return F.concat(
        F.array_join(F.reverse(F.split(host, "[.]")), ","),
        F.lit(")"),
        path,
        F.coalesce(F.concat(F.lit("?"), query), F.lit("")),
    )


def cdx_records(
    fetch_log: DataFrame, round_seconds: int = CDX_ROUND_SECONDS
) -> DataFrame:
    """One CDX record per successful capture: (surt, ts, url_norm, status,
    digest, length).  Map-only — safe to chain straight onto the fetch_log
    scan."""
    virtual_s = (
        F.lit(CDX_EPOCH_S)
        + F.col("round").cast("long") * round_seconds
        + F.floor(F.col("due_s")).cast("long")
    )
    return fetch_log.filter(F.col("status") == 200).select(
        surt_expr("url_norm").alias("surt"),
        F.date_format(F.timestamp_seconds(virtual_s), "yyyyMMddHHmmss").alias(
            "ts"
        ),
        "url_norm",
        "status",
        F.col("text_sha256").alias("digest"),
        F.col("content_len").alias("length"),
    )


def write_cdx_index(
    records: DataFrame, path: str, n_shards: int = CDX_SHARDS
) -> None:
    """Globally (surt, ts)-ordered parquet shards.  repartitionByRange
    samples the key distribution (one extra light job — the price of
    balanced shards under skewed hosts), then each shard sorts locally:
    total order across shard boundaries, min-max stats per file."""
    (
        records.repartitionByRange(n_shards, "surt", "ts")
        .sortWithinPartitions("surt", "ts")
        .write.mode("overwrite")
        .parquet(path)
    )


def capture_records(pages: DataFrame) -> DataFrame:
    """The captures frame for a raw multi-snapshot pages archive (the
    BASELINE.json input shape: url, warc_ts, html, text, lang) — each
    (url, warc_ts) row is one capture.  Same schema cdx_records emits from
    a fetch_log, so revisit_stats / recrawl_schedule run unchanged over
    either source.  Map-only; the digest is the engine's text sha256 (the
    byte-identity invariant column), html is never read."""
    return pages.select(
        surt_expr("url").alias("surt"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("ts"),
        F.col("url").alias("url_norm"),
        F.lit(200).alias("status"),
        F.sha2(F.col("text"), 256).alias("digest"),
        F.length("text").cast("long").alias("length"),
    )


def revisit_stats(records: DataFrame) -> DataFrame:
    """Per-surt revisit rollup: how often was each URL captured, how often
    had it actually changed, and how many payload bytes revisit-dedup
    saves — the storage-planning query behind a Common-Crawl-style archive.

    Two-level aggregation instead of a window: groupBy(surt, digest) takes
    the partial-agg (map-side combine) path, then a second narrow agg rolls
    digests up to the surt.  Both shuffles carry one short row per distinct
    (url, content-version) — nothing scales with capture count.  Within a
    (surt, digest) group every capture stores the same payload (digest IS
    the content hash), so bytes_saved = group bytes minus one stored copy;
    min(length) == max(length) there by construction, and the oracle uses
    the same min()."""
    per_version = (
        records.groupBy("surt", "digest")
        .agg(
            F.count(F.lit(1)).alias("n_caps"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum("length").alias("bytes_all"),
            F.min("length").alias("bytes_one"),
        )
    )
    return (
        per_version.groupBy("surt")
        .agg(
            F.sum("n_caps").cast("long").alias("n_captures"),
            F.count(F.lit(1)).cast("long").alias("n_versions"),
            (F.sum("n_caps") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_revisits"),
            F.sum(F.col("bytes_all") - F.col("bytes_one"))
            .cast("long")
            .alias("bytes_saved"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )


# DuckDB mirror of revisit_stats over a `captures` view (surt, ts,
# url_norm, digest, length) — the in-test oracle (tests/test_cdx.py); not a
# driver row (the 50-row artifact cap is taken).
REVISIT_STATS_SQL = """
WITH per_version AS (
  SELECT surt, digest,
         COUNT(*) AS n_caps,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         SUM(length) AS bytes_all, MIN(length) AS bytes_one
  FROM captures GROUP BY surt, digest
)
SELECT surt,
       CAST(SUM(n_caps) AS BIGINT) AS n_captures,
       CAST(COUNT(*) AS BIGINT) AS n_versions,
       CAST(SUM(n_caps) - COUNT(*) AS BIGINT) AS n_revisits,
       CAST(SUM(bytes_all - bytes_one) AS BIGINT) AS bytes_saved,
       MIN(first_ts) AS first_ts, MAX(last_ts) AS last_ts
FROM per_version GROUP BY surt
"""


RECRAWL_MIN_DAYS = 1.0
RECRAWL_MAX_DAYS = 30.0


def recrawl_schedule(
    stats: DataFrame,
    min_days: float = RECRAWL_MIN_DAYS,
    max_days: float = RECRAWL_MAX_DAYS,
) -> DataFrame:
    """Change-rate-driven recrawl planning over revisit_stats output — the
    Cho/Garcia-Molina incremental-crawl policy: capture each URL roughly
    once per observed change period.

    Pinned estimate: change_period_days = capture-span ÷ (n_versions − 1)
    when ≥2 versions were observed over a positive span, else max_days
    (content never seen to change — back off to the slow lane); clamped to
    [min_days, max_days].  next_due = last capture + period, as the same
    14-digit virtual-clock key cdx_records emits, so the output is directly
    sortable/joinable against the index.

    Scale shape: map-only over the (already per-surt) stats — a pure
    column program with no shuffle, no UDF; at 100 TB this chains onto
    revisit_stats' final aggregate inside one stage."""
    first_s = F.unix_timestamp(F.to_timestamp("first_ts", "yyyyMMddHHmmss"))
    last_s = F.unix_timestamp(F.to_timestamp("last_ts", "yyyyMMddHHmmss"))
    span_days = (last_s - first_s).cast("double") / 86_400.0
    observed = (F.col("n_versions") > 1) & (span_days > 0)
    raw = span_days / (F.col("n_versions") - 1).cast("double")
    period = F.when(
        observed, F.least(F.greatest(raw, F.lit(min_days)), F.lit(max_days))
    ).otherwise(F.lit(max_days))
    due_s = last_s + (period * 86_400.0).cast("long")
    return stats.select(
        "surt",
        "n_captures",
        "n_versions",
        F.round(period, 4).alias("change_period_days"),
        F.date_format(F.timestamp_seconds(due_s), "yyyyMMddHHmmss").alias(
            "next_due"
        ),
    )
