"""Robots gate (F6) + per-host politeness scheduler (F7) — SURVEY.md §2.

Reference semantics being re-expressed: the course cache server enforced
robots; each Worker slept POLITENESS seconds between fetches
(crawler/worker.py::Worker.run, config.ini::POLITENESS=0.5 — UNVERIFIED,
SURVEY §0).  Here politeness becomes a per-round budget: host quota =
floor(round_budget_s / crawl_delay(host)), and fetch_seq/due_s record the
virtual schedule (1 fetch per delay).

Scale design:
- robots_rules is per-host (tiny) → broadcast join; the allow/deny
  longest-prefix match runs as a native higher-order aggregate (codegen'd,
  identical semantics to functions/robots.py::robots_allowed).
- The per-host top-quota selection is the skew-dangerous step (Zipf hosts):
  a salted window (host × salt bucket) first caps each bucket at quota, so
  no single task ever sorts a whole hot host's frontier.  Each host's exact
  top quota survives it.
- The mandated groupBy(host).applyInPandas priority queue then makes the
  one per-host cut: it orders each group of ≤S·quota survivors, keeps the
  first quota and assigns fetch_seq/due_s (SURVEY §2 F7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spacetime_crawler_spark.functions.robots import DEFAULT_CRAWL_DELAY
from spacetime_crawler_spark.operators.udfs import robots_parse_udf

SALT_BUCKETS = 8

# the gated columns the scheduler keeps, in SCHEDULE_SCHEMA order
_SCHEDULE_IN = ("host", "url_norm", "url_hash", "h2", "depth", "crawl_delay")
SCHEDULE_SCHEMA = (
    "host string, url_norm string, url_hash bigint, h2 int, depth int,"
    " crawl_delay double, fetch_seq int, due_s double"
)


def latest_capture(captures: DataFrame, key: str) -> DataFrame:
    """One row per `key`: the latest capture (max warc_ts, ties to the
    smallest stored url) — the as-of rule shared by robots rules, the fetch
    join and the offline pages view."""
    w = Window.partitionBy(key).orderBy(F.desc("warc_ts"), F.asc("url"))
    return (
        captures.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def build_robots_rules(pages: DataFrame) -> DataFrame:
    """pages rows at path /robots.txt → robots_rules(host, crawl_delay,
    rules).  Latest capture wins; one row per host; small by construction
    (≤ #hosts) so downstream use is a broadcast join.

    When the pages source carries the writer's `is_robots` partition
    column (sources/synth.py::write_pages_parquet), the filter is pruned
    to the robots partitions — the scan touches ~#hosts rows instead of
    decompressing every page's html (guide §6; measured ≈30 s → <2 s at
    4 cores on the 2M-page bench world).  The parse_url predicate is
    KEPT on top in both branches: is_robots is derived from exactly this
    expression at write time, so results are identical whether or not
    the source has the column (in-memory pages, WARC ingest, and
    pre-existing cached worlds take the unpruned branch)."""
    if "is_robots" in pages.columns:
        pages = pages.filter(F.col("is_robots") == 1)
    robots = pages.filter(F.parse_url("url", F.lit("PATH")) == "/robots.txt")
    latest = latest_capture(
        robots.withColumn("host", F.lower(F.parse_url("url", F.lit("HOST")))),
        "host",
    )
    return latest.select(
        "host", robots_parse_udf("html").alias("parsed")
    ).select(
        "host",
        F.coalesce("parsed.crawl_delay", F.lit(DEFAULT_CRAWL_DELAY)).alias("crawl_delay"),
        F.col("parsed.rules").alias("rules"),
    )


# Native longest-prefix robots match — same fold as robots_allowed():
# strictly-longer prefix wins; equal length prefers allow; no match → allow.
_ALLOWED_EXPR = """
  rules IS NULL OR size(rules) = 0 OR
  aggregate(
    filter(rules, r -> startswith(path, r.prefix)),
    named_struct('len', -1, 'allow', true),
    (best, r) -> if(length(r.prefix) > best.len
                    or (length(r.prefix) = best.len and r.allow),
                    named_struct('len', length(r.prefix), 'allow', r.allow),
                    best)
  ).allow
"""


def robots_gate(frontier: DataFrame, robots_rules: DataFrame) -> DataFrame:
    """Drop disallowed URLs; attach crawl_delay.  Hosts without a robots row
    get allow-all + the default delay (reference POLITENESS)."""
    gated = (
        frontier.join(F.broadcast(robots_rules), "host", "left")
        .withColumn(
            "path",
            F.coalesce(
                F.nullif(F.parse_url("url_norm", F.lit("PATH")), F.lit("")),
                F.lit("/"),
            ),
        )
        .withColumn("allowed", F.expr(_ALLOWED_EXPR))
        .withColumn(
            "crawl_delay", F.coalesce("crawl_delay", F.lit(DEFAULT_CRAWL_DELAY))
        )
    )
    return gated.filter("allowed").drop("path", "allowed", "rules")


def schedule_round(gated: DataFrame, round_budget_s: float) -> DataFrame:
    """Select ≤ quota(host) URLs per host in (depth, url_norm) priority
    order; stamp fetch_seq 1..q and the virtual due time.

    Ordering contract (SURVEY §5.3): the oracle sorts identically, so
    (round, host, fetch_seq) is a total, engine-independent order."""
    quota = F.floor(F.lit(round_budget_s) / F.col("crawl_delay")).cast("int")
    with_quota = gated.withColumn("quota", quota).filter(F.col("quota") >= 1)

    # salted pre-rank: cap each (host, salt) bucket at quota.  A host's
    # top quota rows are each in their bucket's top quota, so they survive.
    salted = Window.partitionBy(
        "host", F.pmod("url_hash", F.lit(SALT_BUCKETS))
    ).orderBy("depth", "url_norm")
    pre = (
        with_quota.withColumn("prn", F.row_number().over(salted))
        .filter(F.col("prn") <= F.col("quota"))
        .drop("prn")
    )

    # the mandated applyInPandas per-host priority queue: groups are
    # ≤ S·quota rows, so pandas materialization is bounded regardless of
    # host skew.  numpy orders the group (lexsort's last key is primary;
    # unicode arrays compare by code point, like Python str), the first
    # quota rows are kept and one frame is built from the ordered columns.
    def assign_schedule(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort((
            pdf["url_norm"].to_numpy(dtype=str), pdf["depth"].to_numpy()
        ))[: pdf["quota"].iat[0]]
        seq = np.arange(1, len(order) + 1)
        out = {c: pdf[c].to_numpy()[order] for c in _SCHEDULE_IN}
        out["fetch_seq"] = seq.astype(np.int32)
        # delay·seq in float64, bitwise equal to the Python float product
        out["due_s"] = pdf["crawl_delay"].iat[0] * seq.astype(np.float64)
        return pd.DataFrame(out)

    return pre.groupBy("host").applyInPandas(
        assign_schedule, schema=SCHEDULE_SCHEMA
    )


def leftover_after_schedule(gated: DataFrame, selected: DataFrame) -> DataFrame:
    """Allowed-but-over-quota URLs stay in the frontier for the next round.
    Anti-join keys lead with the 64-bit url_hash (cheap fixed-width hashing
    on the hot path); url_norm stays in the key so a hash collision can never
    drop a distinct URL.  The rows keep gated's columns; the crawl selects
    the frontier's."""
    return gated.join(
        selected.select("url_hash", "url_norm"),
        ["url_hash", "url_norm"],
        "left_anti",
    )
