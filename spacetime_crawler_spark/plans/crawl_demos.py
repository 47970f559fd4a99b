"""Rows-only driver demos for the crawl-pipeline operators that aren't
ANSI-SQL-expressible (SURVEY.md §2 rows F2/F6/F7/F8/F9): each runs the real
engine operator over a small deterministic synthetic pages world (generated
in-flight, seed-pinned — the sf_dir argument is unused because these
operators' native input is the pages table, not the TPC-H testdata).

Byte-level correctness of these operators is covered by the golden-vector
unit tests and the crawl-vs-oracle differential suite; these entries exist
so the driver exercises the operators end-to-end every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacetime_crawler_spark.operators.politeness import (
    build_robots_rules,
    robots_gate,
    schedule_round,
)
from spacetime_crawler_spark.operators.udfs import (
    canonicalize_udf,
    link_extract_udf,
    text_extract_udf,
)
from spacetime_crawler_spark.plans.crawl import _is_valid_expr, _with_keys
from spacetime_crawler_spark.sources import synth

_DEMO_PAGES = 300


def _demo_world(spark: SparkSession) -> DataFrame:
    p = synth.world("tiny", n_pages=_DEMO_PAGES)
    return synth.generate_pages_df(spark, p)


def f2_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — the Arrow canonicalize UDF over stored urls (10% are noise
    variants; canonical forms collapse them)."""
    pages = _demo_world(spark)
    return pages.select(
        "url", canonicalize_udf("url").alias("url_norm")
    ).orderBy("url")


def f6_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — robots.txt parsing (Arrow UDF) into per-host rules."""
    pages = _demo_world(spark)
    return build_robots_rules(pages).select(
        "host", "crawl_delay", F.size("rules").alias("n_rules")
    ).orderBy("host")


def f7_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — the groupBy(host).applyInPandas priority-queue scheduler over a
    frontier of every page URL at depth 0, budget 5 s."""
    pages = _demo_world(spark)
    frontier = _with_keys(
        pages.filter(F.parse_url("url", F.lit("PATH")) != "/robots.txt")
        .select(canonicalize_udf("url").alias("url_norm"))
        .distinct()
    ).withColumn(
        "host", F.lower(F.parse_url("url_norm", F.lit("HOST")))
    ).withColumn("depth", F.lit(0))
    gated = robots_gate(frontier, build_robots_rules(pages))
    return schedule_round(gated, round_budget_s=5.0).select(
        "host", "url_norm", "fetch_seq", "due_s"
    )


def f8_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — Arrow link extraction + F1 native validity filter."""
    pages = _demo_world(spark).limit(60)
    return (
        pages.select(
            canonicalize_udf("url").alias("url_norm"),
            F.explode(link_extract_udf("html", canonicalize_udf("url"))).alias("link"),
        )
        .withColumn("valid", _is_valid_expr("link"))
        .select("url_norm", "link", "valid")
    )


def f9_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — Arrow text extraction; `matches_stored` exposes the byte-identity
    invariant (engine recomputation ≡ generator's pages.text)."""
    pages = _demo_world(spark).limit(100)
    return pages.select(
        canonicalize_udf("url").alias("url_norm"),
        F.sha2(text_extract_udf("html"), 256).alias("text_sha256"),
        (text_extract_udf("html") == F.col("text")).alias("matches_stored"),
    )
