"""The reference's four course-report analytics (SURVEY.md §2 group A)
computed over the ENGINE's own crawl outputs (fetch_log ⋈ pages), mirroring
what the reference computed over its crawl logs.  The differential test
checks these against tests/reference_impl.report_analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spacetime_crawler_spark.functions.tokenize import SPARK_TOKENS, STOPWORDS


def _fetched_pages(fetch_log: DataFrame, pages_latest: DataFrame) -> DataFrame:
    """Distinct successfully-fetched urls joined back to their text.
    pages_latest is the prepare_pages() output (url_norm, url_hash, html);
    text is recomputed through the F9 UDF — byte-identical to the stored
    column by the engine's core invariant."""
    from spacetime_crawler_spark.operators.udfs import text_extract_udf

    ok = (
        fetch_log.filter(F.col("status") == 200)
        .select("url_norm", "url_hash", "host")
        .distinct()
    )
    return ok.join(
        pages_latest.select(
            "url_norm", "url_hash", text_extract_udf("html").alias("text")
        ),
        ["url_hash", "url_norm"],
    )


def unique_pages(fetch_log: DataFrame) -> DataFrame:
    """A1 — distinct defragmented URLs successfully crawled."""
    return fetch_log.filter(F.col("status") == 200).agg(
        F.countDistinct("url_norm").alias("unique_pages")
    )


def subdomain_histogram(fetch_log: DataFrame) -> DataFrame:
    """A2 — per-host page counts, alphabetical."""
    return (
        fetch_log.filter(F.col("status") == 200)
        .select("host", "url_norm")
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .orderBy("host")
    )


def longest_page(fetch_log: DataFrame, pages_latest: DataFrame) -> DataFrame:
    """A3 — url with the most words (ties → lexicographically first url)."""
    counted = _fetched_pages(fetch_log, pages_latest).select(
        "url_norm", F.expr(f"size({SPARK_TOKENS})").alias("n_words")
    )
    w = Window.orderBy(F.desc("n_words"), F.asc("url_norm"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("url_norm", "n_words")
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Generic PageRank: nodes(node), edges(src, dst) → (node, rank).
    Iterative-algorithm representative of the engine: fixed iteration count
    (deterministic), each step a keyed join + aggregate, per-step
    localCheckpoint so the plan stays O(1) deep, dangling mass redistributed
    uniformly (the standard correction — rank mass is conserved, asserted in
    tests against a pure-Python oracle).

    r6 (guide §5 'the driver should do almost no data work' + §1.2 job
    count): the per-iteration dangling-mass scalar is no longer a blocking
    driver collect — the 1-row dangling aggregate rides the iteration's
    one materializing job as a broadcast-joined scalar, halving the
    sequential per-iteration job count (2 → 1; same-session A/B on
    graph_pagerank at sf0.1: 5.57 → 5.08 s min-of-3, bit-identical
    ranks — the win is bounded here by the 25-node graph's fixed
    stage latency, and grows with the per-job cost of a real cluster's
    driver round-trips)."""
    edges = edges.select("src", "dst").persist()
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    nodes = nodes.select("node").distinct().localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    for _ in range(iters):
        dangling_df = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left")
            .filter(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.col("rank").alias("src_rank"),
                "src",
            )
            .join(out_deg, "src")
            .groupBy("node")
            .agg(F.sum(F.col("src_rank") / F.col("out_deg")).alias("contrib"))
        )
        # same FP evaluation order as the former driver-side
        # `base = (1-d)/n + d*dangling/n` followed by `base + d*contrib`
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .join(F.broadcast(dangling_df))
            .select(
                "node",
                (
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping) * F.col("dangling") / F.lit(float(n))
                    )
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        ranks.unpersist()  # superseded checkpoint — don't pin O(iters×|V|)
        ranks = new_ranks
    edges.unpersist()
    nodes.unpersist()
    return ranks.select("node", F.round("rank", 8).alias("rank")).orderBy(
        F.desc("rank"), F.asc("node")
    )


def common_words(fetch_log: DataFrame, pages_latest: DataFrame, k: int = 50) -> DataFrame:
    """A4 — top-k words over fetched text, stopwords excluded."""
    return (
        _fetched_pages(fetch_log, pages_latest)
        .select(F.explode(F.expr(SPARK_TOKENS)).alias("word"))
        .filter(~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(k)
    )


