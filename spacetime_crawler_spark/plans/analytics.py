"""Report analytics (SURVEY.md §2 group A) + the general operator surface
demos (group G), each as a (spark, sf_dir) -> DataFrame builder with a
matching DuckDB oracle SQL string.

Parity rules that make the driver's order-insensitive value-hash comparison
hold (see __spark_entry__.py docstring):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- double aggregates are ROUNDed on both sides (float summation order);
- timestamps are never returned raw — converted to epoch micros or a
  formatted string on both sides;
- token split regex + stopword list come from ONE pinned definition
  (functions/tokenize.py).

The group-A functions here read only the driver testdata (FIXTURES.md §B),
so DuckDB can check them; they never read the crawl engine's tables.  The
reports over a crawl's `fetch_log` ⋈ `pages` are separate implementations
in plans/crawl_reports.py; the two modules share only the generic
pagerank() kernel that graph_pagerank calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spacetime_crawler_spark.functions.tokenize import (
    DUCK_TOKENS,
    SPARK_TOKENS,
    STOPWORDS,
    sql_stopword_list,
)
from spacetime_crawler_spark.sources.tables import load_table, spread

# Shared sub-expressions -----------------------------------------------------



# A1 — unique pages (reference report Q1: distinct defragmented URLs) --------

def a1_unique_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(F.countDistinct("source").alias("unique_pages"))


A1_SQL = "SELECT COUNT(DISTINCT source) AS unique_pages FROM documents"


# A2 — subdomain histogram ----------------------------------------------------

def a2_subdomain_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")


A2_SQL = (
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"
    " ORDER BY event_type"
)


# A3 — longest page (argmax words) --------------------------------------------

def a3_longest_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the tokenize feeding the ranking window is the whole cost
    docs = spread(load_table(spark, sf_dir, "documents"))
    with_n = docs.select(
        "doc_id", F.expr(f"size({SPARK_TOKENS})").alias("n_words")
    )
    w = Window.orderBy(F.desc("n_words"), F.asc("doc_id"))
    return (
        with_n.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_words")
    )


A3_SQL = f"""
WITH counted AS (
  -- CAST: Spark size() is INT32; keep schemas identical
  SELECT doc_id, CAST(len({DUCK_TOKENS}) AS INT) AS n_words FROM documents
)
SELECT doc_id, n_words FROM (
  SELECT doc_id, n_words,
         row_number() OVER (ORDER BY n_words DESC, doc_id ASC) AS rn
  FROM counted
) WHERE rn = 1
"""


# A4 — common words (top-50 excl. stopwords) — the flagship query -------------

def a4_common_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: tokenize+explode+partial-agg is the whole cost; the driver
    # testdata's one-row-group parquet otherwise runs it on a single core
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(F.expr(SPARK_TOKENS)).alias("word"))
        .filter(~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


A4_SQL = f"""
WITH toks AS (
  SELECT unnest({DUCK_TOKENS}) AS word FROM documents
)
SELECT word, COUNT(*) AS n FROM toks
WHERE word NOT IN ({sql_stopword_list()})
GROUP BY word ORDER BY n DESC, word ASC LIMIT 50
"""


# A5 — rollup stats (crawl depth per round in production) ---------------------

def a5_crawl_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


A5_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


# A6 — host link graph (3-way equi-join + agg) --------------------------------

def a6_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 shape (guide §3.1 'pick the join strategy deliberately'): the
    customer broadcast moves BELOW the big join, so the orderkey exchange
    carries a two-column (o_orderkey, c_mktsegment) projection of orders
    instead of orders' full width, and the orderkey join takes a
    shuffled-hash build on that narrow orders side — neither 10^6-row
    side is sorted (SortMergeJoin → ShuffledHashJoin; measured 1.37 s →
    0.98 s min-of-3 at sf1.0).  A lineitem pre-aggregation by (orderkey,
    returnflag) was tried and REJECTED: ~3.5M distinct groups out of 6M
    rows means the extra hash-aggregate pass costs more than the ~40%
    exchange-row saving (measured 1.67 s), and broadcasting the 1.5M-row
    orders projection was also slower (1.6 s — the broadcast build
    serializes on the driver)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    orders_seg = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "c_mktsegment")
    return (
        li.join(
            orders_seg.hint("shuffle_hash"),
            li.l_orderkey == orders_seg.o_orderkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("src"),
            F.col("l_returnflag").alias("dst"),
        )
        .agg(
            F.count("*").alias("n_edges"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


A6_SQL = """
SELECT c_mktsegment AS src, l_returnflag AS dst, COUNT(*) AS n_edges,
       ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


# graph_pagerank — iterative fixpoint over a testdata-derived graph ----------

def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph: a distinct edge cust-nation →
    supp-nation for every lineitem whose customer and supplier sit in
    different nations; all 25 nations are vertices (isolated ones exercise
    the dangling-mass path).  The driver check is rows-only (iterative
    fixpoint isn't ANSI SQL); tests/test_crawl_reports.py pins the SAME
    generic pagerank() kernel against a pure-Python oracle, and
    tests/test_plans.py pins this query's edge set + mass conservation."""
    from spacetime_crawler_spark.plans.crawl_reports import pagerank

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n_src = nation.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("src")
    )
    n_dst = nation.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("dst")
    )
    edges = (
        li.select("l_orderkey", "l_suppkey")
        # shuffled-hash build on the narrow orders projection — same
        # strategy pick as a6 (no sort of either million-row side)
        .join(orders.select("o_orderkey", "o_custkey").hint("shuffle_hash"),
              li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_src), "c_nationkey")
        .join(F.broadcast(n_dst), "s_nationkey")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = nation.select(F.col("n_name").alias("node"))
    return pagerank(nodes, edges)


# F1 demo — native (pushable) URL-validity-style predicate --------------------

def f1_urlfilter_is_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang").isin("en", "es"))
        .filter(~F.col("source").rlike("[13579]$"))
        .select("doc_id", "source", "lang")
    )


F1_SQL = """
SELECT doc_id, source, lang FROM documents
WHERE lang IN ('en', 'es') AND NOT regexp_matches(source, '[13579]$')
"""


# F3 demo — URL-seen-style left-anti join --------------------------------------

def f3_urlseen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    seen = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    return (
        orders.join(seen, orders.o_custkey == seen.c_custkey, "left_anti")
        .select("o_orderkey", "o_custkey")
    )


F3_SQL = """
SELECT o_orderkey, o_custkey FROM orders
WHERE NOT EXISTS (
  SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal < 0
)
"""


def f3b_already_fetched_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-semi ('already fetched' check shape — SURVEY §2 group G)."""
    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        orders.join(rich, orders.o_custkey == rich.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey")
    )


F3B_SQL = """
SELECT o_orderkey, o_custkey FROM orders
WHERE EXISTS (
  SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 5000
)
"""


# F4/F7 demo — per-key top-k via window ranking --------------------------------

def f4_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


F4_SQL = """
SELECT user_id, event_id, CAST(rn AS INT) AS rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 3
"""


# F5 demo — as-of (latest row per key) -----------------------------------------

def f5_asof_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    )


F5_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# F11 demo — union + dedup (frontier merge shape) --------------------------------

def f11_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    half_a = orders.filter((F.col("o_orderkey") % 2 == 0) | (F.col("o_orderkey") % 3 == 0))
    half_b = orders.filter((F.col("o_orderkey") % 2 == 1) | (F.col("o_orderkey") % 3 == 0))
    return (
        half_a.unionByName(half_b)
        .distinct()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


F11_SQL = """
WITH merged AS (
  SELECT DISTINCT * FROM (
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey % 2 = 1 OR o_orderkey % 3 = 0
  )
)
SELECT o_orderstatus, COUNT(*) AS n FROM merged GROUP BY o_orderstatus
"""


# G — set-ops: exceptAll / intersectAll (round-diff shape) -----------------------

def g_setops_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    half_a = orders.filter((F.col("o_orderkey") % 2 == 0) | (F.col("o_orderkey") % 3 == 0))
    half_b = orders.filter((F.col("o_orderkey") % 2 == 1) | (F.col("o_orderkey") % 3 == 0))
    tagged = half_a.exceptAll(half_b).withColumn("op", F.lit("except")).unionByName(
        half_a.intersectAll(half_b).withColumn("op", F.lit("intersect"))
    )
    return tagged.groupBy("op", "o_orderstatus").agg(F.count("*").alias("n"))


G_SETOPS_SQL = """
WITH a AS (SELECT o_orderkey, o_orderstatus FROM orders
           WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
     b AS (SELECT o_orderkey, o_orderstatus FROM orders
           WHERE o_orderkey % 2 = 1 OR o_orderkey % 3 = 0),
     tagged AS (
       SELECT *, 'except' AS op FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
       UNION ALL
       SELECT *, 'intersect' AS op FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
     )
SELECT op, o_orderstatus, COUNT(*) AS n FROM tagged GROUP BY op, o_orderstatus
"""


# G — JSON scalar extraction ----------------------------------------------------

def g_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


G_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1
"""


# G — cube grouping sets ---------------------------------------------------------

def g_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_mod", (F.col("user_id") % 3).cast("int")
    )
    return ev.cube("event_type", "user_mod").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


G_CUBE_SQL = """
SELECT event_type, CAST(user_id % 3 AS INT) AS user_mod, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY CUBE (event_type, CAST(user_id % 3 AS INT))
"""


# G — string functions ------------------------------------------------------------

def g_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.substring("source", 4, 100).cast("long") % 7 == 0)
        .select(
            "doc_id",
            F.concat_ws("-", F.col("lang"), F.col("source")).alias("tag"),
            F.length("text").alias("text_len"),
            F.upper("lang").alias("lang_uc"),
        )
    )


G_STRING_SQL = """
SELECT doc_id, concat_ws('-', lang, source) AS tag, LENGTH(text) AS text_len,
       UPPER(lang) AS lang_uc
FROM documents WHERE CAST(substr(source, 4) AS BIGINT) % 7 = 0
"""


# G — date/time bucketing ----------------------------------------------------------

def g_datetime_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
            "o_totalprice",
        )
        .groupBy("month")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("month")
    )


G_DATETIME_SQL = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1 ORDER BY month
"""


# G — pivot (wide report shape) ------------------------------------------------------

def g_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() — oracle expressed as conditional aggregation
    (identical results, portable SQL)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .orderBy("o_orderpriority")
    )


G_PIVOT_SQL = """
SELECT o_orderpriority,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
       ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
       ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# G — window running aggregate ------------------------------------------------------

def g_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("run_sum"),
    )


G_WINDOW_SQL = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
FROM events
"""
