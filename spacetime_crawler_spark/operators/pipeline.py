"""End-to-end training-data curation pipeline — the composite operator a
100 TB corpus pipeline actually runs, wired from the primitives in this
package and value-checked against one DuckDB oracle query:

    documents
      → quality gate   (C4/Gopher-style keep rule — same exprs as
                        text_quality_score)
      → exact dedup    (md5(text) groups, min-doc_id survivor)
      → near-dup prune (capped inverted-index Jaccard pairs; the HIGHER
                        doc_id of each pair ≥ threshold is dropped —
                        deterministic first-writer-wins, mirroring the
                        crawler's URL-seen rule)
      → per-language corpus budget (docs kept, tokens kept)

Every stage is the scale-shaped primitive: the quality gate is map-only and
runs BEFORE any shuffle; exact dedup shuffles a 16-byte hash key, not text;
near-dup pairs come from ngram_jaccard_pairs (hot-shingle-capped, never
quadratic).  One aggregated row per language keeps the driver check
value-stable."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spacetime_crawler_spark.functions.tokenize import DUCK_TOKENS
from spacetime_crawler_spark.operators.dedup import (
    _DEDUP_DOC_LIMIT,
    _DUCK_SHINGLES,
    _JACCARD_THRESHOLD,
    SHINGLE_DF_CAP,
    _finalize,
    ngram_jaccard_pairs,
)
from spacetime_crawler_spark.operators.textstats import (
    DUCK_AVG_TOK_LEN_W,
    DUCK_N_TOKENS_W,
    DUCK_STOP_RATIO_W,
    QUALITY_KEEP_MAX_STOP_RATIO,
    QUALITY_KEEP_MIN_AVG_TOK_LEN,
    QUALITY_KEEP_MIN_TOKENS,
    SPARK_AVG_TOK_LEN,
    SPARK_N_TOKENS,
    SPARK_STOP_RATIO,
)
from spacetime_crawler_spark.sources.tables import load_table


def pipeline_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _DEDUP_DOC_LIMIT
    )
    # quality gate — the SHARED expressions and thresholds from textstats
    # (one source of truth: the rule cannot drift from text_quality_score)
    quality = docs.select(
        "doc_id", "lang", "text",
        F.expr(SPARK_N_TOKENS).alias("n_tokens"),
        F.expr(SPARK_STOP_RATIO).alias("stop_ratio"),
        F.expr(SPARK_AVG_TOK_LEN).alias("avg_tok_len"),
    ).filter(
        (F.col("n_tokens") >= QUALITY_KEEP_MIN_TOKENS)
        & (F.col("stop_ratio") <= QUALITY_KEEP_MAX_STOP_RATIO)
        & (F.col("avg_tok_len") >= QUALITY_KEEP_MIN_AVG_TOK_LEN)
    )
    # exact dedup: min doc_id per text hash survives (narrow shuffle key)
    kept_exact = (
        quality.withColumn(
            "keep_id",
            F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "text", "n_tokens")
    )
    # near-dup prune over the survivors: drop the higher id of each pair
    cleanup: list[DataFrame] = []
    near_b = ngram_jaccard_pairs(
        kept_exact.select("doc_id", "text"), cleanup=cleanup
    ).select(F.col("doc_b").alias("doc_id")).distinct()
    kept = kept_exact.join(near_b, "doc_id", "left_anti")
    out = (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )
    # the result is one tiny row per language: materialize it eagerly and
    # release the shingle-index caches (a long-lived session must not pin
    # them after the query)
    return _finalize(out, cleanup)


PIPELINE_TRAINING_SET_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, text, {DUCK_TOKENS} AS w
  FROM documents WHERE doc_id < {_DEDUP_DOC_LIMIT}
),
q AS (
  SELECT doc_id, lang, text, {DUCK_N_TOKENS_W} AS n_tokens
  FROM base
  WHERE {DUCK_N_TOKENS_W} >= {QUALITY_KEEP_MIN_TOKENS}
    AND {DUCK_STOP_RATIO_W} <= {QUALITY_KEEP_MAX_STOP_RATIO}
    AND {DUCK_AVG_TOK_LEN_W} >= {QUALITY_KEEP_MIN_AVG_TOK_LEN}
),
e AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM q
),
kept AS (SELECT doc_id, lang, text, n_tokens FROM e WHERE doc_id = keep_id),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM kept),
sh AS (SELECT doc_id, unnest(shingles) AS s FROM d),
hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {SHINGLE_DF_CAP}),
idx AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
),
near AS (
  SELECT DISTINCT doc_b
  FROM cand
  JOIN d da ON da.doc_id = doc_a
  JOIN d db ON db.doc_id = doc_b
  WHERE ROUND(
          len(list_intersect(da.shingles, db.shingles)) * 1.0
          / (len(da.shingles) + len(db.shingles)
             - len(list_intersect(da.shingles, db.shingles))), 4)
        >= {_JACCARD_THRESHOLD}
)
SELECT lang,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept
WHERE doc_id NOT IN (SELECT doc_b FROM near)
GROUP BY lang
ORDER BY lang
"""


# --- deterministic stratified sampling ----------------------------------------------

# per-language keep thresholds on the first two hex chars of md5(doc_id) —
# 256 buckets, threshold 'xx' keeps int('xx',16)/256 of the stratum.  md5 is
# bit-identical across Spark and DuckDB (lowercase hex in both), so the
# sampled SET is deterministic and oracle-checkable — no RNG, no seed
# coordination, stable under re-runs and repartitioning.
SAMPLE_RATE_HEX: dict[str, str] = {
    "en": "40",  # 64/256 = 25%  (downsample the majority language)
    "es": "80",  # 50%
    "de": "80",
    "fr": "c0",  # 75%
    "zh": "ff",  # ~100% (keep nearly all of the rarest stratum)
}
_SAMPLE_DEFAULT_HEX = "20"  # unlisted languages: 32/256 = 12.5%


def _sample_bucket_expr(id_col: str) -> str:
    """First two hex chars of md5(id) — a 256-way deterministic bucket that
    computes identically in Spark and DuckDB."""
    return f"substring(md5(cast({id_col} as string)), 1, 2)"


def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sample of the documents table —
    the training-mix primitive (downsample dominant languages, keep rare
    ones).  Map-only: one hash + one CASE per row, no shuffle, fully
    pushdown-friendly; at 100 TB the filter runs inside the scan stage and
    the output is reproducible bit-for-bit on any cluster size."""
    docs = load_table(spark, sf_dir, "documents")
    items = list(SAMPLE_RATE_HEX.items())
    rate = F.when(F.col("lang") == items[0][0], F.lit(items[0][1]))
    for lang, hx in items[1:]:
        rate = rate.when(F.col("lang") == lang, F.lit(hx))
    rate = rate.otherwise(F.lit(_SAMPLE_DEFAULT_HEX))
    bucket = F.expr(_sample_bucket_expr("doc_id"))
    return (
        docs.withColumn("h2x", bucket)
        .filter(F.col("h2x") < rate)
        .select("doc_id", "lang", "h2x")
    )


_SAMPLE_CASE_DUCK = " ".join(
    f"WHEN lang = '{lang}' THEN '{hx}'" for lang, hx in SAMPLE_RATE_HEX.items()
)

PIPELINE_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2x
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < (CASE {_SAMPLE_CASE_DUCK} ELSE '{_SAMPLE_DEFAULT_HEX}' END)
"""


# --- web ingest composite -------------------------------------------------------

def pipeline_web_ingest(pages: DataFrame) -> DataFrame:
    """Raw crawled/WARC pages → training-ready documents: the composite
    that ties the crawl surface to the curation surface.

        pages (url, html, …)
          → boilerplate removal  (strip_boilerplate — link-density rule)
          → PII redaction        (redact_pii — <EMAIL>/<IP>/<PHONE>)
          → C4 line cleaning     (clean_lines_c4 — terminal punctuation,
                                  ≥5 words, no javascript; doc floor)
          → language annotation  (annotate_lang — reliable-only, else NULL)

    emitting (url, lang, text, n_tokens) ready for the dedup stages of
    pipeline_training_set.

    Input is one capture per url (crawl/F5 output); revisit collapsing is
    the as-of join's job, not re-done here.  Note the synthetic world's
    pages are punctuation-free word soup, so over synth input the C4
    stage correctly drops everything — the non-vacuous end-to-end check
    is the crafted HTML fixture in tests/test_cleaning.py.

    Scale shape: every stage is map-only (one Arrow crossing for the HTML
    parse, then native exprs) — the whole composite runs inside the scan
    stage with zero shuffles, so at 100 TB it is IO-bound by
    construction.  Cross-engine pinned end-to-end: the test recomputes
    the full chain as pure-python extract_main_content → DuckDB
    REDACT_PII_SQL → DuckDB CLEAN_LINES_SQL and hash-compares
    (tests/test_cleaning.py)."""
    from spacetime_crawler_spark.operators.cleaning import (
        clean_lines_c4,
        redact_pii,
        strip_boilerplate,
    )
    from spacetime_crawler_spark.operators.textstats import annotate_lang

    # strip_boilerplate carries the single-eval pushdown barrier (see its
    # docstring): clean_lines_c4's doc-floor Filter cannot make Catalyst
    # parse each page twice (the plan test pins exactly one ArrowEvalPython).
    main = strip_boilerplate(pages).select(
        F.col("url").alias("doc_id"), F.col("text_main").alias("text")
    )
    red = redact_pii(main).select(
        "doc_id", F.col("text_redacted").alias("text")
    )
    cleaned = clean_lines_c4(red).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    out = annotate_lang(cleaned, text_col="text", lang_col="lang")
    return out.select(
        F.col("doc_id").alias("url"),
        "lang",
        "text",
        F.expr(SPARK_N_TOKENS).alias("n_tokens"),
    )
