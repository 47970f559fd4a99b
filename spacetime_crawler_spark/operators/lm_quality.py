"""CCNet-shaped language-model quality scoring (Wenzek et al. 2020,
arXiv:1911.00359): train a character n-gram LM on a trusted reference
stratum, score every document by its mean per-gram log-probability, and
bucket each language's documents into head / middle / tail terciles —
the standard "keep the head, drop the tail" web-corpus quality gate
(CCNet does this with a KenLM 5-gram over SentencePiece tokens; the
pinned spec here is a char-trigram unigram-of-grams model, which keeps
the whole pipeline inside Spark built-ins).

Scale shape:
- TRAIN is one partial+final hash agg over exploded trigrams (shuffle
  carries one row per DISTINCT gram, not per occurrence).  The model is
  top_v grams by (count DESC, gram ASC) — a bounded-by-construction
  driver collect (top_v rows + a 1-row total), same discipline as the
  pagerank scalar.  Trigram vocab is tiny against any corpus (charset^3
  worst case); top_v is a hard cap so the broadcast stays bounded even
  over 100 TB of CJK text.
- LOG-PROBS are computed ONCE, driver-side, in python, and shipped to
  both engines as data.  ln() is the one op whose last ULP differs
  between the JVM, numpy, and DuckDB's libm; computing it in exactly one
  place — and quantizing to int(logp * 1e12) — removes the only
  cross-engine float hazard.  Integer log-prob sums are exact and
  order-free (DECIMAL(38,0) accumulator), so scores are bit-identical
  on any partitioning.
- SCORE is map-only plus one broadcast hash join: explode_outer the
  gram array (built in a select BELOW the explode — the Generate-
  reprojection trap), left-join the <= top_v-row model broadcast,
  partial+final agg keyed on doc_id.  Text never shuffles; the shuffle
  carries (doc_id, partial count, partial sum) only.
- Unseen grams back off to log(alpha / total), alpha = 0.5 — a fixed
  penalty, not a hidden second model.

The whole spec is ANSI-expressible given the model as a table, so the
test oracle is DuckDB end-to-end: train counts are compared exactly
(integers), then both engines score against the SAME python-built model
(tests/test_lm_quality.py).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOP_V = 50_000
UNK_ALPHA = 0.5
QSCALE = 1_000_000_000_000  # log-prob quantization: int(logp * 1e12)
SEED_MD5_LT = "4"  # demo reference stratum: md5(doc_id) hex < '4' (~1/4)
N_ORDER = 3


def _lowered(docs: DataFrame, text_col: str, *keep) -> DataFrame:
    """Materialize lower(coalesce(text,'')) as its own column BEFORE any
    expression that references it per-gram.  Inlining it into the transform
    lambda re-evaluates the lowercasing once PER GRAM — O(n_chars^2) per
    document (measured 5x on the full pipeline at sf0.1)."""
    return docs.select(
        *keep, F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_t")
    )


def gram_array_sql(text_col: str) -> str:
    """Trigram array over an ALREADY-MATERIALIZED lowered text column (see
    _lowered — pass a plain column, never an expression: every reference
    here is evaluated per gram).  The CASE guard matters: sequence(1, 0)
    is DESCENDING in Spark, so short texts must short-circuit to an empty
    array instead of reaching sequence()."""
    t = text_col
    return (
        f"CASE WHEN length({t}) >= {N_ORDER} THEN "
        f"transform(sequence(1, length({t}) - {N_ORDER - 1}),"
        f" i -> substring({t}, i, {N_ORDER})) "
        f"ELSE array() END"
    )


@dataclass(frozen=True)
class CharLM:
    """A trained model: quantized log-probs for the top_v grams, the
    backoff log-prob for everything else, and the training totals."""

    grams: list[tuple[str, int]]  # (gram, qlogp), qlogp = int(ln(c/total)*1e12)
    unk_qlogp: int
    total: int  # total gram occurrences in the reference stratum
    vocab: int  # distinct grams seen (before the top_v cap)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.grams, schema="gram string, qlogp bigint"
        )


def train_char_lm(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "text",
    top_v: int = TOP_V,
) -> CharLM:
    """Count trigrams over `docs` (the reference corpus — pass a seed
    stratum or a separate trusted table) and build the model driver-side.
    Driver materialization is bounded by construction: one 2-value stats
    row + top_v model rows."""
    grams = _lowered(docs, text_col).select(
        F.expr(gram_array_sql("_t")).alias("g")
    )
    # explode_OUTER + isNotNull, not plain explode: InferFiltersFromGenerate
    # turns a non-outer explode into a size(g) > 0 filter that predicate
    # pushdown then rewrites BELOW the _t projection — with the whole gram
    # lambda (and its per-element lower()) inlined into the filter, undoing
    # the _lowered materialization for every input row
    counts = (
        grams.select(F.explode_outer("g").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts.persist()
    try:
        stats = counts.agg(
            F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
        ).collect()[0]  # bounded: 1 row
        total = int(stats["total"] or 0)
        vocab = int(stats["vocab"])
        if total == 0:
            raise ValueError("reference corpus has no trigrams to train on")
        top = (
            counts.orderBy(F.desc("c"), F.asc("gram"))
            .limit(top_v)
            .collect()
        )  # bounded: top_v rows
    finally:
        counts.unpersist()
    model = [
        (r["gram"], int(math.log(r["c"] / total) * QSCALE)) for r in top
    ]
    unk = int(math.log(UNK_ALPHA / total) * QSCALE)
    return CharLM(grams=model, unk_qlogp=unk, total=total, vocab=vocab)


def lm_quality_score(
    docs: DataFrame,
    model: CharLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, avg_logp) per document.  avg_logp is the mean
    quantized log-prob (ROUND 6dp); NULL when the text is too short to
    contain a single gram.  Higher is better; CCNet's perplexity is the
    monotone transform exp(-avg_logp), so ordering — and therefore the
    head/middle/tail bucketing — is identical without ever calling exp."""
    spark = docs.sparkSession
    model_df = model.to_df(spark)
    # gram array materialized BELOW the explode (Generate re-evaluates
    # post-Generate projections once per generated row), and the lowered
    # text materialized below the gram lambda (see _lowered)
    g = _lowered(docs, text_col, id_col).select(
        F.col(id_col), F.expr(gram_array_sql("_t")).alias("g")
    )
    e = g.select(id_col, F.explode_outer("g").alias("gram"))
    j = e.join(F.broadcast(model_df), "gram", "left")
    q = (
        F.when(
            F.col("gram").isNotNull(),
            F.coalesce(F.col("qlogp"), F.lit(model.unk_qlogp)),
        )
        .cast(T.DecimalType(38, 0))
    )
    return (
        j.groupBy(id_col)
        .agg(F.count("gram").alias("n_grams"), F.sum(q).alias("sq"))
        .select(
            id_col,
            "n_grams",
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.col("sq").cast("double") / QSCALE / F.col("n_grams"), 6
                ),
            ).alias("avg_logp"),
        )
    )


def lm_ppl_buckets(
    scored: DataFrame,
    lang: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's head/middle/tail: per-language terciles of avg_logp
    (ntile(3) over avg_logp DESC, ties broken by id — deterministic
    total order).  Unscoreable docs (n_grams = 0) keep bucket NULL via
    the left join rather than skewing the terciles."""
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("avg_logp"), F.asc(id_col)
    )
    withlang = scored.join(lang.select(id_col, lang_col), id_col, "left")
    buckets = (
        withlang.filter(F.col("n_grams") > 0)
        .withColumn("t", F.ntile(3).over(w))
        .select(
            id_col,
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("t"),
            ).alias("bucket"),
        )
    )
    return withlang.join(buckets, id_col, "left").select(
        id_col, lang_col, "n_grams", "avg_logp", "bucket"
    )


def seed_stratum(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The demo reference corpus: md5(id) hex < SEED_MD5_LT — the engine's
    portable-determinism stratum trick (bit-identical across engines and
    cluster sizes, no RNG)."""
    return docs.filter(
        F.md5(F.col(id_col).cast("string")) < F.lit(SEED_MD5_LT)
    )


