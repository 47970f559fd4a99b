"""Deduplication operators for the training-data pipeline tier: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

All hot-path math stays JVM-side (built-in higher-order functions, xxhash64,
joins) — no Python UDFs anywhere in this module.  Scale design notes per
operator are in the docstrings; the MinHash/LSH path is the 100 TB route
(candidate generation is a band-bucket equi-join, never an all-pairs cross
join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacetime_crawler_spark.functions.tokenize import DUCK_TOKENS, SPARK_TOKENS
from spacetime_crawler_spark.operators.similarity import _SPARK_COS
from spacetime_crawler_spark.sources.tables import load_table, spread

# Word-bigram shingles, distinct per doc.  Bigrams (not 3-grams) because the
# synthetic corpus is short random-word docs; the planted near-dup pairs sit
# at Jaccard ≥ 0.95 while the background tops out ≈0.12 (measured at sf0.01),
# so threshold 0.5 separates cleanly.
_JACCARD_THRESHOLD = 0.5
_DEDUP_DOC_LIMIT = 1000  # bound the all-pairs verify at bench scale

# Hot-key frequency caps — the self-join quadratic guards.  A shingle shared
# by f docs contributes f·(f−1)/2 candidate rows: boilerplate (a footer on
# 10^7 pages) makes one key quadratic at corpus scale.  Keys above the cap
# are dropped from CANDIDATE GENERATION only — scores still come from the
# full shingle sets, so surviving pairs keep their exact Jaccard.  The
# traded-away recall is precisely "pairs whose only overlap is boilerplate",
# which near-dup dedup wants to ignore anyway (the cap is the standard move
# in MinHash pipelines, e.g. spark.ml MinHashLSH users bound bucket sizes).
SHINGLE_DF_CAP = 100  # max docs a shingle may appear in and still seed pairs
LSH_BUCKET_CAP = 50  # max docs per (band, bucket) joined all-pairs
# (the former _HOT_BROADCAST_MAX gate is gone: AQE picks broadcast vs
# shuffled for the cold/hot index split from runtime stats, so the split
# needs no driver-side sizing job)

# NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — short docs
# must be guarded explicitly (DuckDB's generate_series(1, 0) is []).
# Two-step projection (tokens first, shingles from the `toks` column) so the
# tokenize expression is evaluated once per row, not once per sub-reference.
_SPARK_SHINGLES_FROM_TOKS = (
    "case when size(toks) < 2 then array() "
    "else array_distinct(transform(sequence(1, size(toks) - 1),"
    " i -> concat_ws(' ', slice(toks, i, 2)))) end"
)
_SPARK_SHINGLES = _SPARK_SHINGLES_FROM_TOKS.replace("toks", f"({SPARK_TOKENS})")
_DUCK_SHINGLES = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({DUCK_TOKENS}) - 1, 0)),"
    f" i -> {DUCK_TOKENS}[i] || ' ' || {DUCK_TOKENS}[i+1]))"
)


# --- exact dedup --------------------------------------------------------------

def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup corpus stats: hash-aggregate over full text.  At 100 TB the
    same shape runs over sha2(text) instead of raw text to keep shuffle rows
    narrow; here text is small so the direct distinct is fine."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique_text"),
        (F.count("*") - F.countDistinct("text")).alias("n_exact_dups"),
    )


DEDUP_EXACT_STATS_SQL = """
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_unique_text,
       COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups
FROM documents
"""


# --- n-gram Jaccard (exact verify path) ----------------------------------------

def _shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, shingles ARRAY<STRING>)."""
    return docs.select(
        "doc_id", F.expr(SPARK_TOKENS).alias("toks")
    ).select("doc_id", F.expr(_SPARK_SHINGLES_FROM_TOKS).alias("shingles"))


def _score_candidates(candidates: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidates → exact Jaccard from the FULL shingle sets
    (scores are never affected by candidate-generation caps)."""
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _finalize(result: DataFrame, persists: list[DataFrame]) -> DataFrame:
    """Materialize a SMALL final result eagerly (localCheckpoint), then
    release the intermediate cached blocks — without this every invocation
    in a long-lived session (driver harness, bench, composites) permanently
    pins the shingle/index caches.  Registry-facing wrappers use this;
    callers that want the lazy plan call the *_pairs functions directly
    (optionally passing their own cleanup list).

    coalesce(1) before the checkpoint: the result is tiny by contract
    (pairs above threshold / one row per language), so materializing one
    block instead of shuffle_partitions mostly-empty blocks removes both
    block-manager churn in the eager job and per-partition task overhead
    in every downstream action (r6 guide §1 measurement: first-trial
    6.5 s → 1.6 s on dedup_ngram_jaccard in a cold session, identical
    min-of-4 and identical rows; a full no-persist lazy variant was tried
    and REJECTED — recomputing the shingle subtree per consumer measured
    8–10 s, see OPTIMIZATION_r06.md)."""
    out = result.coalesce(1).localCheckpoint(eager=True)
    for df in persists:
        df.unpersist(blocking=False)
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_df_cap: int = SHINGLE_DF_CAP,
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over any (doc_id, text) DataFrame via an
    inverted-index self-join (explode → equi-join on shingle → count), NOT a
    cross join.  Only shingles with document frequency ≤ shingle_df_cap seed
    pairs (see SHINGLE_DF_CAP — no key ever goes quadratic); the surviving
    pairs' scores are still EXACT full-set Jaccard: the hot shingles' overlap
    is added back per candidate pair via doc-keyed joins (bounded by the
    candidate count × hot-shingles-per-doc — never a hot-shingle self-join,
    and never a per-pair array re-intersection, which measured 3× slower).
    This is the ground-truth verifier that MinHash candidates are checked
    against."""
    sh = _shingle_docs(docs).persist()  # consumed by index + sizes
    if cleanup is not None:
        cleanup.append(sh)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    # the HOT-shingle set via a hash aggregate: map-side partial aggregation
    # collapses duplicate shingles before the shuffle, and only the ≤
    # |distinct s| counts move — measured faster than the earlier
    # window-over-s variant, which had to SORT every index partition to
    # attach a per-row df (the window pass cost ~10% of the whole query on
    # a corpus with no hot shingles at all)
    hot = (
        exploded.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > shingle_df_cap)
        .select("s")
    )
    # ONE declarative plan, no driver-side `hot.count()` branch: the old
    # design ran a full explode+aggregate job up front just to decide (a)
    # broadcast vs shuffled split and (b) whether to include the hot-
    # correction joins at all — both decisions AQE makes from runtime stats
    # (hot is bounded by |corpus|/cap so it broadcasts; an EMPTY hot
    # propagates through AQE's empty-relation rule and the correction
    # joins collapse to nothing).  The identical hot subplan on the anti
    # and semi sides shares one exchange via ReuseExchange, so the df
    # aggregation runs once, inside the same job as everything else.
    idx = exploded.join(hot, "s", "left_anti")
    hot_idx = exploded.join(hot, "s", "left_semi")
    a = idx.alias("a")
    b = idx.alias("b")
    cold = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common_cold"))
        # NB cold feeds two consumers (the hot-overlap probe list and the
        # final left join); measured: persisting it here is a net LOSS
        # (2.26 s → 2.49 s min-of-4 at sf0.1) — AQE's runtime stage cache
        # already reuses the duplicated exchanges, and the persist adds a
        # materialization barrier
    )
    # hot-overlap correction, only for candidate pairs, keyed on doc ids
    ha = hot_idx.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("hs"))
    hb = hot_idx.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("hs"))
    hot_common = (
        cold.select("doc_a", "doc_b")
        .join(ha, "doc_a")
        .join(hb, ["doc_b", "hs"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common_hot"))
    )
    pairs = cold.join(hot_common, ["doc_a", "doc_b"], "left").withColumn(
        "common",
        F.col("common_cold") + F.coalesce(F.col("common_hot"), F.lit(0)),
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        # no forced broadcast: sizes is one row per doc, so on an unbounded
        # corpus AQE must be free to pick a shuffled join; it still
        # broadcasts when the corpus is small
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    cleanup: list[DataFrame] = []
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < _DEDUP_DOC_LIMIT
        ),
        cleanup=cleanup,
    )
    return _finalize(pairs, cleanup)


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM documents WHERE doc_id < {_DEDUP_DOC_LIMIT}
),
sh AS (SELECT doc_id, unnest(shingles) AS s FROM d),
hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {SHINGLE_DF_CAP}),
idx AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         len(list_intersect(da.shingles, db.shingles)) AS common,
         len(da.shingles) AS n_a, len(db.shingles) AS n_b
  FROM cand
  JOIN d da ON da.doc_id = doc_a
  JOIN d db ON db.doc_id = doc_b
)
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (n_a + n_b - common), 4) AS jaccard
FROM scored
WHERE ROUND(common * 1.0 / (n_a + n_b - common), 4) >= {_JACCARD_THRESHOLD}
"""


# --- MinHash + LSH (the scale path) --------------------------------------------

MINHASH_NUM_PERM = 32
LSH_BANDS = 8  # 8 bands × 4 rows; s-curve threshold ≈ (1/8)^(1/4) ≈ 0.59
# Mersenne-31 field: with a, b, h < 2^31, a·h + b < 2^62 — no int64 overflow
# under Spark 4's default ANSI arithmetic.
_MERSENNE = (1 << 31) - 1


def _minhash_signatures(sh: DataFrame, num_perm: int = MINHASH_NUM_PERM) -> DataFrame:
    """(doc_id, shingles) → (doc_id, sig ARRAY<BIGINT>[num_perm]).

    Single-pass shape: explode shingles → base hash h = pmod(xxhash64, p)
    computed ONCE per shingle → groupBy(doc_id) with num_perm independent
    min(pmod(a_i·h + b_i, p)) aggregates.  All codegen'd columnar work with
    map-side partial aggregation, so the shuffle carries only num_perm
    longs per doc.  (A first cut used nested HOFs over the shingle array —
    it re-evaluated the tokenize+shingle expression per permutation and ran
    ~30× slower; explode+partial-agg is the scale-correct form.)"""
    # Deterministic coefficients per permutation (pinned, seed-free), reduced
    # into the Mersenne-31 field (a·h + b < 2^62: no ANSI int64 overflow).
    a_coefs = [(2 * p * 0x9E3779B9 + 1) % _MERSENNE or 1 for p in range(1, num_perm + 1)]
    b_coefs = [(p * 0x85EBCA6B + 7) % _MERSENNE for p in range(1, num_perm + 1)]
    hashed = sh.filter(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("s")
    ).select(
        "doc_id", F.expr(f"pmod(xxhash64(s), {_MERSENNE}L)").alias("h")
    )
    aggs = [
        F.min(F.expr(f"pmod({a}L * h + {b}L, {_MERSENNE}L)")).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(a_coefs, b_coefs))
    ]
    return hashed.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig")
    )


def _capped_bands(sigs: DataFrame, bucket_cap: int) -> DataFrame:
    """(doc_id, sig) → (doc_id, band, bucket) rows with overfull
    (band, bucket) groups removed — the SECOND half of the candidate-
    generation policy (the first is _band_bucket_expr).  Bucket sizes come
    from a window over the SAME (band, bucket) exchange the downstream join
    uses — no separate groupBy + anti-join passes."""
    from pyspark.sql import Window

    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(_band_bucket_expr("sig"))).alias("band", "bucket"),
    )
    return (
        bands.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        )
        .filter(F.col("n") <= bucket_cap)
        .drop("n")
    )


def _band_bucket_expr(
    sig_col: str = "sig",
    bands: int = LSH_BANDS,
    num_perm: int = MINHASH_NUM_PERM,
) -> str:
    """ARRAY<BIGINT>[bands] of band-bucket codes from a signature column —
    the ONE place the banding rule lives."""
    rows = num_perm // bands
    return (
        f"transform(sequence(0, {bands - 1}),"
        f" b -> xxhash64(concat_ws(',', slice({sig_col}, b * {rows} + 1, {rows}))))"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    bucket_cap: int = LSH_BUCKET_CAP,
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over any (doc_id, text) DataFrame,
    verified: signatures → band buckets → bucket equi-join for candidates →
    exact Jaccard on candidates only.

    Scale shape: the only shuffles are (1) the band-bucket groupBy-join —
    buckets larger than bucket_cap (boilerplate collapse: near-identical
    docs all landing in one bucket) are excluded from the all-pairs join so
    no bucket goes quadratic (see LSH_BUCKET_CAP) — and (2) the candidate
    verify join; both keyed, never all-pairs.  Driver check is rows-only
    (sketches aren't ANSI SQL); tests/test_dedup.py asserts this returns
    exactly the same pairs as dedup_ngram_jaccard (recall=1 at threshold 0.5
    given the LSH s-curve)."""
    sh = _shingle_docs(docs).persist()  # consumed 3×: sigs + both verify sides
    if cleanup is not None:
        cleanup.append(sh)
    sigs = _minhash_signatures(sh)
    cold = _capped_bands(sigs, bucket_cap)
    a = cold.alias("a")
    b = cold.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verify on the (small) candidate set only.
    return _score_candidates(candidates, sh)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cleanup: list[DataFrame] = []
    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < _DEDUP_DOC_LIMIT
        ),
        cleanup=cleanup,
    )
    return _finalize(pairs, cleanup)


# --- near-dup clusters (connected components) --------------------------------------

def connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(doc_a, doc_b) pair edges → (doc_id, component) with component =
    min doc_id reachable — the grouping step a dedup pipeline runs AFTER
    pair generation (keep one doc per component, not per pair: pairs (1,2),
    (2,3) must collapse to ONE survivor, which pairwise pruning misses).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbours; converges in
    O(component diameter) rounds — near-dup clusters are hubs-and-spokes
    (diameter ≲ 4), so few iterations suffice; iteration stops EARLY via an
    isEmpty probe on the changed set, and each round materializes ≤|V| rows
    via localCheckpoint so the plan never grows superlinearly (the classic
    Spark iterative-algorithm discipline).  Label propagation is the
    shuffle-friendly form of union-find: no driver-side state, every step
    a keyed join."""
    both = edges.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    ).distinct().persist()
    labels = (
        both.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        neighbour_min = (
            both.join(labels, both.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbour_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "component", F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        converged = updated.filter(F.col("changed")).isEmpty()
        labels.unpersist()  # superseded checkpoint — don't pin O(iters×|V|)
        labels = updated.drop("changed")
        if converged:
            break
    both.unpersist()
    if not converged:
        # silently returning split components would under-deduplicate;
        # exhaustion means a component with diameter > max_iters exists
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
            " — raise max_iters (label propagation needs O(component"
            " diameter) rounds)"
        )
    return labels


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the documents table: Jaccard pair edges →
    connected components → one row per non-trivial cluster with its
    first-writer survivor and member count.  Rows-only driver check
    (iterative fixpoint isn't ANSI SQL); tests pin equality against a pure
    union-find oracle."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .select("component", "n_docs", "keep_doc_id")
    )


# --- SimHash ---------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from distinct word-bigram shingle
    xxhash64 values (unigrams are degenerate on a small-vocabulary corpus:
    every long doc contains nearly the whole vocab, so unigram SimHashes
    collide — measured background Hamming hit 0 at sf0.01).

    bit_i(doc) = 1 iff Σ_shingles (2·getbit(h,i) − 1) > 0.  Computed with a
    single higher-order aggregate per row — O(shingles·64) JVM-side, no
    shuffle at all (embarrassingly parallel over docs).  Rows-only driver
    check; tests assert planted near-dups have small Hamming distance."""
    docs = load_table(spark, sf_dir, "documents")
    counts_expr = f"""
      aggregate(
        transform({_SPARK_SHINGLES}, t -> xxhash64(t)),
        array_repeat(0L, 64),
        (acc, h) -> zip_with(acc, sequence(0, 63),
                             (a, i) -> a + 2 * getbit(h, i) - 1)
      )
    """
    simhash_expr = f"""
      aggregate(
        zip_with({counts_expr}, sequence(0, 63),
                 (c, i) -> if(c > 0, shiftleft(1L, cast(i as int)), 0L)),
        0L, (s, x) -> s | x
      )
    """
    return docs.select("doc_id", F.expr(simhash_expr).alias("simhash"))


# --- embedding-cosine near-dup -----------------------------------------------------

_COSINE_DUP_THRESHOLD = 0.4
_COSINE_DOC_LIMIT = 400  # bound the verify pairs at bench scale


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold over a bounded id
    range (the exact verify path; LSH bucketing in similarity.py is the
    candidate generator at scale).  Join is a self range-join on vec_id with
    the small side broadcast.  spread(min_bytes=0) on the PROBE side only
    (same policy as the similarity paths — extreme per-byte work): the
    nested-loop probe evaluates |a|·|b|/2 triple-HOF cosines, and the
    one-row-group scan would run them all on a single core (measured
    2.58 s → 0.52 s min-of-2 at sf0.1); the broadcast side stays an
    unspread scan so its vec_id filter pushes down."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _COSINE_DOC_LIMIT
    )
    a = spread(emb, min_bytes=0).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    cos = _SPARK_COS.format(a="ea", b="eb")
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(F.expr(cos), 4))
        .filter(F.col("cos_sim") >= _COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE vec_id < {_COSINE_DOC_LIMIT}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= {_COSINE_DUP_THRESHOLD}
"""


# --- span-level (sub-document) dedup + decontamination ------------------------------

# Non-overlapping SPAN_TOKENS-token windows, keyed by md5 of the joined
# span text.  md5 (not xxhash64) because it computes bit-identically in
# DuckDB, making both operators below fully oracle-checkable; the 32-char
# key is also narrower than the span text itself, so the shuffle carries
# hashes, not prose — the same width win a production xxhash64 key gives.
SPAN_TOKENS = 8

# ONE copy of the window arithmetic per engine, parameterized over the
# token-array variable and the per-window item expression — dedup_span_stats
# (md5 signal keys over lowercased tokens) and remove_duplicate_spans (raw
# window text over case-preserving tokens) must never desynchronize.
def _spark_span_windows(var: str, item: str) -> str:
    s = SPAN_TOKENS
    return (
        f"case when size({var}) = 0 then array() else"
        f" transform(sequence(0, cast(floor((size({var}) - 1) / {s}) as int)),"
        f" i -> {item}) end"
    )


def _duck_span_windows(var: str, item: str) -> str:
    s = SPAN_TOKENS
    return (
        f"CASE WHEN len({var}) = 0 THEN [] ELSE"
        f" list_transform(generate_series(0, CAST(floor((len({var}) - 1) / {s}) AS INT)),"
        f" i -> {item}) END"
    )


def _duck_span_slice(var: str) -> str:
    s = SPAN_TOKENS
    return f"array_to_string({var}[i * {s} + 1 : i * {s} + {s}], ' ')"


_SPARK_SPAN_SLICE = f"concat_ws(' ', slice(t, i * {SPAN_TOKENS} + 1, {SPAN_TOKENS}))"
_SPARK_SPANS = _spark_span_windows("t", f"md5({_SPARK_SPAN_SLICE})")
_DUCK_SPANS = _duck_span_windows("w", f"md5({_duck_span_slice('w')})")


def _doc_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, span) — one row per non-overlapping token window."""
    return docs.select(
        "doc_id", F.expr(SPARK_TOKENS).alias("t")
    ).select("doc_id", F.explode(F.expr(_SPARK_SPANS)).alias("span"))


def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sub-document duplication signal (the C4-style 'repeated
    span' filter shape): corpus-wide occurrence count per span, then each
    doc's fraction of spans that occur more than once anywhere.  Plan:
    explode → hash aggregate on the 32-char span key (map-side partial
    combine collapses within-partition repeats) → broadcast-eligible join
    of the DUPLICATED span set back onto the doc spans → per-doc
    aggregate.  At 100 TB the duplicated-span set is the small side by
    construction (boilerplate concentrates), and no stage ever holds a
    doc's full text after the first projection.

    r6: spread() parallelizes the tokenize+md5+explode past the
    one-row-group scan (measured 1.36 s → ~0.7 s at sf1.0).  A
    restructure to map-only per-doc totals + an inner-join hit count was
    tried and REJECTED (4.7 s): the totals branch re-evaluates the md5
    window construction over every doc for nothing, while here the r5
    left-join shape computes spans once per branch and its per-doc
    aggregate collapses map-side."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    spans = _doc_spans(docs)
    dup_spans = (
        spans.groupBy("span")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") > 1)
        .select("span")
    )
    flagged = spans.join(
        dup_spans.withColumn("is_dup", F.lit(1)), "span", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
        )
        .orderBy("doc_id")
    )


DEDUP_SPAN_STATS_SQL = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS w FROM documents),
s AS (SELECT doc_id, unnest({_DUCK_SPANS}) AS span FROM t),
d AS (SELECT span FROM s GROUP BY span HAVING COUNT(*) > 1)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       ROUND(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS dup_ratio
FROM s LEFT JOIN d ON s.span = d.span
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# the pinned synthetic "benchmark" stratum: every 8th doc UP TO the cap
# plays the role of a held-out eval set the training corpus must be
# decontaminated against.  The modulus is chosen so the planted near-dup
# structure actually produces contaminated docs at both test scales (a
# 0-row demo proves nothing); the cap pins the invariant that makes the
# operator's broadcast safe — a benchmark is a FIXED-SIZE artifact, so the
# eval span set is bounded by construction (≤ cap docs × spans/doc), never
# an O(corpus) fraction, no matter how big the training corpus grows.
EVAL_DOC_MODULUS = 8
EVAL_DOC_LIMIT = 10_000


def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ANY
    SPAN_TOKENS-token span with the eval stratum (doc_id ≡ 0 mod
    EVAL_DOC_MODULUS, doc_id < EVAL_DOC_LIMIT).  Returns
    (doc_id, n_eval_hits) for contaminated non-eval docs.  Plan: the eval
    span set is distinct-projected and BROADCAST — sound because the
    stratum is size-capped by definition (see EVAL_DOC_LIMIT), mirroring
    real decontamination where the benchmark is tiny relative to the
    corpus — so the contamination check is a map-side hash probe over the
    training spans: no shuffle of the big side at any scale.  spread():
    the tokenize+md5 explode feeding the probe is the whole cost and the
    one-row-group testdata scan would run it single-threaded."""
    spans = _doc_spans(spread(load_table(spark, sf_dir, "documents")))
    is_eval = _eval_pred()
    eval_spans = spans.filter(is_eval).select("span").distinct()
    return (
        spans.filter(~is_eval)
        .join(F.broadcast(eval_spans), "span", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_hits"))
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS w FROM documents),
s AS (SELECT doc_id, unnest({_DUCK_SPANS}) AS span FROM t),
e AS (SELECT DISTINCT span FROM s
      WHERE doc_id % {EVAL_DOC_MODULUS} = 0 AND doc_id < {EVAL_DOC_LIMIT})
SELECT s.doc_id, COUNT(*) AS n_eval_hits
FROM s JOIN e ON s.span = e.span
WHERE NOT (s.doc_id % {EVAL_DOC_MODULUS} = 0 AND s.doc_id < {EVAL_DOC_LIMIT})
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# Sliding-window (alignment-free) decontamination.  The grid variant above
# hashes BOTH sides on the same non-overlapping SPAN_TOKENS grid, so a doc
# quoting an eval item shifted by 1..SPAN_TOKENS-1 tokens hashes the quote
# into different windows on the two sides and is missed.  The standard fix
# is overlapping n-grams — but only the EVAL side needs stride 1: its
# sliding windows enumerate every 8-token subsequence of the benchmark, so
# ANY full grid window the training side cuts out of quoted text (which
# exists whenever the quote covers ≥ 2·SPAN_TOKENS−1 consecutive tokens,
# regardless of alignment) is guaranteed to appear in the eval set.  The
# training side therefore stays on the strided grid — the big side's span
# count is unchanged, and the broadcast grows only by the bounded factor
# SPAN_TOKENS over the already-bounded eval stratum (a benchmark is a
# fixed-size artifact by construction; see decontaminate_against_eval).

# The sliding set also carries the grid's short TAIL window (the last
# size%SPAN_TOKENS tokens) so the eval sliding-span set is a strict
# superset of the eval grid-span set — without it a grid tail-to-tail
# match would be a grid hit the sliding variant misses, breaking the
# "sliding hits ⊇ grid hits" invariant pinned in tests.
_SPARK_SPANS_SLIDING = (
    f"case when size(t) = 0 then array()"
    f" when size(t) <= {SPAN_TOKENS} then array(md5(concat_ws(' ', t)))"
    f" else concat("
    f"transform(sequence(0, size(t) - {SPAN_TOKENS}),"
    f" i -> md5(concat_ws(' ', slice(t, i + 1, {SPAN_TOKENS})))),"
    f" case when size(t) % {SPAN_TOKENS} = 0 then array()"
    f" else array(md5(concat_ws(' ',"
    f" slice(t, size(t) - size(t) % {SPAN_TOKENS} + 1,"
    f" size(t) % {SPAN_TOKENS})))) end)"
    " end"
)
_DUCK_SPANS_SLIDING = (
    f"CASE WHEN len(w) = 0 THEN []"
    f" WHEN len(w) <= {SPAN_TOKENS} THEN [md5(array_to_string(w, ' '))]"
    f" ELSE list_concat("
    f"list_transform(generate_series(0, len(w) - {SPAN_TOKENS}),"
    f" i -> md5(array_to_string(w[i + 1 : i + {SPAN_TOKENS}], ' '))),"
    f" CASE WHEN len(w) % {SPAN_TOKENS} = 0 THEN []"
    f" ELSE [md5(array_to_string("
    f"w[len(w) - len(w) % {SPAN_TOKENS} + 1 : len(w)], ' '))] END)"
    " END"
)


def _doc_spans_sliding(docs: DataFrame) -> DataFrame:
    """(doc_id, span) — one row per stride-1 SPAN_TOKENS-token window (a
    single whole-doc window for docs shorter than SPAN_TOKENS, matching
    the grid's behavior for short docs so short-doc quotes still align)."""
    return docs.select(
        "doc_id", F.expr(SPARK_TOKENS).alias("t")
    ).select("doc_id", F.explode(F.expr(_SPARK_SPANS_SLIDING)).alias("span"))


def _eval_pred():
    """THE eval-stratum membership predicate — single Spark-side source of
    truth shared by the grid and sliding decontamination operators (their
    SQL oracles inline the same two constants)."""
    return (F.col("doc_id") % EVAL_DOC_MODULUS == 0) & (
        F.col("doc_id") < EVAL_DOC_LIMIT
    )


def decontaminate_sliding_frames(docs: DataFrame) -> DataFrame:
    """Core of decontaminate_sliding over an explicit documents frame
    (doc_id, text) — used by the registry wrapper and the shifted-copy
    fixture test.  Same plan shape as the grid variant: distinct eval
    sliding-span set broadcast, training grid spans probed map-side, no
    shuffle of the big side."""
    is_eval = _eval_pred()
    eval_spans = (
        _doc_spans_sliding(docs.filter(is_eval)).select("span").distinct()
    )
    return (
        _doc_spans(docs.filter(~is_eval))
        .join(F.broadcast(eval_spans), "span", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_hits"))
        .orderBy("doc_id")
    )


def decontaminate_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free benchmark decontamination: flag training docs whose
    strided grid windows hit ANY stride-1 sliding window of the eval
    stratum.  Catches quotes at every token shift the grid variant misses
    (tests/test_dedup.py plants a shifted copy the grid provably misses);
    superset of the grid variant's hits by construction, still zero
    shuffle on the training side."""
    return decontaminate_sliding_frames(
        spread(load_table(spark, sf_dir, "documents"))
    )


DECONTAMINATE_SLIDING_SQL = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS w FROM documents),
s AS (SELECT doc_id, unnest({_DUCK_SPANS}) AS span FROM t
      WHERE NOT (doc_id % {EVAL_DOC_MODULUS} = 0 AND doc_id < {EVAL_DOC_LIMIT})),
e AS (SELECT DISTINCT unnest({_DUCK_SPANS_SLIDING}) AS span FROM t
      WHERE doc_id % {EVAL_DOC_MODULUS} = 0 AND doc_id < {EVAL_DOC_LIMIT})
SELECT s.doc_id, COUNT(*) AS n_eval_hits
FROM s JOIN e ON s.span = e.span
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# --- duplicate-span REMOVAL -----------------------------------------------------

def remove_duplicate_spans(docs: DataFrame) -> DataFrame:
    """Corpus-wide exact span REMOVAL — the transform counterpart of
    dedup_span_stats: every full SPAN_TOKENS-token window of every doc
    survives only at its FIRST occurrence (smallest (doc_id, pos) over
    the window's md5); losers are cut from the text and the doc is
    reassembled from its surviving windows in original order.  Partial
    tail windows (< SPAN_TOKENS tokens) pass through untouched — short
    fragments collide spuriously and the tail is never boilerplate-sized.
    Emits (doc_id, text_spandedup, n_spans_kept, n_spans_dropped) for
    docs retaining ≥1 window.

    Pinned spec: tokens = whitespace runs of the ORIGINAL text (case
    preserved — this rewrites the corpus, unlike the lowercased signal
    keys of dedup_span_stats); the window arithmetic is the SAME
    _spark_span_windows builder the stats operator compiles from, so the
    two can never desynchronize; reassembly joins windows with single
    spaces, i.e. inter-token whitespace is normalized.

    Scale shape (guide §8: decide with small rows, move big rows once).
    The dup decision only needs (md5, doc_id, pos), so the decision
    relation explodes 16-byte keys + two ints — span TEXT never crosses
    any exchange: (1) a partial+final hash agg of min(struct(doc_id,
    pos)) keyed on the span md5 (no window sort) yields each key's one
    winner; (2) winners collapse to a per-doc sorted keep-position array
    (ints only); (3) ONE join attaches that array back to the tokenized
    docs, and the surviving text is re-sliced locally from the doc's own
    token array (tail windows are always kept and need no join at all).
    The r5 shape instead joined the full span-text relation against the
    winner set and reassembled through a second corpus-wide groupBy —
    two exchanges carrying the whole corpus text (measured 3.9 s → 1.3 s
    at sf1.0; plan: 4 Exchange → 2 narrow + 1 broadcast)."""
    s = SPAN_TOKENS
    toks = "filter(split(text, '\\\\s+'), x -> x != '')"
    keys = _spark_span_windows("t", f"md5({_SPARK_SPAN_SLICE})")
    toked = spread(docs).select("doc_id", F.expr(toks).alias("t"))
    full_keys = toked.select(
        "doc_id",
        F.size("t").alias("nt"),
        F.posexplode(F.expr(keys)).alias("pos", "k"),
    ).where((F.col("pos") + 1) * s <= F.col("nt"))
    firsts = full_keys.groupBy("k").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept_pos = (
        firsts.select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.pos").alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("keep_pos"))
    )
    kp = f"coalesce(keep_pos, cast(array() as array<int>))"
    kept_texts = (
        f"transform({kp}, p -> concat_ws(' ', slice(t, p * {s} + 1, {s})))"
    )
    tail_texts = (
        f"case when size(t) % {s} = 0 then cast(array() as array<string>)"
        f" else array(concat_ws(' ',"
        f" slice(t, size(t) - size(t) % {s} + 1, size(t) % {s}))) end"
    )
    n_spans = (
        f"case when size(t) = 0 then 0"
        f" else cast(floor((size(t) - 1) / {s}) as int) + 1 end"
    )
    n_kept = f"size({kp}) + if(size(t) % {s} = 0, 0, 1)"
    return (
        toked.join(kept_pos, "doc_id", "left")
        .where(
            F.col("keep_pos").isNotNull()
            | F.expr(f"size(t) % {s} != 0 and size(t) > 0")
        )
        .select(
            "doc_id",
            F.expr(
                f"array_join(concat({kept_texts}, {tail_texts}), ' ')"
            ).alias("text_spandedup"),
            F.expr(n_kept).cast("int").alias("n_spans_kept"),
            F.expr(f"({n_spans}) - ({n_kept})")
            .cast("int")
            .alias("n_spans_dropped"),
        )
    )


REMOVE_DUPLICATE_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM docs
), arr AS (
  SELECT doc_id, len(t) AS nt,
         {_duck_span_windows("t", _duck_span_slice("t"))} AS spans
  FROM toks
), units AS (
  SELECT doc_id, nt,
         CAST(generate_subscripts(spans, 1) - 1 AS BIGINT) AS pos,
         unnest(spans) AS span
  FROM arr
), ranked AS (
  SELECT doc_id, pos, span,
         CASE WHEN (pos + 1) * {SPAN_TOKENS} <= nt
              THEN row_number() OVER (PARTITION BY md5(span)
                                      ORDER BY doc_id, pos)
              ELSE 1 END AS rn
  FROM units
), kept AS (
  SELECT doc_id, pos, span FROM ranked WHERE rn = 1
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_spans FROM units GROUP BY doc_id
)
SELECT k.doc_id,
       string_agg(k.span, ' ' ORDER BY k.pos) AS text_spandedup,
       CAST(COUNT(*) AS INT) AS n_spans_kept,
       CAST(ANY_VALUE(t.n_spans) - COUNT(*) AS INT) AS n_spans_dropped
FROM kept k JOIN totals t USING (doc_id)
GROUP BY k.doc_id
"""
