"""Similarity search over an embedding column (array<float>): brute-force
cosine top-k as the exact baseline, and a random-hyperplane LSH-bucketed
variant as the 100 TB scale path.

All vector math is JVM-side higher-order functions (zip_with / aggregate)
inside whole-stage codegen — no Python in the hot path.  Two LSH shapes:
the in-memory path (sim_ann_lsh) is one map-only scan with a broadcast
query-code array — cheap rerank, no shuffle; the materialized path
(build_ann_index / probe_ann_index) partitions the index by (table,
bucket) so a probe is a partition-pruned read of L·(probes) directories,
the true scale route when the corpus must not be scanned per query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacetime_crawler_spark.sources.tables import load_table, spread

TOP_K = 5
_QUERY_VEC_ID = 0  # the pinned demo query vector

# Double-precision cosine with sequential accumulation — bit-compatible with
# DuckDB's list_cosine_similarity over DOUBLE[] (same order, same IEEE ops).
_SPARK_COS = """
  aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),
            cast(0.0 as double), (s, v) -> s + v)
  / (sqrt(aggregate({a}, cast(0.0 as double),
                    (s, v) -> s + cast(v as double) * cast(v as double)))
     * sqrt(aggregate({b}, cast(0.0 as double),
                      (s, v) -> s + cast(v as double) * cast(v as double))))
"""


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k by cosine to the pinned query vector: broadcast the
    1-row query side, scan-and-score every vector (one pass, no shuffle),
    then TakeOrderedAndProject for the top-k.  This is the correctness
    baseline the ANN path's recall is measured against.  spread() on the
    corpus side only: the scoring HOFs are the whole cost and the one-row-
    group scan would run them single-threaded; the query side stays an
    unspread scan so its vec_id filter pushes down."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    cos = _SPARK_COS.format(a="embedding", b="qv")
    return (
        spread(emb, min_bytes=0).filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(query))
        .withColumn("cos_sim", F.round(F.expr(cos), 4))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "cos_sim")
    )


SIM_TOPK_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = {_QUERY_VEC_ID}
)
SELECT vec_id,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 4) AS cos_sim
FROM embeddings, q
WHERE vec_id <> {_QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC LIMIT {TOP_K}
"""


# --- LSH-bucketed ANN (multi-table random-hyperplane) ---------------------------
#
# L tables × k sign bits each.  Per-neighbor catch probability for cosine c is
# 1 − (1 − p^k)^L with p = 1 − arccos(c)/π, so k trades probe cost against
# recall: this corpus's true neighbors sit at c ≈ 0.5 (p ≈ 0.67), hence small
# k=3 / L=10 (catch ≈ 0.97).  A near-dup corpus (c ≥ 0.95, p ≈ 0.9) would use
# k=16, shrinking buckets by ~2000× before the exact rerank.

LSH_TABLES = 10
LSH_BITS_PER_TABLE = 3
_LSH_SEED = 42
_EMBED_DIM = 64


def _hyperplanes() -> list[list[float]]:
    """Deterministic random hyperplanes (pinned seed) — generated driver-side
    once and folded into the plan as literals; at scale these are a tiny
    broadcast, never recomputed per row."""
    rng = np.random.RandomState(_LSH_SEED)
    return rng.standard_normal(
        (LSH_TABLES * LSH_BITS_PER_TABLE, _EMBED_DIM)
    ).round(6).tolist()


def _table_bucket_exprs(vec_col: str) -> list[str]:
    """One bucket expression per table: k sign bits packed into a BIGINT."""
    planes = _hyperplanes()
    exprs = []
    for t in range(LSH_TABLES):
        terms = []
        for b in range(LSH_BITS_PER_TABLE):
            plane = planes[t * LSH_BITS_PER_TABLE + b]
            lits = ", ".join(f"cast({v} as double)" for v in plane)
            dot = (
                f"aggregate(zip_with({vec_col}, array({lits}),"
                " (x, y) -> cast(x as double) * y), cast(0.0 as double),"
                " (s, v) -> s + v)"
            )
            terms.append(f"if({dot} > 0, shiftleft(1L, {b}), 0L)")
        exprs.append(" | ".join(terms))
    return exprs


def _with_table_buckets(df: DataFrame, vec_col: str) -> DataFrame:
    """(…, table, bucket) — one row per (vector, table)."""
    bucket_array = "array(" + ", ".join(_table_bucket_exprs(vec_col)) + ")"
    return df.select(
        "*", F.posexplode(F.expr(bucket_array)).alias("table", "bucket")
    )


def _query_buckets(
    query_vec: list[float], hamming: int = 0
) -> list[tuple[int, int]]:
    """The query's (table, bucket) pairs, computed driver-side with EXACTLY
    the same arithmetic as the SQL bucket expressions (same pinned plane
    literals, same left-to-right double accumulation, same `> 0` sign rule)
    so the probe lands in precisely the partitions the build side wrote.

    hamming=1 is MULTI-PROBE: each table also probes the k buckets whose
    sign vector differs in one bit — the near-boundary buckets a borderline
    dot product could have landed in.  Recall rises without adding tables
    (index size unchanged); probe cost goes from L to L·(k+1) partitions,
    still a pruned scan, never a full index read."""
    planes = _hyperplanes()
    pairs = []
    for t in range(LSH_TABLES):
        bucket = 0
        for b in range(LSH_BITS_PER_TABLE):
            acc = 0.0
            for x, y in zip(query_vec, planes[t * LSH_BITS_PER_TABLE + b]):
                acc += float(x) * y
            if acc > 0:
                bucket |= 1 << b
        pairs.append((t, bucket))
        if hamming >= 1:
            for b in range(LSH_BITS_PER_TABLE):
                pairs.append((t, bucket ^ (1 << b)))
    return pairs


def build_ann_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the ANN index partitioned by (table, bucket) — the layout
    that makes probes PARTITION-PRUNED scans: a probe touches L directories
    out of L·2^k, never the full index.  Embeddings ride along so the rerank
    needs no second lookup."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), min_bytes=0)
    idx = _with_table_buckets(emb, "embedding").select(
        "table", "bucket", "vec_id", "embedding"
    )
    idx.write.mode("overwrite").partitionBy("table", "bucket").parquet(index_dir)


def _bucket_filter(pairs) -> F.Column:
    """(table, bucket) pairs → the OR-chain predicate whose per-conjunct
    equality on partition columns Spark turns into static PartitionFilters.
    ONE builder for both probe paths (single-query and batch) so the
    plan-asserted pruning contract cannot drift between them."""
    cond = F.lit(False)
    for t, bu in pairs:
        cond = cond | ((F.col("table") == t) & (F.col("bucket") == bu))
    return cond


def probe_ann_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    exclude_vec_id: int | None = None,
    k: int = TOP_K,
    hamming: int = 0,
) -> DataFrame:
    """Top-k probe against a materialized index: the query's L (table,
    bucket) pairs become a partition-column filter, so the parquet scan
    reads ONLY those directories (PartitionFilters — plan-asserted in
    tests/test_similarity.py); candidates are deduped and exactly reranked.
    At 10^10 scale this is the difference between touching ~L·(N/(L·2^k))
    rows and a full-index scan per query."""
    pairs = _query_buckets(query_vec, hamming=hamming)
    idx = spark.read.parquet(index_dir)
    candidates = (
        idx.filter(_bucket_filter(pairs))
        .select("vec_id", "embedding")
        .distinct()
    )
    if exclude_vec_id is not None:
        candidates = candidates.filter(F.col("vec_id") != exclude_vec_id)
    qlits = ", ".join(f"cast({float(v)} as double)" for v in query_vec)
    cos = _SPARK_COS.format(a="embedding", b=f"array({qlits})")
    return (
        candidates.withColumn("cos_sim", F.round(F.expr(cos), 4))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "cos_sim")
    )


def _ensure_demo_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the partitioned index once per corpus in a deterministic
    scratch dir (reused across invocations and processes — repeated
    harness runs neither rebuild nor leak a new /tmp dir each call)."""
    import hashlib
    import os
    import tempfile

    # key the cache by a CONTENT fingerprint of the source table (path +
    # size + mtime), not just its path — regenerated data at the same path
    # must invalidate the index, or the probe would silently serve
    # neighbors of vectors that no longer exist.  The LSH geometry (plane
    # matrix + table/bit constants) is part of the key too: a code change
    # to _hyperplanes()/LSH_* must invalidate the index, or the probe would
    # rerank candidates from buckets laid out under the OLD planes.
    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    st = os.stat(src)
    geom = hashlib.md5(
        repr((LSH_TABLES, LSH_BITS_PER_TABLE, _hyperplanes())).encode()
    ).hexdigest()[:8]
    tag = hashlib.md5(
        f"{src}|{st.st_size}|{st.st_mtime_ns}|{geom}".encode()
    ).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"scs_ann_index_{tag}")
    if not os.path.exists(os.path.join(index_dir, "_SUCCESS")):
        build_ann_index(spark, sf_dir, index_dir)
    return index_dir


def sim_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract demo of the materialized path: probe the cached
    partitioned index (_ensure_demo_index) with the pinned query vector.
    Returns the same top-k as sim_ann_lsh (same planes, same rerank) but
    through the partition-pruned scan."""
    index_dir = _ensure_demo_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).collect()[0].embedding
    return probe_ann_index(
        spark, index_dir, list(qv), exclude_vec_id=_QUERY_VEC_ID
    )


def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN (Hamming-1): same L tables, same index, ~(k+1)×
    the probed buckets → recall ≥ the single-probe path at equal table
    count (pinned in tests/test_similarity.py).  Registry-facing wrapper
    over sim_ann_lsh(hamming=1)."""
    return sim_ann_lsh(spark, sf_dir, hamming=1)


def sim_ann_lsh(
    spark: SparkSession, sf_dir: str, hamming: int = 0
) -> DataFrame:
    """ANN top-k for the pinned query: candidates = vectors sharing ANY
    (table, bucket) with the query, found in a single map-only pass (each
    vector's L pairs packed into one array of combined codes, broadcast
    1-row query, non-empty array_intersect — see the inline note), then
    exact cosine rerank of candidates only.  hamming=1 multi-probes each
    table's Hamming-1 neighbor buckets by expanding the QUERY's code
    array only.  For batched query sets, or when the corpus shouldn't be
    scanned at all, use the materialized partition-pruned index path
    (build_ann_index / probe_ann_index).  Driver check is rows-only (ANN
    is approximate by construction); tests/test_similarity.py measures
    recall vs sim_topk_bruteforce."""
    # ONE map-only pass, no explode/semi-join/distinct: each vector's L
    # (table, bucket) pairs are packed into a single array of combined
    # codes (table << k | bucket), the 1-row query side carries its own
    # (optionally Hamming-1-expanded) code array + embedding, and
    # candidacy is "code arrays intersect".  Identical candidate set to
    # the former explode + broadcast-semi-join + distinct shape — a vector
    # qualifies iff it shares ≥1 (table, bucket) with the query — but the
    # plan is scan → broadcast 1 row → filter → TakeOrdered: the corpus is
    # touched once and never shuffled (measured ~2× faster at sf0.1).
    emb = load_table(spark, sf_dir, "embeddings")
    codes = "array({})".format(", ".join(
        f"(cast({t} as bigint) * {1 << LSH_BITS_PER_TABLE} + ({e}))"
        for t, e in enumerate(_table_bucket_exprs("embedding"))
    ))
    # corpus side spread: the L·k dot-product HOFs per row are the whole
    # cost of this query, and the one-row-group scan would evaluate them
    # on a single core; the query side is built from an UNspread scan so
    # its vec_id pushdown reads one row-group slice, not a shuffle
    with_codes = spread(emb, min_bytes=0).select(
        "vec_id", "embedding", F.expr(codes).alias("bc")
    )
    qcols = [F.col("bc").alias("qbc"), F.col("embedding").alias("qv")]
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.expr(codes).alias("bc"), "embedding"
    ).select(*qcols)
    if hamming >= 1:
        # flip each of the k low (bucket) bits per code; the table id lives
        # in the high bits, so XOR with < 2^k never crosses tables
        q = q.select(
            F.expr(
                "array_distinct(flatten(transform(qbc,"
                f" p -> array(p, {', '.join(f'p ^ {1 << b}' for b in range(LSH_BITS_PER_TABLE))}))))"
            ).alias("qbc"),
            "qv",
        )
    cos = _SPARK_COS.format(a="embedding", b="qv")
    return (
        with_codes.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(q))
        .filter(F.size(F.array_intersect("bc", "qbc")) > 0)
        .withColumn("cos_sim", F.round(F.expr(cos), 4))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "cos_sim")
    )


# --- batched index probe ------------------------------------------------------
#
# A real pipeline probes millions of queries (e.g. deduping a fresh crawl
# shard against an indexed corpus), not one pinned vector.  The batch path
# keeps BOTH scale properties of the single probe: (1) the index side stays
# a partition-pruned scan — the probed (table, bucket) set is collected
# driver-side, which is SAFE AT ANY QUERY COUNT because the code space is
# bounded by construction at L·2^k pairs (80 here), not by the number of
# queries; (2) the per-pair work after the join is narrow (ids + doubles),
# never a corpus shuffle.

def probe_ann_index_batch(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    hamming: int = 0,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k ANN for EVERY row of `queries` (query_id, embedding) against a
    build_ann_index layout.  Plan: query codes are computed JVM-side with
    the SAME bucket expressions the build side used (posexplode to one row
    per (query, table, bucket), with optional Hamming-1 bucket expansion);
    the distinct probed (table, bucket) set — ≤ L·2^k rows by construction,
    independent of query count — becomes a static partition filter on the
    index scan (PartitionFilters, plan-asserted in tests/test_similarity.py);
    candidates come from an equi-join on (table, bucket); a (query, vec)
    pair found in several tables is collapsed by a max-aggregate on the
    already-computed cosine (narrow rows: two ids + a double — embeddings
    never cross that shuffle); per-query top-k is a ranking window over the
    same (query_id) exchange.  Returns (query_id, vec_id, cos_sim, rnk)."""
    qb = _with_table_buckets(queries, "embedding").select(
        F.col("query_id"),
        F.col("embedding").alias("qv"),
        "table",
        "bucket",
    )
    if hamming >= 1:
        # expand each probed bucket with its k Hamming-1 neighbors (the
        # near-boundary buckets), exactly like the single-query multiprobe
        flips = ", ".join(
            f"bucket ^ {1 << b}" for b in range(LSH_BITS_PER_TABLE)
        )
        qb = qb.select(
            "query_id",
            "qv",
            "table",
            F.explode(F.expr(f"array(bucket, {flips})")).alias("bucket"),
        ).distinct()
    # Driver-side bounded collect: the probed pair set can never exceed the
    # code space L·2^k (= LSH_TABLES << LSH_BITS_PER_TABLE), no matter how
    # many queries are batched — this is a property of the geometry, not of
    # the data.  It buys a STATIC PartitionFilters scan (no DPP needed, no
    # full-index read even when AQE re-plans the join).
    # qb is DELIBERATELY not persisted across this collect and the join
    # below: the collect's plan is column-pruned to the bucket expressions
    # (qv never computed), so the duplicate work is one map-only pass over
    # queries — while caching qb would pin L× replicated embedding vectors
    # in executor memory (at the millions-of-queries scale this API
    # targets, gigabytes of cache to save a scan-stage recompute).
    probed = qb.select("table", "bucket").distinct().collect()
    assert len(probed) <= LSH_TABLES * (1 << LSH_BITS_PER_TABLE)
    idx = spark.read.parquet(index_dir)
    cos = _SPARK_COS.format(a="embedding", b="qv")
    scored = (
        idx.filter(_bucket_filter((r.table, r.bucket) for r in probed))
        .join(qb, ["table", "bucket"])
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            if exclude_self
            else F.lit(True)
        )
        .select(
            "query_id",
            "vec_id",
            F.round(F.expr(cos), 4).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    dedup = scored.groupBy("query_id", "vec_id").agg(
        F.max("cos_sim").alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        dedup.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


_BATCH_QUERY_MODULUS = 37  # pinned demo query set: vec_id ≡ 0 (mod 37)


def sim_ann_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract demo of the batched probe: every vec_id ≡ 0 (mod
    37) vector queries the materialized index at once (deterministic set,
    ~3% of the corpus).  Rows-only driver check (ANN is approximate);
    tests/test_similarity.py pins per-query recall vs brute force on ≥100
    queries and the PartitionFilters plan shape."""
    index_dir = _ensure_demo_index(spark, sf_dir)
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _BATCH_QUERY_MODULUS == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return probe_ann_index_batch(spark, index_dir, queries)
