"""LM quality scoring: exact cross-engine train-count parity, DuckDB
end-to-end score/bucket parity against the shared python-built model,
hand-computed semantics, plan shape (no Python nodes, broadcast model),
and partition invariance."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spacetime_crawler_spark.operators import lm_quality as lm
from tests.oracle_harness import compare, duck_connection

COUNTS_SQL = f"""
WITH d AS (
  SELECT lower(coalesce(text, '')) AS t FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) < '{lm.SEED_MD5_LT}'
),
g AS (
  SELECT unnest([substr(t, i, 3) for i in generate_series(1, length(t) - 2)]) AS gram
  FROM d
)
SELECT gram, COUNT(*) AS c FROM g GROUP BY gram
"""


def scores_sql(unk_qlogp: int) -> str:
    return f"""
WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN length(t) >= 3
                THEN [substr(t, i, 3) for i in generate_series(1, length(t) - 2)]
                ELSE [CAST(NULL AS VARCHAR)] END) AS gram
  FROM d
),
j AS (SELECT doc_id, gram, qlogp FROM g LEFT JOIN lm_model USING (gram))
SELECT doc_id,
       COUNT(gram) AS n_grams,
       CASE WHEN COUNT(gram) > 0 THEN
         ROUND(CAST(SUM(CASE WHEN gram IS NOT NULL
                        THEN coalesce(qlogp, {unk_qlogp}) END) AS DOUBLE)
               / 1e12 / COUNT(gram), 6)
       END AS avg_logp
FROM j GROUP BY doc_id
"""


def buckets_sql(unk_qlogp: int) -> str:
    return f"""
WITH scored AS ({scores_sql(unk_qlogp)}),
wl AS (
  SELECT s.doc_id, d.lang, s.n_grams, s.avg_logp
  FROM scored s LEFT JOIN documents d USING (doc_id)
),
b AS (
  SELECT doc_id,
         ['head','middle','tail'][ntile(3) OVER (
            PARTITION BY lang ORDER BY avg_logp DESC, doc_id)] AS bucket
  FROM wl WHERE n_grams > 0
)
SELECT wl.doc_id, wl.lang, wl.n_grams, wl.avg_logp, b.bucket
FROM wl LEFT JOIN b USING (doc_id)
"""


@pytest.fixture(scope="module")
def model(spark, sf_dir):
    from spacetime_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return lm.train_char_lm(spark, lm.seed_stratum(docs))


def test_train_counts_match_duckdb_exactly(spark, sf_dir, model):
    from spacetime_crawler_spark.sources.tables import load_table

    docs = lm.seed_stratum(load_table(spark, sf_dir, "documents"))
    # through _lowered, exactly like train_char_lm — the DuckDB side
    # lowercases, so building grams on raw text would leave the
    # lowercasing step unpinned (and break spuriously on mixed case)
    counts = (
        lm._lowered(docs, "text")
        .select(F.explode(F.expr(lm.gram_array_sql("_t"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    con = duck_connection(sf_dir)
    assert compare(counts, con.sql(COUNTS_SQL).df()) == []
    # and the model's totals derive from those exact counts
    oracle = con.sql(
        f"SELECT SUM(c), COUNT(*) FROM ({COUNTS_SQL})"
    ).fetchone()
    assert (model.total, model.vocab) == (int(oracle[0]), int(oracle[1]))


def test_scores_match_duckdb(spark, sf_dir, model):
    from spacetime_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    scored = lm.lm_quality_score(docs, model)
    con = duck_connection(sf_dir)
    con.register(
        "lm_model",
        pd.DataFrame(model.grams, columns=["gram", "qlogp"]),
    )
    assert compare(scored, con.sql(scores_sql(model.unk_qlogp)).df()) == []


def test_buckets_match_duckdb(spark, sf_dir, model):
    from spacetime_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = lm.lm_ppl_buckets(lm.lm_quality_score(docs, model), docs)
    con = duck_connection(sf_dir)
    con.register(
        "lm_model", pd.DataFrame(model.grams, columns=["gram", "qlogp"])
    )
    assert compare(out, con.sql(buckets_sql(model.unk_qlogp)).df()) == []


def test_semantics_hand_computed(spark):
    ref = spark.createDataFrame(
        [(1, "abcabcabc")], "doc_id bigint, text string"
    )
    model = lm.train_char_lm(spark, ref)
    # grams of "abcabcabc": abc x3, bca x2, cab x2 -> total 7, vocab 3
    assert (model.total, model.vocab) == (7, 3)
    by_gram = dict(model.grams)
    assert by_gram["abc"] == int(math.log(3 / 7) * lm.QSCALE)
    assert by_gram["bca"] == int(math.log(2 / 7) * lm.QSCALE)
    assert model.unk_qlogp == int(math.log(0.5 / 7) * lm.QSCALE)

    docs = spark.createDataFrame(
        [(10, "abcabc"), (11, "zzzzz"), (12, "ab"), (13, None)],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["avg_logp"])
        for r in lm.lm_quality_score(docs, model).collect()
    }
    # "abcabc": abc, bca, cab, abc -> mean of their qlogps
    exp_known = round(
        (2 * by_gram["abc"] + by_gram["bca"] + by_gram["cab"]) / 1e12 / 4, 6
    )
    assert got[10] == (4, exp_known)
    # "zzzzz": 3 unknown grams, all backoff
    assert got[11] == (3, round(3 * model.unk_qlogp / 1e12 / 3, 6))
    # too short / NULL: no grams, NULL score
    assert got[12] == (0, None)
    assert got[13] == (0, None)
    # in-vocabulary text scores strictly higher than unknown text
    assert got[10][1] > got[11][1]


def test_plan_no_python_and_broadcast_model(spark, sf_dir, model):
    from spacetime_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = lm.lm_quality_score(docs, model)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_score_partition_invariance(spark, sf_dir, model):
    from spacetime_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(
        map(tuple, lm.lm_quality_score(docs.repartition(1), model).collect())
    )
    b = sorted(
        map(tuple, lm.lm_quality_score(docs.repartition(13), model).collect())
    )
    assert a == b
