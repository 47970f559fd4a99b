"""Semantic tests for the non-SQL-expressible dedup operators: MinHash+LSH
recall vs the exact Jaccard baseline, SimHash locality."""

from __future__ import annotations

import pytest

from spacetime_crawler_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def exact_pairs(spark):
    rows = dedup.dedup_ngram_jaccard(spark, SF_DIR).collect()
    return {(r.doc_a, r.doc_b): r.jaccard for r in rows}


def test_planted_near_dups_exist(exact_pairs):
    # The synthetic corpus plants near-dup pairs ≥ the threshold; if this
    # fails the downstream recall tests would be vacuous.
    assert len(exact_pairs) >= 1


def test_minhash_lsh_matches_exact(spark, exact_pairs):
    """At threshold 0.5 with 8 bands × 4 rows the LSH s-curve catch
    probability is ≥ 1−(1−0.5⁴)⁸ ≈ 0.40 per pair — but the planted pairs sit
    at J ≥ 0.95 (catch prob ≥ 1−(1−0.95⁴)⁸ ≈ 0.9999998), so requiring exact
    set equality is statistically safe AND the verify step guarantees no
    false positives."""
    lsh_rows = dedup.dedup_minhash_lsh(spark, SF_DIR).collect()
    lsh_pairs = {(r.doc_a, r.doc_b): r.jaccard for r in lsh_rows}
    assert set(lsh_pairs) == set(exact_pairs)
    for pair, j in lsh_pairs.items():
        assert abs(j - exact_pairs[pair]) < 1e-9


def test_hot_shingle_cap_prevents_quadratic_boilerplate(spark):
    """Adversarial corpus: thousands of docs sharing one boilerplate shingle
    (the 10^7-page shared-footer scenario).  The frequency cap must keep the
    inverted-index join from going quadratic — the run completes quickly and
    still finds the one real near-dup pair that shares NON-hot shingles."""
    import time

    from pyspark.sql import functions as F

    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # every doc shares "shared footer"; each also has unique content
        F.concat(
            F.lit("unique"), F.col("id"), F.lit(" words shared footer text"),
        ).alias("text"),
    )
    # plant one true near-dup pair with distinctive (non-hot) overlap
    planted = spark.createDataFrame(
        [(n + 1, "alpha beta gamma delta epsilon zeta theta iota kappa mu"),
         (n + 2, "alpha beta gamma delta epsilon zeta theta iota kappa nu")],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(planted)
    t0 = time.monotonic()
    pairs = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(corpus).collect()}
    wall = time.monotonic() - t0
    assert (n + 1, n + 2) in pairs
    # no boilerplate-only pair survives, and no quadratic blowup:
    # uncapped, the shared shingles alone would seed ~12.5M candidate rows
    for a, b in pairs:
        assert not (a <= n and b <= n)
    assert wall < 120, f"hot-shingle cap failed to bound the join ({wall:.0f}s)"

    lsh_pairs = {(r.doc_a, r.doc_b)
                 for r in dedup.minhash_lsh_pairs(corpus).collect()}
    assert (n + 1, n + 2) in lsh_pairs


def test_connected_components_match_union_find(spark, exact_pairs):
    """Label propagation over the pair graph ≡ a pure union-find oracle:
    every doc labeled with its component's min doc_id, transitive pairs
    collapse into one cluster (pairwise pruning can't do that)."""
    # pure union-find over the same edges
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in exact_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    edges = spark.createDataFrame(
        [(a, b) for a, b in exact_pairs], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.component
           for r in dedup.connected_components(edges).collect()}
    assert got == want

    # the registry entry: one row per non-trivial cluster, survivor = min id
    groups = {r.component: (r.n_docs, r.keep_doc_id)
              for r in dedup.dedup_components(spark, SF_DIR).collect()}
    from collections import Counter

    sizes = Counter(want.values())
    assert groups == {c: (n, c) for c, n in sizes.items() if n > 1}


def test_connected_components_transitive_chain(spark):
    """Pairs (1,2), (2,3), (3,4) — disjoint from (10,11) — must collapse to
    exactly two clusters with min-id labels, in few iterations."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.component
           for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_simhash_deterministic_and_locality(spark, exact_pairs):
    sigs = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, SF_DIR).collect()}
    sigs2 = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, SF_DIR).collect()}
    assert sigs == sigs2
    # near-dup docs must be closer in Hamming space than the corpus median
    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = [hamming(sigs[a], sigs[b]) for (a, b) in exact_pairs]
    ids = sorted(sigs)[:60]
    background = [
        hamming(sigs[ids[i]], sigs[ids[j]])
        for i in range(0, 50, 5)
        for j in range(i + 1, 50, 7)
        if (ids[i], ids[j]) not in exact_pairs
    ]
    assert max(near) < sorted(background)[len(background) // 2]


def test_new_pipeline_ops_plan_shapes(spark, sf_dir):
    """100 TB plan-shape assertions for the round-4 operators:
    decontamination probes a BROADCAST eval-span set (the big side never
    shuffles for the join), the stratified sampler is map-only — its
    whole plan contains no exchange at all — and neither span operator
    ever degenerates to a cartesian/nested-loop join."""
    import contextlib
    import io as _io

    from spacetime_crawler_spark.operators import dedup as ddp
    from spacetime_crawler_spark.operators import pipeline as pl

    def plan_of(df):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    p = plan_of(ddp.decontaminate_against_eval(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p[:2000]

    p = plan_of(pl.pipeline_stratified_sample(spark, sf_dir))
    assert "Exchange" not in p, p[:2000]  # map-only: filter inside the scan stage
    assert "Filter" in p

    # span dup stats: keyed equi-join of the duplicated-span set back onto
    # doc spans — partial+final aggregates, never a cartesian blow-up
    p = plan_of(ddp.dedup_span_stats(spark, sf_dir))
    assert p.count("HashAggregate") >= 2, p[:2000]
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p[:2000]

    # bigram vocabulary: partial+final aggregate pair and a top-K sort that
    # never materializes the full distinct-bigram set on the driver
    from spacetime_crawler_spark.operators import textstats as ts
    p = plan_of(ts.text_bigrams_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p[:2000]
    assert p.count("HashAggregate") >= 2, p[:2000]


def test_decontaminate_sliding_catches_shifted_quote(spark):
    """A training doc quoting the eval doc shifted by 3 tokens: the two
    sides' non-overlapping grids cut the quote at different offsets, so the
    grid variant provably misses it; the sliding variant (stride-1 eval
    windows) must catch it.  Quote length 2*SPAN_TOKENS-1 = the minimum
    that guarantees a full training grid window inside the quoted region
    at any alignment."""
    from pyspark.sql import functions as F  # noqa: F401

    eval_tokens = [f"e{i}" for i in range(24)]  # doc_id 0 -> eval stratum
    # training doc: 3 filler tokens, then a verbatim 15-token quote starting
    # at eval position 4 (shift 4 mod 8 on the eval grid, offset 3 on its
    # own grid — misaligned on both sides' grids)
    quote = eval_tokens[4 : 4 + 15]
    train_tokens = ["x0", "x1", "x2", *quote, "y0", "y1", "y2", "y3", "y4", "y5"]
    clean_tokens = [f"z{i}" for i in range(24)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(eval_tokens)),   # eval (0 % 8 == 0, < limit)
            (1, " ".join(train_tokens)),  # contaminated, misaligned
            (2, " ".join(clean_tokens)),  # clean
        ],
        "doc_id long, text string",
    )

    # the grid variant misses the shifted quote...
    grid_is_eval = (F.col("doc_id") % dedup.EVAL_DOC_MODULUS == 0) & (
        F.col("doc_id") < dedup.EVAL_DOC_LIMIT
    )
    spans = dedup._doc_spans(docs)
    grid_eval = spans.filter(grid_is_eval).select("span").distinct()
    grid_hits = (
        spans.filter(~grid_is_eval)
        .join(F.broadcast(grid_eval), "span", "inner")
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert grid_hits == [], f"fixture not misaligned enough: {grid_hits}"

    # ...the sliding variant catches exactly the contaminated doc
    rows = dedup.decontaminate_sliding_frames(docs).collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].n_eval_hits >= 1


def test_decontaminate_sliding_superset_of_grid(spark):
    """On the real corpus the sliding hit set must contain every grid hit
    (stride-1 eval windows are a superset of the eval grid windows)."""
    sf = "/root/testdata/sf0.001"
    grid = {r.doc_id for r in dedup.decontaminate_against_eval(spark, sf).collect()}
    slid = {r.doc_id for r in dedup.decontaminate_sliding(spark, sf).collect()}
    assert grid <= slid


def test_dedup_exact_stats_oracle(spark):
    """dedup_exact_stats lost its driver row to the 50-key artifact cap
    (registry.py DRIVER_QUERY_CAP); its oracle check lives here instead so
    the component stays hash-checked even without driver-visible evidence."""
    from tests.oracle_harness import compare, duck_connection

    duck = duck_connection(SF_DIR)
    try:
        problems = compare(
            dedup.dedup_exact_stats(spark, SF_DIR),
            duck.sql(dedup.DEDUP_EXACT_STATS_SQL).df(),
        )
        assert not problems, problems
    finally:
        duck.close()


# --- duplicate-span removal -----------------------------------------------------


def test_remove_duplicate_spans(spark, tmp_path_factory):
    """First-occurrence span removal vs the DuckDB row_number oracle, over
    a fixture with a cross-doc repeated 16-token block, a within-doc
    repeat, case preservation, and partial-tail pass-through."""
    import duckdb

    from spacetime_crawler_spark.operators.dedup import (
        REMOVE_DUPLICATE_SPANS_SQL,
        SPAN_TOKENS,
        remove_duplicate_spans,
    )
    from tests.oracle_harness import compare

    # one full window = SPAN_TOKENS tokens exactly
    BLOCK = " ".join(f"Word{i:02d}" for i in range(SPAN_TOKENS))
    OTHER = " ".join(f"other{i:02d}" for i in range(SPAN_TOKENS))
    docs_rows = [
        # doc 0 owns BLOCK's first occurrence; tail of 3 tokens passes through
        (0, f"{BLOCK} tail bits here"),
        # doc 1 repeats BLOCK (dropped) around its own unique window (kept)
        (1, f"{BLOCK} {OTHER}"),
        # doc 2 repeats BLOCK twice within itself — both copies lose to doc 0
        (2, f"{BLOCK}  {BLOCK}"),
        # doc 3: only a short fragment — single partial window, untouched
        (3, "just a few words"),
        (4, ""),
    ]
    path = str(tmp_path_factory.mktemp("spans") / "docs.parquet")
    spark.createDataFrame(docs_rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    got = remove_duplicate_spans(docs)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT * FROM '{path}/*.parquet'")
    assert compare(got, con.sql(REMOVE_DUPLICATE_SPANS_SQL).df()) == []
    con.close()

    rows = {r.doc_id: r for r in got.collect()}
    # doc 2 lost BOTH its (full, duplicated) windows → retains nothing →
    # absent, like the empty doc 4 (the ≥1-surviving-window rule)
    assert set(rows) == {0, 1, 3}
    assert rows[0].text_spandedup == f"{BLOCK} tail bits here"
    assert rows[0].n_spans_dropped == 0
    # doc 1 lost BLOCK, kept its unique window — original case preserved
    assert rows[1].text_spandedup == OTHER
    assert rows[1].n_spans_dropped == 1 and "Word00" not in rows[1].text_spandedup
    assert "other00" in rows[1].text_spandedup
    # partial window passes through untouched
    assert rows[3].text_spandedup == "just a few words"
    assert rows[3].n_spans_dropped == 0
