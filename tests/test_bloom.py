"""Bloom sidecar properties (SURVEY.md §5.2): ZERO false negatives (the
correctness-critical property — positives fall through to the exact
anti-join), plausible FPR, and an engine crawl through the bloom that
equals the single-node reference."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spacetime_crawler_spark.operators.bloom import (
    BITS_PER_PART,
    NUM_HASHES,
    _build_bitmap_fixed,
    _positions,
)


def _test_membership(h1, h2, nbits, k, bits_bytes):
    bits = np.frombuffer(bits_bytes, dtype=np.uint8)
    pos = _positions(np.asarray(h1), np.asarray(h2), k, nbits)
    return ((bits[pos >> 3] >> (pos & 7)) & 1).all(axis=1)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**63), 2**63 - 1),
            st.integers(-(2**31), 2**31 - 1),
        ),
        min_size=1,
        max_size=500,
        unique=True,
    )
)
def test_no_false_negatives(keys):
    h1 = np.array([k[0] for k in keys], dtype=np.int64)
    h2 = np.array([k[1] for k in keys], dtype=np.int64)
    bits = _build_bitmap_fixed(h1, h2, BITS_PER_PART, NUM_HASHES)
    assert _test_membership(h1, h2, BITS_PER_PART, NUM_HASHES, bits).all()


def test_fpr_in_range():
    """At the documented per-bucket capacity (200k keys in 2^21 bits, 7
    hashes) the FPR stays under 1%: theory (1 - e^(-7·200k/2^21))^7 ≈ 0.65%."""
    assert (BITS_PER_PART, NUM_HASHES) == (1 << 21, 7)
    rng = np.random.RandomState(7)
    n = 200_000
    h1 = rng.randint(-(2**63), 2**63 - 1, size=2 * n, dtype=np.int64)
    h2 = rng.randint(-(2**31), 2**31 - 1, size=2 * n, dtype=np.int64)
    bits = _build_bitmap_fixed(h1[:n], h2[:n], BITS_PER_PART, NUM_HASHES)
    hits = _test_membership(h1[n:], h2[n:], BITS_PER_PART, NUM_HASHES, bits)
    fpr = hits.mean()
    assert fpr < 0.01, fpr


def test_update_bitmaps_df_is_exact_or(spark):
    """Distributed sidecar maintenance: updating a sidecar with a second key
    set (one cogrouped pass, OR per bucket) ≡ one sidecar built from the
    union of the keys — also for buckets only one of the two sides has."""
    from pyspark.sql import functions as F

    from spacetime_crawler_spark.operators import bloom

    n_parts, nbits, k = 4, 1 << 12, 5
    df1 = spark.range(0, 500).select(
        F.xxhash64("id").alias("url_hash"), F.hash("id").alias("h2")
    )
    df2 = spark.range(400, 900).select(
        F.xxhash64("id").alias("url_hash"), F.hash("id").alias("h2")
    )
    first = bloom.update_bitmaps_df(None, df1, n_parts, nbits, k).persist()
    updated = bloom.collect_sidecar(
        bloom.update_bitmaps_df(first, df2, n_parts, nbits, k)
    )
    direct = bloom.collect_sidecar(
        bloom.update_bitmaps_df(None, df1.unionByName(df2), n_parts, nbits, k)
    )
    assert set(updated) == set(direct) == set(range(n_parts))
    for part in direct:
        assert updated[part] == direct[part]
    # buckets with a previous row but no new key keep their bitmap
    one_bucket = df2.filter(F.pmod("url_hash", F.lit(n_parts)) == 0)
    kept = bloom.collect_sidecar(
        bloom.update_bitmaps_df(first, one_bucket, n_parts, nbits, k)
    )
    before = bloom.collect_sidecar(first)
    assert set(kept) == set(before)
    for part in (1, 2, 3):
        assert kept[part] == before[part]
    first.unpersist()
    # n_items counts every key OR'd in
    rows = bloom.update_bitmaps_df(None, df1, n_parts, nbits, k).collect()
    assert sum(r.n_items for r in rows) == 500


def test_cogrouped_membership_matches_numpy_reference(spark):
    """The cogrouped membership test flags exactly the rows a numpy probe of
    the collected sidecar flags, with zero false negatives on the seen
    overlap."""
    from pyspark.sql import functions as F

    from spacetime_crawler_spark.operators import bloom

    n_parts, nbits, k = 8, 1 << 14, 7
    seen = spark.range(0, 2000).select(
        F.xxhash64("id").alias("url_hash"), F.hash("id").alias("h2")
    )
    cands = spark.range(1500, 4000).select(
        F.concat(F.lit("http://x.com/"), F.col("id")).alias("url_norm"),
        F.lit(1).alias("depth"),
        F.xxhash64("id").alias("url_hash"),
        F.hash("id").alias("h2"),
    )
    bloom_df = bloom.update_bitmaps_df(None, seen, n_parts, nbits, k).persist()
    sidecar = bloom.collect_sidecar(bloom_df)
    via_cogroup = {
        r.url_norm: r.maybe_seen
        for r in bloom.flag_maybe_seen_cogrouped(cands, bloom_df, n_parts).collect()
    }
    bloom_df.unpersist()

    rows = cands.collect()
    h1 = np.array([r.url_hash for r in rows], dtype=np.int64)
    h2 = np.array([r.h2 for r in rows], dtype=np.int64)
    parts = np.mod(h1, n_parts)
    expected = np.zeros(len(rows), dtype=bool)
    for part, (part_bits, part_k, bits) in sidecar.items():
        mask = parts == part
        pos = bloom._positions(h1[mask], h2[mask], part_k, part_bits)
        bitmap = np.frombuffer(bits, dtype=np.uint8)
        expected[mask] = ((bitmap[pos >> 3] >> (pos & 7)) & 1).all(axis=1)
    assert via_cogroup == {
        r.url_norm: bool(e) for r, e in zip(rows, expected)
    }
    # zero false negatives on the truly-seen overlap
    for i in range(1500, 2000):
        assert via_cogroup[f"http://x.com/{i}"]
    # the bloom must also reject most of the unseen candidates
    assert sum(via_cogroup[f"http://x.com/{i}"] for i in range(2000, 4000)) < 200


def test_engine_bloom_crawl_matches_reference(spark, tmp_path):
    """The crawl's committed seen set and fetch order, with every candidate
    probed through the cogrouped bloom, equal the single-node reference
    crawl on the same world, and the prefilter actually skips candidates."""
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from spacetime_crawler_spark.sources import synth
    from tests import reference_impl

    rounds, budget = 3, 8.0
    p = synth.world("tiny", n_pages=400)
    seeds = synth.seed_urls(p)
    pages = synth.generate_pages_df(spark, p).persist()
    cfg = CrawlConfig(state_dir=str(tmp_path / "st"), rounds=rounds,
                      round_budget_s=budget)
    run = run_crawl(spark, pages, seeds, cfg)
    seen = {r.url_norm: r.round_seen
            for r in crawl_mod.read_seen(spark, run.io).collect()}
    log = sorted(
        (r.round, r.host, r.fetch_seq, r.url_norm)
        for r in crawl_mod.read_fetch_log(spark, run.io, run.rounds_run).collect()
    )
    pages.unpersist()

    oracle = reference_impl.crawl(synth.driver_side_pages(p), seeds,
                                  rounds=rounds, round_budget_s=budget)
    assert seen == oracle.seen
    assert log == oracle.ordering_key()
    assert sum(m.bloom_skipped for m in run.metrics) > 0  # the prefilter fired
