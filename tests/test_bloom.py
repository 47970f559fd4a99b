"""Bloom sidecar properties (SURVEY.md §5.2): ZERO false negatives (the
correctness-critical property — positives fall through to the exact
anti-join), plausible FPR, and engine-level dedup equivalence with and
without the bloom path."""

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


def test_cogrouped_membership_equals_broadcast(spark):
    """The sharded (cogroup) membership path must flag exactly the same rows
    as the broadcast-UDF path — it is a memory strategy, not a semantics
    change."""
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
    udf, bcast = bloom.make_maybe_seen_udf(
        spark, bloom.collect_sidecar(bloom_df), n_parts
    )
    via_bcast = {
        r.url_norm: r.maybe_seen
        for r in cands.withColumn("maybe_seen", udf("url_hash", "h2")).collect()
    }
    via_cogroup = {
        r.url_norm: r.maybe_seen
        for r in bloom.flag_maybe_seen_cogrouped(cands, bloom_df, n_parts).collect()
    }
    bcast.destroy()
    bloom_df.unpersist()
    assert via_cogroup == via_bcast
    # zero false negatives on the truly-seen overlap
    for i in range(1500, 2000):
        assert via_cogroup[f"http://x.com/{i}"]


def test_engine_dedup_same_with_and_without_bloom(spark, tmp_path_factory,
                                                  monkeypatch):
    """use_bloom is purely an optimization: final seen/fetch_log identical."""
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from spacetime_crawler_spark.sources import synth

    p = synth.world("tiny", n_pages=400)
    pages = synth.generate_pages_df(spark, p).persist()
    seeds = synth.seed_urls(p)

    states = []
    # (use_bloom, BLOOM_BROADCAST_MAX_BYTES): broadcast path, forced-cogroup
    # path, and bloom off — all must produce identical committed state
    for i, (use_bloom, max_bytes) in enumerate(
        [(True, 64 << 20), (True, 0), (False, 64 << 20)]
    ):
        d = str(tmp_path_factory.mktemp(f"bloom_{i}"))
        monkeypatch.setattr(crawl_mod, "BLOOM_BROADCAST_MAX_BYTES", max_bytes)
        cfg = CrawlConfig(state_dir=d, rounds=3, round_budget_s=8.0,
                          use_bloom=use_bloom)
        run = run_crawl(spark, pages, seeds, cfg)
        seen = sorted(
            (r.url_norm, r.round_seen)
            for r in crawl_mod.read_seen(spark, run.io).collect()
        )
        log = sorted(
            (r.round, r.host, r.fetch_seq, r.url_norm)
            for r in crawl_mod.read_fetch_log(spark, run.io, run.rounds_run).collect()
        )
        states.append((seen, log))
        bloom_skips = sum(m.bloom_skipped for m in run.metrics)
        if use_bloom:
            assert bloom_skips > 0  # the prefilter actually fired
    assert states[0] == states[1] == states[2]
