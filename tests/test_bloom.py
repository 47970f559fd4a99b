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
    _insert,
    _positions,
    _probe,
)


def _bitmap(h1, h2, nbits, k):
    """A bitmap holding the keys (h1, h2), built in numpy alone."""
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    _insert(bits, _positions(np.asarray(h1), np.asarray(h2), k, nbits))
    return bits


def _test_membership(h1, h2, nbits, k, bits):
    return _probe(bits, _positions(np.asarray(h1), np.asarray(h2), k, nbits))


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
    bits = _bitmap(h1, h2, BITS_PER_PART, NUM_HASHES)
    assert _test_membership(h1, h2, BITS_PER_PART, NUM_HASHES, bits).all()


def test_fpr_in_range():
    """At the documented per-bucket capacity (200k keys in 2^21 bits, 7
    hashes) the FPR stays under 1%: theory (1 - e^(-7·200k/2^21))^7 ≈ 0.65%."""
    assert (BITS_PER_PART, NUM_HASHES) == (1 << 21, 7)
    rng = np.random.RandomState(7)
    n = 200_000
    h1 = rng.randint(-(2**63), 2**63 - 1, size=2 * n, dtype=np.int64)
    h2 = rng.randint(-(2**31), 2**31 - 1, size=2 * n, dtype=np.int64)
    bits = _bitmap(h1[:n], h2[:n], BITS_PER_PART, NUM_HASHES)
    hits = _test_membership(h1[n:], h2[n:], BITS_PER_PART, NUM_HASHES, bits)
    fpr = hits.mean()
    assert fpr < 0.01, fpr


def _popcount(bits: bytes) -> int:
    return int(np.unpackbits(np.frombuffer(bits, dtype=np.uint8)).sum())


def test_bloom_pass_sidecar_is_exact_or(spark):
    """The next sidecar of one bloom pass: passing a second key set over a
    sidecar (one cogrouped pass, OR per bucket) ≡ one sidecar built from the
    union of the keys — also for buckets only one of the two sides has —
    and every row carries its bitmap's popcount and the pass's counts."""
    from pyspark.sql import functions as F

    from spacetime_crawler_spark.operators import bloom

    n_parts, nbits, k = 4, 1 << 12, 5

    def next_sidecar(keys, prev):
        return bloom.sidecar(bloom.bloom_pass(keys, prev, n_parts, nbits, k))

    df1 = spark.range(0, 500).select(
        F.xxhash64("id").alias("url_hash"), F.hash("id").alias("h2")
    )
    df2 = spark.range(400, 900).select(
        F.xxhash64("id").alias("url_hash"), F.hash("id").alias("h2")
    )
    first = next_sidecar(df1, None).persist()
    updated = bloom.collect_sidecar(next_sidecar(df2, first))
    direct = bloom.collect_sidecar(next_sidecar(df1.unionByName(df2), None))
    assert set(updated) == set(direct) == set(range(n_parts))
    for part in direct:
        assert updated[part] == direct[part]
    # buckets with a previous row but no key keep their bitmap
    one_bucket = df2.filter(F.pmod("url_hash", F.lit(n_parts)) == 0)
    kept = bloom.collect_sidecar(next_sidecar(one_bucket, first))
    before = bloom.collect_sidecar(first)
    assert set(kept) == set(before)
    for part in (1, 2, 3):
        assert kept[part] == before[part]
    # bits_set is each bitmap's popcount; the counts are the pass's: df2's
    # 500 keys probed, at least its 100 keys shared with df1 maybe-seen
    rows = next_sidecar(df2, first).collect()
    first.unpersist()
    assert all(r.bits_set == _popcount(r.bits) for r in rows)
    assert sum(r.n_probed for r in rows) == 500
    assert 100 <= sum(r.n_maybe_seen for r in rows) < 500


def test_cogrouped_membership_matches_numpy_reference(spark):
    """The bloom pass flags exactly the rows a numpy probe of the collected
    sidecar flags, with zero false negatives on the seen overlap, and its
    sidecar rows count the probed and flagged keys."""
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
    bloom_df = bloom.sidecar(
        bloom.bloom_pass(seen, None, n_parts, nbits, k)
    ).persist()
    sidecar = bloom.collect_sidecar(bloom_df)
    probed = bloom.bloom_pass(cands, bloom_df, n_parts, nbits, k).persist()
    flagged = bloom.flags(probed).collect()
    counts = bloom.sidecar(probed).agg(
        F.sum("n_probed"), F.sum("n_maybe_seen")
    ).first()
    probed.unpersist()
    bloom_df.unpersist()
    assert all(r.depth == 1 for r in flagged)
    via_cogroup = {r.url_norm: r.maybe_seen for r in flagged}

    rows = cands.collect()
    h1 = np.array([r.url_hash for r in rows], dtype=np.int64)
    h2 = np.array([r.h2 for r in rows], dtype=np.int64)
    parts = np.mod(h1, n_parts)
    expected = np.zeros(len(rows), dtype=bool)
    for part, (part_bits, part_k, bits) in sidecar.items():
        mask = parts == part
        pos = bloom._positions(h1[mask], h2[mask], part_k, part_bits)
        bitmap = np.frombuffer(bits, dtype=np.uint8)
        expected[mask] = bloom._probe(bitmap, pos)
    assert via_cogroup == {
        r.url_norm: bool(e) for r, e in zip(rows, expected)
    }
    assert tuple(counts) == (len(rows), int(expected.sum()))
    # zero false negatives on the truly-seen overlap
    for i in range(1500, 2000):
        assert via_cogroup[f"http://x.com/{i}"]
    # the bloom must also reject most of the unseen candidates
    assert sum(via_cogroup[f"http://x.com/{i}"] for i in range(2000, 4000)) < 200


ROUNDS, BUDGET = 3, 8.0


@pytest.fixture(scope="module")
def bloom_crawl(spark, tmp_path_factory):
    """A 3-round crawl of a 400-page tiny world, and that world."""
    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from spacetime_crawler_spark.sources import synth

    p = synth.world("tiny", n_pages=400)
    seeds = synth.seed_urls(p)
    pages = synth.generate_pages_df(spark, p).persist()
    cfg = CrawlConfig(state_dir=str(tmp_path_factory.mktemp("bloom_crawl")),
                      rounds=ROUNDS, round_budget_s=BUDGET)
    run = run_crawl(spark, pages, seeds, cfg)
    pages.unpersist()
    return run, cfg, p, seeds


def test_engine_bloom_crawl_matches_reference(spark, bloom_crawl):
    """The crawl's committed seen set and fetch order, with every candidate
    probed through the cogrouped bloom, equal the single-node reference
    crawl on the same world, and the prefilter actually skips candidates."""
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.sources import synth
    from tests import reference_impl

    run, _, p, seeds = bloom_crawl
    seen = {r.url_norm: r.round_seen
            for r in crawl_mod.read_seen(spark, run.io).collect()}
    log = sorted(
        (r.round, r.host, r.fetch_seq, r.url_norm)
        for r in crawl_mod.read_fetch_log(spark, run.io, run.rounds_run).collect()
    )

    oracle = reference_impl.crawl(synth.driver_side_pages(p), seeds,
                                  rounds=ROUNDS, round_budget_s=BUDGET)
    assert seen == oracle.seen
    assert log == oracle.ordering_key()
    assert sum(m.bloom_skipped for m in run.metrics) > 0  # the prefilter fired


def test_committed_sidecars_equal_numpy_builds_of_seen(spark, bloom_crawl):
    """One pass per round ORs every candidate, not only the new urls, into
    the sidecar; that is exact: each committed slice r equals, byte for
    byte, the bitmaps numpy builds from seen rounds 0..r, and each row's
    bits_set is its bitmap's popcount."""
    run, cfg, _, _ = bloom_crawl
    assert run.rounds_run == ROUNDS
    for rnd in range(ROUNDS + 1):
        keys = run.io.read(spark, "seen", range(rnd + 1)).select(
            "url_hash", "h2").collect()
        h1 = np.array([r.url_hash for r in keys], dtype=np.int64)
        h2 = np.array([r.h2 for r in keys], dtype=np.int64)
        parts = np.mod(h1, cfg.n_parts)
        expected = {
            int(part): _bitmap(h1[parts == part], h2[parts == part],
                               BITS_PER_PART, NUM_HASHES).tobytes()
            for part in np.unique(parts)
        }
        rows = run.io.read(spark, "bloom", rnd).collect()
        assert {r.part_id: bytes(r.bits) for r in rows} == expected, rnd
        for r in rows:
            assert (r.nbits, r.nhashes) == (BITS_PER_PART, NUM_HASHES)
            assert r.bits_set == _popcount(r.bits)
