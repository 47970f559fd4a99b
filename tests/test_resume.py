"""Checkpoint/resume + determinism (SURVEY.md §5.4): a run interrupted after
round 2 and resumed must be byte-identical to an uninterrupted run; two runs
with the same seed must be identical."""

from __future__ import annotations

import os

import pytest

from spacetime_crawler_spark.plans import crawl as crawl_mod
from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from spacetime_crawler_spark.sources import synth

ROUNDS = 4
BUDGET = 8.0


@pytest.fixture(scope="module")
def tiny(spark):
    p = synth.world("tiny", n_pages=600)
    return p, synth.generate_pages_df(spark, p).persist(), synth.seed_urls(p)


def _final_state(spark, io, rounds_run):
    seen = sorted(
        (r.url_norm, r.round_seen)
        for r in crawl_mod.read_seen(spark, io).collect()
    )
    log = sorted(
        (r.round, r.host, r.fetch_seq, r.url_norm, r.status, r.text_sha256)
        for r in crawl_mod.read_fetch_log(spark, io, rounds_run).collect()
    )
    return seen, log


def _run(spark, tiny, tmp, rounds, resume=False, state_dir=None):
    p, pages, seeds = tiny
    state_dir = state_dir or str(tmp)
    cfg = CrawlConfig(state_dir=state_dir, rounds=rounds, round_budget_s=BUDGET)
    run = run_crawl(spark, pages, seeds, cfg, resume=resume)
    return run, state_dir


@pytest.fixture(scope="module")
def full(spark, tiny, tmp_path_factory):
    """The final state of an uninterrupted ROUNDS-round run."""
    run_full, _ = _run(spark, tiny, tmp_path_factory.mktemp("full"), ROUNDS)
    return _final_state(spark, run_full.io, run_full.rounds_run)


def test_resume_equals_uninterrupted(spark, tiny, full, tmp_path_factory):
    # interrupted after round 2, then resumed to ROUNDS
    run_a, state_dir = _run(spark, tiny, tmp_path_factory.mktemp("part"), 2)
    assert run_a.rounds_run == 2
    run_b, _ = _run(spark, tiny, None, ROUNDS, resume=True, state_dir=state_dir)
    resumed = _final_state(spark, run_b.io, run_b.rounds_run)

    assert resumed == full


def test_resume_reads_sidecar_of_the_older_schema(spark, tiny, full,
                                                  tmp_path_factory,
                                                  monkeypatch):
    """A state_dir whose committed sidecar has the older schema (an
    n_items column, no bits_set or count columns) resumes exactly and
    reuses that sidecar: no rebuild from seen."""
    import pyarrow as pa

    from spacetime_crawler_spark.operators import bloom

    run_a, state_dir = _run(spark, tiny, tmp_path_factory.mktemp("old"), 2)
    rows = run_a.io.read(spark, "bloom", 2).collect()
    old = spark.createDataFrame(pa.table({
        "part_id": pa.array([r.part_id for r in rows], pa.int32()),
        "nbits": pa.array([r.nbits for r in rows], pa.int64()),
        "nhashes": pa.array([r.nhashes for r in rows], pa.int32()),
        "n_items": pa.array([r.n_probed for r in rows], pa.int64()),
        "bits": pa.array([bytes(r.bits) for r in rows], pa.binary()),
    }))
    run_a.io.write("bloom", 2, old)  # round 2 stays committed as it was
    assert "n_items" in run_a.io.read(spark, "bloom", 2).columns

    prevs = []
    bloom_pass = bloom.bloom_pass

    def recording(keys, prev, n_parts, *a):
        prevs.append(prev)
        return bloom_pass(keys, prev, n_parts, *a)

    monkeypatch.setattr(bloom, "bloom_pass", recording)
    run_b, _ = _run(spark, tiny, None, ROUNDS, resume=True, state_dir=state_dir)
    monkeypatch.undo()
    assert _final_state(spark, run_b.io, run_b.rounds_run) == full
    # one pass per resumed round, each over a previous sidecar: no rebuild
    assert len(prevs) == ROUNDS - 2
    assert all(prev is not None for prev in prevs)


def test_same_seed_runs_identical(spark, tiny, tmp_path_factory):
    run1, _ = _run(spark, tiny, tmp_path_factory.mktemp("r1"), 3)
    run2, _ = _run(spark, tiny, tmp_path_factory.mktemp("r2"), 3)
    assert _final_state(spark, run1.io, 3) == _final_state(spark, run2.io, 3)


def test_uncommitted_round_is_invisible(spark, tiny, tmp_path_factory):
    """Writing data without the manifest must be invisible to readers — the
    crash-mid-write contract of the commit protocol."""
    from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

    run1, state_dir = _run(spark, tiny, tmp_path_factory.mktemp("c"), 2)
    io = ParquetManifestIO(state_dir)
    last = io.last_committed_round("frontier")
    # simulate a crash: write round last+1 data but never commit
    df = io.read(spark, "frontier", last)
    io.write("frontier", last + 1, df)
    assert io.last_committed_round("frontier") == last
    with pytest.raises(FileNotFoundError):
        io.read(spark, "frontier", last + 1)


def test_round_commit_is_atomic_across_tables(spark, tiny, tmp_path_factory):
    """A crash between a round's table writes must leave NO table of that
    round visible: one round-level manifest is the single commit point, so
    partially-written rounds (e.g. frontier+seen written, fetch_log not)
    cannot be observed — the failure mode ADVICE flagged for per-table
    manifests."""
    from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

    run1, state_dir = _run(spark, tiny, tmp_path_factory.mktemp("at"), 2)
    io = ParquetManifestIO(state_dir)
    last = io.last_committed_round("frontier")
    # crash scenario: round last+1 wrote two of three tables, no commit
    df = io.read(spark, "frontier", last)
    io.write("frontier", last + 1, df)
    io.write("seen", last + 1, io.read(spark, "seen", last))
    for table in ("frontier", "seen", "fetch_log"):
        assert io.last_committed_round(table) <= last
        with pytest.raises(FileNotFoundError):
            io.read(spark, table, last + 1)
    # a later commit for the same round merges tables into one manifest
    io.commit(last + 1, {"frontier": 1})
    io.commit(last + 1, {"seen": 2})
    assert io.manifest("frontier", last + 1)["rows"] == 1
    assert io.manifest("seen", last + 1)["rows"] == 2


def test_long_run_reads_each_table_in_one_scan(spark, tmp_path_factory,
                                               monkeypatch):
    """A 15-round crawl: read_seen and read_fetch_log each make ONE io.read
    call over every committed round, and return exactly the union of the
    per-round reads; no url enters seen twice."""
    from collections import Counter

    p = synth.world("tiny", n_pages=900)
    pages = synth.generate_pages_df(spark, p).persist()
    seeds = synth.seed_urls(p)[:2]  # small seed set + tiny budget → slow BFS
    rounds = 15
    cfg = CrawlConfig(state_dir=str(tmp_path_factory.mktemp("long")),
                      rounds=rounds, round_budget_s=1.0)
    run = run_crawl(spark, pages, seeds, cfg)
    pages.unpersist()
    assert run.rounds_run == rounds, "world too small to sustain 15 rounds"
    io = run.io

    reads = []
    read = io.read

    def counting_read(spark_, table, rnd):
        reads.append((table, rnd))
        return read(spark_, table, rnd)

    monkeypatch.setattr(io, "read", counting_read)
    seen = crawl_mod.read_seen(spark, io)
    log = crawl_mod.read_fetch_log(spark, io, rounds)
    monkeypatch.undo()
    assert reads == [("seen", range(rounds + 1)),
                     ("fetch_log", range(1, rounds + 1))]

    def rows(df):
        return Counter(df.collect())

    def per_round(table, first):
        return sum((rows(io.read(spark, table, rnd))
                    for rnd in range(first, rounds + 1)), Counter())

    seen_rows = rows(seen)
    assert seen_rows == per_round("seen", 0)
    assert rows(log) == per_round("fetch_log", 1)
    assert len({r.url_norm for r in seen_rows}) == sum(seen_rows.values())


def test_adaptive_fetch_join_shuffle_path_equivalent(spark, tiny, tmp_path_factory,
                                                     monkeypatch):
    """Forcing the non-broadcast fetch join (FETCH_BROADCAST_MAX_ROWS=0)
    must leave every committed output byte-identical — it is a physical
    strategy, not a semantics change."""
    run_b, _ = _run(spark, tiny, tmp_path_factory.mktemp("bcast"), 3)
    p, pages, seeds = tiny
    monkeypatch.setattr(crawl_mod, "FETCH_BROADCAST_MAX_ROWS", 0)
    cfg = CrawlConfig(state_dir=str(tmp_path_factory.mktemp("shuf")), rounds=3,
                      round_budget_s=BUDGET)
    run_s = run_crawl(spark, pages, seeds, cfg)
    assert (_final_state(spark, run_s.io, run_s.rounds_run)
            == _final_state(spark, run_b.io, run_b.rounds_run))


def test_resume_with_changed_bloom_geometry_rebuilds(spark, tiny, tmp_path_factory):
    """Resuming under a different n_parts must NOT reuse the committed bloom
    sidecar (its buckets were computed under a different modulus — reuse
    would flag seen URLs as definitely-new and re-admit them).  The engine
    detects the mismatch, rebuilds, and the final state stays identical to
    an uninterrupted run."""
    p, pages, seeds = tiny
    full_cfg = CrawlConfig(state_dir=str(tmp_path_factory.mktemp("geo_full")),
                           rounds=ROUNDS, round_budget_s=BUDGET, n_parts=16)
    run_full = run_crawl(spark, pages, seeds, full_cfg)
    full = _final_state(spark, run_full.io, run_full.rounds_run)

    d = str(tmp_path_factory.mktemp("geo_part"))
    run_crawl(spark, pages, seeds,
              CrawlConfig(state_dir=d, rounds=2, round_budget_s=BUDGET,
                          n_parts=32))
    run_b = run_crawl(spark, pages, seeds,
                      CrawlConfig(state_dir=d, rounds=ROUNDS,
                                  round_budget_s=BUDGET, n_parts=16),
                      resume=True)
    assert _final_state(spark, run_b.io, run_b.rounds_run) == full
    # and the seen set has no duplicate url_norm (the bug's signature)
    seen = crawl_mod.read_seen(spark, run_b.io)
    assert seen.count() == seen.select("url_norm").distinct().count()
    # the rebuild must NOT have rewritten the already-committed round's
    # bloom slice (write-then-commit atomicity): round 2's sidecar still
    # records the ORIGINAL n_parts=32 geometry
    assert run_b.io.manifest("bloom", 2)["rows"] == 32
    # while the resumed rounds committed sidecars under the new geometry
    assert run_b.io.manifest("bloom", run_b.rounds_run)["rows"] == 16


def test_bloom_state_rejects_other_bit_geometry(spark, tiny, tmp_path_factory,
                                                monkeypatch):
    """A committed sidecar whose bits-per-part or hash count differ from the
    engine's constants is never reused on resume (its bit positions were
    computed under another modulus / hash family)."""
    from spacetime_crawler_spark.operators import bloom

    run, state_dir = _run(spark, tiny, tmp_path_factory.mktemp("geo_bits"), 1)
    cfg = CrawlConfig(state_dir=state_dir)
    assert crawl_mod._bloom_state_matches(spark, run.io, 1, cfg)
    monkeypatch.setattr(bloom, "NUM_HASHES", bloom.NUM_HASHES + 1)
    assert not crawl_mod._bloom_state_matches(spark, run.io, 1, cfg)
    monkeypatch.undo()
    monkeypatch.setattr(bloom, "BITS_PER_PART", bloom.BITS_PER_PART * 2)
    assert not crawl_mod._bloom_state_matches(spark, run.io, 1, cfg)


def test_resume_past_completed_run_reports_committed_rounds(spark, tiny,
                                                            tmp_path_factory):
    """A resume that adds zero new rounds must still expose the committed
    crawl (rounds_run = last committed round), not an all-zero summary."""
    run_a, state_dir = _run(spark, tiny, tmp_path_factory.mktemp("done"), 2)
    run_b, _ = _run(spark, tiny, None, 2, resume=True, state_dir=state_dir)
    assert run_b.rounds_run == 2
    assert (_final_state(spark, run_b.io, run_b.rounds_run)
            == _final_state(spark, run_a.io, 2))


def test_fresh_run_fences_stale_state(spark, tiny, tmp_path_factory):
    """resume=False in a reused state_dir must not leak committed rounds
    from the earlier (longer) run into read_seen/read_fetch_log."""

    tmp = tmp_path_factory.mktemp("fence")
    run_long, state_dir = _run(spark, tiny, tmp, ROUNDS)
    assert run_long.rounds_run == ROUNDS
    # the fence must delete ONLY engine state — a user file sharing the
    # state_dir survives a fresh run
    foreign = os.path.join(state_dir, "notes.txt")
    with open(foreign, "w") as f:
        f.write("keep me")
    run_short, _ = _run(spark, tiny, None, 2, state_dir=state_dir)
    assert open(foreign).read() == "keep me"
    assert run_short.rounds_run == 2
    assert run_short.io.last_committed_round("fetch_log") == 2
    seen_rounds = {r.round_seen for r in
                   crawl_mod.read_seen(spark, run_short.io).collect()}
    assert max(seen_rounds) <= 2
    # and the short run's state equals a clean-dir short run's state
    run_clean, _ = _run(spark, tiny, tmp_path_factory.mktemp("clean"), 2)
    assert (_final_state(spark, run_short.io, 2)
            == _final_state(spark, run_clean.io, 2))


def test_metrics_table_carries_phase_breakdown(spark, tiny, tmp_path_factory):
    """F12: the committed metrics table must carry the per-phase wall
    breakdown (phase_s map), not just totals — a cluster operator reads
    W-vs-F scaling behavior off the state table, no driver logs needed —
    and the counts must equal the driver-side RoundMetrics."""
    run, _ = _run(spark, tiny, tmp_path_factory.mktemp("metrics"), 2)
    io = run.io
    mdf = io.read(spark, "metrics", run.rounds_run)
    rows = {r.round: r for r in mdf.collect()}
    assert set(rows) == {m.round for m in run.metrics}
    for m in run.metrics:
        r = rows[m.round]
        assert r.urls_selected == m.urls_selected
        assert r.candidates == m.candidates
        assert r.wall_s == pytest.approx(m.wall_s)
        assert dict(r.phase_s) == pytest.approx(m.phase_s)
        # every round spends time in the core phases
        for phase in ("fetch_extract_write", "frontier_write", "seen_write"):
            assert phase in r.phase_s, (m.round, r.phase_s)


def test_failed_write_in_round_batch_leaves_round_uncommitted(spark, tiny,
                                                              tmp_path_factory):
    """A round's writes run as one concurrent batch.  When one of them
    raises, run_crawl re-raises only after every submitted write has
    finished, the round gets no manifest, no batch thread outlives the call,
    no cache of the call outlives it, and a resume ends in the same state
    as an uninterrupted run."""
    import threading
    import time

    from bench import state_digest
    from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

    class FailingBloomIO(ParquetManifestIO):
        """Round 1's seen write is slow; its bloom write raises at once,
        while the seen write is still running."""

        def __init__(self, root):
            super().__init__(root)
            self.spans = {}  # table -> (start, end) of round-1 writes
            self.raised_at = None

        def write(self, table, rnd, df):
            if rnd != 1:
                return super().write(table, rnd, df)
            start = time.monotonic()
            try:
                if table == "bloom":
                    self.raised_at = time.monotonic()
                    raise RuntimeError("injected bloom write failure")
                if table == "seen":
                    time.sleep(2.0)
                return super().write(table, rnd, df)
            finally:
                self.spans[table] = (start, time.monotonic())

    p, pages, seeds = tiny
    state_dir = str(tmp_path_factory.mktemp("batch_fail"))
    io = FailingBloomIO(state_dir)
    pages.count()  # fill the fixture's own cache before counting caches
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected bloom write failure"):
        run_crawl(spark, pages, seeds,
                  CrawlConfig(state_dir=state_dir, rounds=ROUNDS,
                              round_budget_s=BUDGET), io=io)
    caught_at = time.monotonic()

    # every submitted write of the batch ran, and all had ended before the
    # error reached the caller — the seen write outlasted the failure
    assert set(io.spans) == {"fetch_log", "frontier", "seen", "bloom"}
    assert all(end <= caught_at for _, end in io.spans.values())
    assert io.spans["seen"][1] > io.raised_at
    # the failed round was never committed
    assert io.last_committed_round("frontier") == 0
    assert not os.path.exists(io._manifest_path(1))
    # the batch pool was shut down with the call
    assert not [t for t in threading.enumerate()
                if t.name.startswith("crawl-batch")]
    # every cache of the call was released with the error
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= persisted

    run_full, _ = _run(spark, tiny, tmp_path_factory.mktemp("batch_full"), ROUNDS)
    run_res, _ = _run(spark, tiny, None, ROUNDS, resume=True, state_dir=state_dir)
    assert run_res.rounds_run == run_full.rounds_run

    def digests(run):
        return (
            state_digest(crawl_mod.read_seen(spark, run.io),
                         ["url_norm", "round_seen"]),
            state_digest(
                crawl_mod.read_fetch_log(spark, run.io, run.rounds_run),
                ["round", "host", "fetch_seq", "url_norm", "status",
                 "text_sha256", "due_s"],
            ),
        )

    assert digests(run_res) == digests(run_full)
