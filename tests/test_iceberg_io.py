"""IcebergIO contract tests against an in-memory store: round resolution,
cross-table commit atomicity, idempotent round rewrite, range reads (next
to the parquet backend's), and full-engine parity with the parquet backend.
The Iceberg-specific calls live in SparkIcebergStore (jar-gated, untestable
offline); everything exercised here is the backend-independent logic the
crawl engine actually depends on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacetime_crawler_spark.sources.io_tables import (
    ICEBERG_BUCKETS,
    STATE_ROUND_COL,
    IcebergIO,
    iceberg_layout,
)


class FakeStore:
    """In-memory TableStore: append/replace_round/read over held DataFrames.
    localCheckpoint(eager) mimics Iceberg's materialize-on-commit so reads
    never recompute writer lineage.  On first create it records the SAME
    partition spec SparkIcebergStore._create would issue as DDL, so the
    contract tests can assert the requested layout without Iceberg jars."""

    def __init__(self, spark, n_buckets=None):
        from spacetime_crawler_spark.sources.io_tables import ICEBERG_BUCKETS

        self.spark = spark
        self.tables: dict = {}
        self.layouts: dict = {}
        # mirror SparkIcebergStore's constructor contract so the engine's
        # n_buckets ≡ n_parts wiring check is exercised against this fake
        self.n_buckets = ICEBERG_BUCKETS if n_buckets is None else n_buckets

    def _put(self, name, df):
        if name not in self.tables:
            self.layouts[name] = iceberg_layout(
                name, df.columns, self.n_buckets
            )
        self.tables[name] = df.localCheckpoint(eager=True)

    def append_rows(self, name, rows, schema):
        df = self.spark.createDataFrame(rows, schema)
        if name in self.tables:
            self._put(name, self.tables[name].unionByName(df))
        else:
            self._put(name, df)

    def replace_round(self, name, rnd, df):
        if name in self.tables:
            kept = self.tables[name].filter(F.col(STATE_ROUND_COL) != rnd)
            self._put(name, kept.unionByName(df))
        else:
            self._put(name, df)

    def read(self, name):
        if name not in self.tables:
            raise FileNotFoundError(name)
        return self.tables[name]

    def drop_all(self):
        self.tables.clear()
        self.layouts.clear()


@pytest.fixture()
def iio(spark):
    return IcebergIO(FakeStore(spark))


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def test_uncommitted_write_is_invisible(spark, iio):
    iio.write("frontier", 0, _df(spark, [1, 2]))
    assert iio.last_committed_round("frontier") is None
    with pytest.raises(FileNotFoundError):
        iio.read(spark, "frontier", 0)
    iio.commit(0, {"frontier": 2})
    assert iio.last_committed_round("frontier") == 0
    assert sorted(r.x for r in iio.read(spark, "frontier", 0).collect()) == [1, 2]


def test_commit_publishes_all_tables_atomically(spark, iio):
    """One ledger row covers every table of the round: before it, nothing is
    visible; after it, everything is — no partially-visible rounds."""
    iio.write("frontier", 1, _df(spark, [1]))
    iio.write("seen", 1, _df(spark, [2]))
    iio.write("fetch_log", 1, _df(spark, [3]))
    for t in ("frontier", "seen", "fetch_log"):
        with pytest.raises(FileNotFoundError):
            iio.read(spark, t, 1)
    iio.commit(1, {"frontier": 1, "seen": 1, "fetch_log": 1})
    for t in ("frontier", "seen", "fetch_log"):
        assert iio.read(spark, t, 1).count() == 1
        assert iio.manifest(t, 1)["rows"] == 1


def test_replace_round_is_idempotent(spark, iio):
    """Re-running an uncommitted round (crash-recovery) must overwrite its
    own leftovers, not append duplicates."""
    iio.write("frontier", 2, _df(spark, [1, 2, 3]))
    iio.write("frontier", 2, _df(spark, [4, 5]))
    iio.commit(2, {"frontier": 2})
    assert sorted(r.x for r in iio.read(spark, "frontier", 2).collect()) == [4, 5]


def test_rounds_and_reset(spark, iio):
    for rnd in (0, 1, 2):
        iio.write("seen", rnd, _df(spark, [rnd]))
        iio.commit(rnd, {"seen": 1})
    assert iio.committed_rounds("seen") == [0, 1, 2]
    assert iio.last_committed_round("seen") == 2
    iio.reset()
    assert iio.last_committed_round("seen") is None


def test_payload_round_column_passes_through(spark, iio):
    """fetch_log carries its own `round` column — the state-round marker
    must not collide with or clobber it."""
    df = spark.createDataFrame([(7, "a")], "round int, host string")
    iio.write("fetch_log", 1, df)
    iio.commit(1, {"fetch_log": 1})
    row = iio.read(spark, "fetch_log", 1).collect()[0]
    assert row.round == 7 and row.host == "a"
    assert STATE_ROUND_COL not in iio.read(spark, "fetch_log", 1).columns


@pytest.mark.parametrize("backend", ["parquet", "iceberg"])
def test_range_read_is_one_scan_of_committed_rounds(spark, tmp_path, backend):
    """read(table, range) returns exactly the union of the range's committed
    slices (Iceberg: from one store read); an uncommitted round inside the
    range raises, and a slice written past the range but never committed
    does not appear."""
    from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

    table_reads = []
    if backend == "parquet":
        io = ParquetManifestIO(str(tmp_path / "st"))
    else:
        io = IcebergIO(FakeStore(spark))
        store_read = io.store.read

        def counting_store_read(name):
            if name != IcebergIO.COMMITS_TABLE:
                table_reads.append(name)
            return store_read(name)

        io.store.read = counting_store_read
    for rnd in range(4):  # round 3 is written, never committed
        io.write("seen", rnd, _df(spark, [10 * rnd, 10 * rnd + 1]))
        if rnd < 3:
            io.commit(rnd, {"seen": 2})

    def xs(df):
        return sorted(r.x for r in df.collect())

    whole = io.read(spark, "seen", range(3))
    assert table_reads == ([] if backend == "parquet" else ["seen"])
    assert xs(whole) == [0, 1, 10, 11, 20, 21]
    assert xs(whole) == sorted(
        x for rnd in range(3) for x in xs(io.read(spark, "seen", rnd))
    )
    assert xs(io.read(spark, "seen", range(1, 3))) == [10, 11, 20, 21]
    with pytest.raises(FileNotFoundError):
        io.read(spark, "seen", range(4))
    io.write("fetch_log", 2, _df(spark, [7]))
    io.commit(2, {"fetch_log": 1})
    with pytest.raises(FileNotFoundError):  # round 1 of fetch_log: a hole
        io.read(spark, "fetch_log", range(1, 3))


def test_bucketed_table_layout_requested(spark, iio):
    """SURVEY §1.2 promises `seen` laid out as bucket(P, url_hash) — assert
    the DDL spec the store is asked to create: identity(_state_round) on
    every table, plus bucket(P, url_hash) on the url_hash-keyed ones (which
    makes the F3 anti-join storage-co-partitioned on a real catalog)."""
    df = spark.createDataFrame(
        [("u", 1, 2, 0)], "url_norm string, url_hash long, h2 int, round_seen int"
    )
    iio.write("seen", 0, df)
    iio.write("fetch_log", 0, spark.createDataFrame([(1, "h")], "round int, host string"))
    assert iio.store.layouts["seen"] == (
        ("identity", STATE_ROUND_COL),
        ("bucket", ICEBERG_BUCKETS, "url_hash"),
    )
    # non-keyed tables partition by round only — never a spurious bucket spec
    assert iio.store.layouts["fetch_log"] == (("identity", STATE_ROUND_COL),)
    # the pure spec function used by the real DDL agrees
    assert iceberg_layout("frontier", ["url_norm", "url_hash", STATE_ROUND_COL]) == (
        ("identity", STATE_ROUND_COL),
        ("bucket", ICEBERG_BUCKETS, "url_hash"),
    )
    # a non-default P flows into the bucket spec (must match CrawlConfig.n_parts)
    assert iceberg_layout(
        "seen", ["url_hash", STATE_ROUND_COL], n_buckets=64
    ) == (("identity", STATE_ROUND_COL), ("bucket", 64, "url_hash"))


def test_full_crawl_engine_parity_with_parquet_backend(spark, tmp_path):
    """The whole crawl engine runs over IcebergIO(FakeStore) and commits
    byte-identical state to the parquet backend — proving the engine↔IO
    contract is complete, not just the happy-path calls."""
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from spacetime_crawler_spark.sources import synth

    p = synth.world("tiny", n_pages=400)
    pages = synth.generate_pages_df(spark, p).persist()
    seeds = synth.seed_urls(p)

    def state(run):
        seen = sorted(
            (r.url_norm, r.round_seen)
            for r in crawl_mod.read_seen(spark, run.io).collect()
        )
        log = sorted(
            (r.round, r.host, r.fetch_seq, r.url_norm, r.text_sha256)
            for r in crawl_mod.read_fetch_log(spark, run.io, run.rounds_run).collect()
        )
        return seen, log

    cfg_pq = CrawlConfig(state_dir=str(tmp_path / "pq"), rounds=3, round_budget_s=8.0)
    run_pq = run_crawl(spark, pages, seeds, cfg_pq)

    cfg_ib = CrawlConfig(state_dir=str(tmp_path / "ib"), rounds=3, round_budget_s=8.0)
    run_ib = run_crawl(
        spark, pages, seeds, cfg_ib, io=IcebergIO(FakeStore(spark))
    )
    assert run_ib.rounds_run == run_pq.rounds_run
    assert state(run_ib) == state(run_pq)
    pages.unpersist()


def test_bucket_wiring_mismatch_raises(spark, tmp_path):
    """A store whose bucket(P, url_hash) modulus differs from
    CrawlConfig.n_parts must fail loudly at run_crawl start — the silent
    alternative is a layout the engine's pmod(url_hash, P) repartitioning
    can never storage-co-join with (the io_tables.py ICEBERG_BUCKETS
    contract, formerly comment-only)."""
    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl

    cfg = CrawlConfig(
        state_dir=str(tmp_path / "mm"), rounds=1, round_budget_s=4.0,
        n_parts=16,
    )
    with pytest.raises(ValueError, match="n_buckets"):
        run_crawl(
            spark, spark.range(0).selectExpr("'u' as url"), ["http://a.com/"],
            cfg, io=IcebergIO(FakeStore(spark)),  # default 32-bucket store
        )


def test_run_py_threads_parts_into_store(spark, monkeypatch, tmp_path):
    """run.py --iceberg --parts P constructs the store with n_buckets=P
    (the round-3 latent bug: a default-bucket store silently mismatched a
    non-default --parts)."""
    import sys

    import run as run_mod
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.sources import io_tables

    captured = {}

    class RecordingStore(FakeStore):
        def __init__(self, spark_, catalog, namespace, n_buckets=None):
            super().__init__(spark_, n_buckets=n_buckets)
            captured["n_buckets"] = self.n_buckets

    class DummyRun:
        rounds_run = 0
        metrics = []

    def fake_run_crawl(spark_, pages, seeds, cfg, resume=False, io=None):
        captured["n_parts"] = cfg.n_parts
        captured["io"] = io
        return DummyRun()

    monkeypatch.setattr(io_tables, "SparkIcebergStore", RecordingStore)
    monkeypatch.setattr(crawl_mod, "run_crawl", fake_run_crawl)
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--synth", "tiny", "--rounds", "1",
        "--state-dir", str(tmp_path / "st"), "--parts", "16",
        "--iceberg", "cat.ns",
    ])
    # get_spark reuses the session fixture's active session; stop() on the
    # shared session would kill the fixture — neuter it for this test
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    run_mod.main()
    assert captured["n_buckets"] == 16
    assert captured["n_parts"] == 16
    assert captured["io"].store.n_buckets == 16
