"""Driver-side safety CI guard: every DataFrame.collect() the crawl engine
executes must come from a PINNED call site with a scale-independent row
bound.  The invariant ("no driver-side materialization over an unbounded
state table") was previously upheld by review only; this test makes any
future collect — or growth of an existing one past its bound — a deliberate,
test-visible change."""

from __future__ import annotations

import os
import traceback

import pytest

try:  # PySpark 4: instances are the classic concrete class, not the facade
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - PySpark 3.x
    from pyspark.sql import DataFrame

from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from spacetime_crawler_spark.sources import synth
from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

N_PARTS = 8

# (file, function) -> max rows a single collect may return.  Bounds are in
# engine parameters, never data size: 1-row stats/limit(1) probes, and the
# bloom sidecar's ≤ n_parts rows.  Adding a site here requires arguing its
# bound in review — that is the point.
ALLOWED_COLLECT_SITES = {
    ("crawl.py", "run_crawl"): 1,                 # flagged-cache stats agg
    ("crawl.py", "_bloom_state_matches"): 1,      # limit(1) geometry probe
    ("bloom.py", "collect_sidecar"): N_PARTS,     # one row per part_id
    ("io_tables.py", "_commit_map"): 64,          # ledger: O(rounds·tables)
}


def test_crawl_driver_collects_are_pinned_and_bounded(spark, tmp_path):
    p = synth.world("tiny", n_pages=400)
    pages = synth.generate_pages_df(spark, p).persist()
    seeds = synth.seed_urls(p)

    calls: list[tuple[tuple[str, str] | None, int]] = []
    orig_collect = DataFrame.collect

    def recording(self):
        rows = orig_collect(self)
        site = None
        for fr in reversed(traceback.extract_stack()):
            if "spacetime_crawler_spark" in fr.filename.replace("\\", "/"):
                site = (os.path.basename(fr.filename), fr.name)
                break
        calls.append((site, len(rows)))
        return rows

    def forbidden(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError(
            "toPandas/toLocalIterator must never run inside the crawl engine"
        )

    DataFrame.collect = recording
    orig_topandas = DataFrame.toPandas
    orig_iter = DataFrame.toLocalIterator
    DataFrame.toPandas = forbidden
    DataFrame.toLocalIterator = forbidden
    try:
        cfg = CrawlConfig(
            state_dir=str(tmp_path / "st"), rounds=3, round_budget_s=8.0,
            n_parts=N_PARTS,
        )
        run = run_crawl(spark, pages, seeds, cfg)
        assert run.rounds_run >= 1
        # the resume path exercises the bloom-geometry limit(1) probe
        cfg2 = CrawlConfig(
            state_dir=str(tmp_path / "st"), rounds=4, round_budget_s=8.0,
            n_parts=N_PARTS,
        )
        run_crawl(spark, pages, seeds, cfg2, resume=True)
    finally:
        DataFrame.collect = orig_collect
        DataFrame.toPandas = orig_topandas
        DataFrame.toLocalIterator = orig_iter
    pages.unpersist()

    engine_calls = [(s, n) for s, n in calls if s is not None]
    assert engine_calls, "expected the engine to collect bounded stats"
    seen_sites = set()
    for site, n in engine_calls:
        assert site in ALLOWED_COLLECT_SITES, (
            f"unpinned driver-side collect at {site} — if this collect is "
            "bounded, add it to ALLOWED_COLLECT_SITES with its bound"
        )
        assert n <= ALLOWED_COLLECT_SITES[site], (site, n)
        seen_sites.add(site)
    # the guard must actually exercise the hot sites it exists to pin
    assert ("crawl.py", "run_crawl") in seen_sites
    assert ("bloom.py", "collect_sidecar") in seen_sites


# --- Python crossings: only where a kernel runs ---------------------------------

_PYTHON_NODE = ("Python", "Pandas", "InArrow")


def _plan_nodes(df) -> list[str]:
    """Node names of df's optimized logical plan.  A cached relation is a
    leaf here, so the plan that filled a cache is not counted again."""
    return _tree_nodes(df._jdf.queryExecution().optimizedPlan())


def _physical_nodes(df) -> list[str]:
    """Node names of df's physical plan as adaptive execution first plans
    it, exchanges included.  An in-memory scan is a leaf here too."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return _tree_nodes(plan)


def _tree_nodes(root) -> list[str]:
    names, todo = [], [root]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


def _assert_no_python(names: list[str]) -> None:
    """No Python evaluation node, and no LogicalRDD — the relation a
    Python-RDD createDataFrame (or a checkpoint) reads from."""
    assert not [n for n in names if any(p in n for p in _PYTHON_NODE)], names
    assert "LogicalRDD" not in names, names


class CapturingIO(ParquetManifestIO):
    """Records plan_of(df) for every write, planned while the round's
    caches are still registered."""

    def __init__(self, root, plan_of):
        super().__init__(root)
        self.plan_of = plan_of
        self.plans = {}

    def write(self, table, rnd, df):
        self.plans[(table, rnd)] = self.plan_of(df)
        return super().write(table, rnd, df)


def test_seed_frontier_and_metrics_plans_cross_no_python(spark, tmp_path):
    """Seeds are canonicalized on the driver and the metrics table is built
    on the driver: both reach Spark as Arrow-built local relations, so
    neither plan evaluates Python nor reads a Python RDD.  One round's bloom
    maintenance is a single cogrouped pass over the previous sidecar and the
    round's new keys."""
    from spacetime_crawler_spark.plans import crawl as crawl_mod

    p = synth.world("tiny", n_pages=400)
    pages = synth.generate_pages_df(spark, p).persist()
    seeds = synth.seed_urls(p)
    cfg = CrawlConfig(state_dir=str(tmp_path / "st"), rounds=1,
                      round_budget_s=8.0, n_parts=N_PARTS)

    frontier, seen = crawl_mod.init_frontier(spark, seeds, cfg)
    _assert_no_python(_plan_nodes(frontier))
    _assert_no_python(_plan_nodes(seen))
    assert frontier.count() > 0

    io = CapturingIO(cfg.state_dir, _plan_nodes)
    run = run_crawl(spark, pages, seeds, cfg, io=io)
    pages.unpersist()
    assert run.rounds_run == 1
    _assert_no_python(io.plans[("metrics", 1)])
    # round 0 builds the sidecar with no previous one, round 1 updates it
    for rnd in (0, 1):
        bloom_plan = io.plans[("bloom", rnd)]
        assert bloom_plan.count("FlatMapCoGroupsInPandas") == 1, bloom_plan
        assert "FlatMapGroupsInPandas" not in bloom_plan, bloom_plan
        assert "LogicalRDD" not in bloom_plan, bloom_plan


@pytest.fixture(scope="module")
def crawl3(spark, tmp_path_factory):
    """A 3-round crawl whose writes' physical plans were captured."""
    p = synth.world("tiny", n_pages=400)
    pages = synth.generate_pages_df(spark, p).persist()
    cfg = CrawlConfig(state_dir=str(tmp_path_factory.mktemp("crawl3")),
                      rounds=3, round_budget_s=8.0, n_parts=N_PARTS)
    io = CapturingIO(cfg.state_dir, _physical_nodes)
    run = run_crawl(spark, pages, synth.seed_urls(p), cfg, io=io)
    pages.unpersist()
    assert run.rounds_run == 3
    return run


def test_seen_writes_shuffle_nothing(crawl3):
    """Seen deltas are written as they come: a parquet file records no
    partitioning and the anti-join repartitions seen when it reads it, so
    no Exchange sits above the cached new rows in what run_crawl hands to
    io.write."""
    seen_writes = {k: v for k, v in crawl3.io.plans.items() if k[0] == "seen"}
    assert set(seen_writes) == {("seen", rnd) for rnd in range(4)}
    for key, nodes in seen_writes.items():
        assert not [n for n in nodes if "Exchange" in n], (key, nodes)
    for rnd in (1, 2, 3):
        assert "InMemoryTableScan" in seen_writes[("seen", rnd)]


def test_multi_round_reads_are_one_scan(spark, crawl3):
    """read_seen and read_fetch_log read every committed round of their
    table in ONE parquet scan, not a union of per-round scans."""
    from spacetime_crawler_spark.plans import crawl as crawl_mod

    for df in (crawl_mod.read_seen(spark, crawl3.io),
               crawl_mod.read_fetch_log(spark, crawl3.io, crawl3.rounds_run)):
        nodes = _physical_nodes(df)
        scans = [n for n in nodes if n.startswith("Scan ")]
        assert len(scans) == 1 and scans[0].startswith("Scan parquet"), nodes
