#!/usr/bin/env python
"""Benchmark entrypoint (driver contract + BASELINE.md B7–B9 protocol).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "crawl": {<throughput + scaling-efficiency evidence>}}

Two sections:
1. Headline operator queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
   local[$SPARK_GRAFT_CPUS] — per-query wall seconds.
2. The crawl-engine scaling run (the BASELINE.json north_rule metric):
   the SAME synthetic world + seeds + politeness budget crawled at
   local[N_SMALL] and local[N_BIG] (sandbox stand-in for N vs 4N
   executors); reports URLs fetched+deduped/sec at both sizes and
   efficiency = (T_small / T_big) / (big/small), with a byte-identical
   output gate between the two runs.  Set SPARK_GRAFT_SKIP_CRAWL_BENCH=1
   to emit only section 1.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager as _contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spacetime_crawler_spark.session import host_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
# Default world = 2M pages / 100k seeds, measured 1 core vs 4 cores.
# Phase-instrumented probes (RoundMetrics.phase_s) show per-round parallel
# work W ≈ 215 core-s is dominated by the pages scan + extraction — W
# scales with WORLD SIZE, not the politeness budget (selection is
# frontier-bound, and the scan is O(world) on this unindexed parquet
# layout; the Iceberg bucket layout prunes it on a real cluster) — while
# F ≈ 15 s/round is fixed (broadcast builds + per-job overheads).  The
# T = F + W/cores ceiling is (F + W/N) / (4·(F + W/4N)): at N=2 that is
# ~0.74 — BENCH_r03's first, stable min-of-trials run measured exactly
# that — and the next world size whose N=2 ceiling clears 0.8 (4M pages,
# ~46 GB) does not fit this sandbox's real disk.  At N=1 the same world
# and engine give a ceiling of ~0.84: the small run's wall is almost pure
# W, which is the cluster regime the criterion models.  N=1 vs 4N=4 is
# the brief's own alternative pairing ("N and 4N cores").
CRAWL_PAGES = int(os.environ.get("SPARK_GRAFT_CRAWL_PAGES", "2000000"))
CRAWL_ROUNDS = int(os.environ.get("SPARK_GRAFT_CRAWL_ROUNDS", "3"))
CRAWL_BUDGET = float(os.environ.get("SPARK_GRAFT_CRAWL_BUDGET", "2400"))
CRAWL_SEEDS = int(os.environ.get("SPARK_GRAFT_CRAWL_SEEDS", "100000"))
SMALL_CPUS = int(os.environ.get("SPARK_GRAFT_CRAWL_CORES_SMALL", "1"))
BIG_CPUS = SMALL_CPUS * 4

# The suite membership is pinned per SUITE_VERSION for cross-round
# comparability (r4 set the min-of-2 protocol; membership and version are
# recorded in the artifact so a reader never compares totals across
# protocol changes).  dedup_exact_stats left the driver registry in r5
# (50-row artifact cap — registry.py DRIVER_QUERY_CAP) but stays in the
# suite via the bench-local resolver below.
# 1 = single-shot 10-query (r1-r3); 2 = min-of-2 13-query (r4);
# 3 = r4's set + text_repetition_stats (r5);
# 4 = v3 + remove_duplicate_spans (r5 — the new shuffle-bearing span
# rewrite; map-only r5 additions are deliberately not suite members, the
# scan stage is already measured) — totals compare only within a version,
# per-query minima compare across any version
SUITE_VERSION = 4
HEADLINE = [
    "a4_common_words",
    "a6_host_link_graph",
    "f4_topk_per_key",
    "g_window_running",
    "dedup_exact_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_span_stats",
    "sim_topk_bruteforce",
    "sim_ann_multiprobe",
    "text_quality_score",
    "text_bigrams_topk",
    "text_repetition_stats",
    "multimodal_binary_meta",
    "remove_duplicate_spans",
]


def _stop_drained(spark, timeout_s: float = 10.0) -> None:
    """spark.stop() with in-flight tasks still completing races the Python
    accumulator server's shutdown: each straggler completion (early-exit
    limit/take jobs leave canceled tasks finishing after the result
    returns) makes DAGScheduler.updateAccumulators log a benign
    `PythonAccumulatorV2 ... EOF reached before Python server acknowledged`
    ERROR stack — the noise in the r2/r3 bench tails.  Drain active jobs
    (bounded wait) before stopping so the artifact stderr stays clean; the
    accumulators in question carry no bench data (all gates are Spark-side
    digests read before this point)."""
    st = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    # poll STAGES as well as jobs: an early-exit job completes (and leaves
    # getActiveJobsIds) while its canceled straggler tasks still run inside
    # active stages — the stage view is what actually covers the race
    while (
        (st.getActiveJobsIds() or st.getActiveStageIds())
        and time.monotonic() < deadline
    ):
        time.sleep(0.05)
    time.sleep(0.3)  # let the scheduler's completion events finish merging
    spark.stop()


def _suite_fns() -> dict:
    """HEADLINE name -> callable; registry first, bench-local extras for
    suite members consolidated out of the driver registry by the 50-row cap."""
    from spacetime_crawler_spark.operators import dedup
    from spacetime_crawler_spark.plans.registry import SPARK_QUERIES

    from spacetime_crawler_spark.sources.tables import load_table

    fns = dict(SPARK_QUERIES)
    fns.setdefault("dedup_exact_stats", dedup.dedup_exact_stats)
    fns.setdefault(
        "remove_duplicate_spans",
        lambda spark, sf_dir: dedup.remove_duplicate_spans(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
    )
    return fns


def bench_queries() -> tuple[dict[str, float], dict[str, list[float]], float, dict]:
    from spacetime_crawler_spark.session import get_spark

    fns = _suite_fns()
    # external-interference indicator (what's wrong #2, r4 verdict): the
    # 1/5/15-min load BEFORE the suite plus the 1-min load after each pass
    # make the artifact self-interpreting — a reader can attribute a slow
    # total to machine load without leaving the JSON.
    loads = {
        "start_1_5_15": [round(x, 2) for x in os.getloadavg()],
        "after_pass_1m": [],
    }
    spark = get_spark(master=f"local[{CPUS}]", app_name="bench-queries")
    # warm up the JVM/parquet/Arrow paths so startup cost isn't attributed
    # to the first timed query
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    fns["a2_subdomain_histogram"](spark, SF_DIR).count()
    # min-of-2 trials per query, mirroring the crawl side's protocol: this
    # sandbox shows up to 4× external interference between identical runs
    # (BASELINE.md variance note), and the r3 artifact's uniform ~23% drift
    # across ten unrelated plans was unprovable under single-shot timing.
    # Trials run as two full passes over the suite (not back-to-back per
    # query) so one interference burst can't inflate both samples of the
    # same query.
    trials: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for t in range(2):
        for name in HEADLINE:
            fn = fns[name]
            t0 = time.monotonic()
            n = fn(spark, SF_DIR).count()  # full exec; count forces the plan
            dt = time.monotonic() - t0
            trials[name].append(round(dt, 3))
            print(f"# [{t+1}] {name}: {dt:.2f}s ({n} rows)", file=sys.stderr)
        loads["after_pass_1m"].append(round(os.getloadavg()[0], 2))
    _stop_drained(spark)
    timings = {name: min(ts) for name, ts in trials.items()}
    total = sum(timings.values())
    return timings, trials, total, loads


def state_digest(df, cols: list[str]) -> tuple:
    """Order-insensitive Spark-side digest of a state table: (row count,
    bit_xor of per-row xxhash64, decimal sum of the same hashes).  Two
    tables digest-equal ⟺ equal as multisets of rows up to 64-bit hash
    collision (the xor and the overflow-free decimal(38) sum are
    independent accumulators, and count pins cardinality).  Replaces the
    old full `.collect()`-and-sort identical-output gate, which needed
    O(total state) driver memory and bounded how big the bench world could
    grow; this is three scalars per table regardless of scale."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64({}))".format(", ".join(f"`{c}`" for c in cols))).alias("x"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return (row.n, row.x, None if row.s is None else int(row.s))


def _crawl_once(master: str, pages_dir: str, seeds: list[str], state_dir: str):
    """Run one crawl trial in a FRESH interpreter and return its result
    dict.  Process isolation is load-bearing twice over: (1) a
    stopped-and-recreated SparkContext in one Python process reuses the
    py4j JVM, whose Python-accumulator channel can wedge after the first
    stop — observed as a continuous flood of benign-but-huge
    `ERROR DAGScheduler: Failed to update accumulator` logs through every
    subsequent session (~36k lines in one bench run); (2) every timed
    trial gets identical cold-start conditions instead of inheriting a
    warmed JVM from whichever trial ran first."""
    import json as _json
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory(prefix="scs_trial_") as td:
        argf = os.path.join(td, "args.json")
        outf = os.path.join(td, "out.json")
        with open(argf, "w") as f:
            _json.dump({
                "master": master, "pages_dir": pages_dir,
                "seeds": seeds, "state_dir": state_dir,
            }, f)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--crawl-worker", argf, outf],
            env=os.environ.copy(),
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"crawl trial subprocess failed (rc={proc.returncode},"
                f" master={master})"
            )
        with open(outf) as f:
            res = _json.load(f)
    # JSON round-trips tuples as lists; normalize so digest equality
    # compares structurally across trials
    res["state"] = _json.dumps(res["state"])
    return res


def _crawl_once_impl(master: str, pages_dir: str, seeds: list[str],
                     state_dir: str):
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from spacetime_crawler_spark.session import get_spark

    spark = get_spark(master=master, app_name=f"bench-crawl-{master}")
    pages = spark.read.parquet(pages_dir)
    cfg = CrawlConfig(
        state_dir=state_dir, rounds=CRAWL_ROUNDS, round_budget_s=CRAWL_BUDGET
    )
    load_start = round(os.getloadavg()[0], 2)
    t0 = time.monotonic()
    run = run_crawl(spark, pages, seeds, cfg)
    wall = time.monotonic() - t0
    load_end = round(os.getloadavg()[0], 2)
    fetched = sum(m.urls_selected for m in run.metrics)
    candidates = sum(m.candidates for m in run.metrics)
    new = sum(m.urls_new for m in run.metrics)
    last = run.metrics[-1] if run.metrics else None
    # identical-output gate evidence: digests computed IN SPARK (outside the
    # timed window), never a full-state driver collect
    seen_dig = state_digest(
        crawl_mod.read_seen(spark, run.io), ["url_norm", "round_seen"]
    )
    log_dig = state_digest(
        crawl_mod.read_fetch_log(spark, run.io, run.rounds_run),
        ["round", "host", "fetch_seq", "url_norm", "text_sha256"],
    )
    _stop_drained(spark)
    return {
        "wall_s": wall,
        "urls_fetched": fetched,
        "candidates_deduped": candidates,
        "urls_new": new,
        "throughput": (fetched + candidates) / wall if wall else 0.0,
        # steady-state = the biggest round alone (per-round fixed overhead —
        # job scheduling, commits, Python worker spin-up — amortizes away on
        # long cluster rounds; this isolates the scalable work)
        "last_round_wall_s": last.wall_s if last else 0.0,
        "last_round_work": (last.urls_selected + last.candidates) if last else 0,
        # 1-min loadavg at trial start/end: this process's own Spark workers
        # contribute, but a start load far above `master`'s core count (or a
        # small-side load near 32) reads unambiguously as external
        # interference — the self-interpretation the r4 artifact lacked
        "loadavg_1m": [load_start, load_end],
        "state": (seen_dig, log_dig),
    }


def ensure_world() -> tuple[str, list[str]]:
    """Materialize (or reuse) the cached bench world; returns (pages_dir,
    seeds).  Callable standalone so world generation — excluded from
    timings — can run ahead of the measured pair."""
    from spacetime_crawler_spark.session import get_spark
    from spacetime_crawler_spark.sources import synth

    # many seeds so the frontier saturates immediately — the metric is
    # sustained fetch+dedup throughput, not BFS warm-up latency
    p = synth.world("bench", n_pages=CRAWL_PAGES)
    seeds = synth.spread_seed_urls(p, n_seeds=CRAWL_SEEDS)

    # the world is deterministic (seeded), so materialize it ONCE in a
    # stable location and reuse across bench invocations — generation
    # (~minutes at 1.2M × 20 KB) is excluded from timings either way
    # (BASELINE.md §proto), this just stops re-paying it per run.  The cache
    # key fingerprints the GENERATOR (sample page/robots rows + world
    # params), so any change to synth page/URL/link generation invalidates
    # the cache instead of silently benchmarking a stale world against
    # freshly-computed seeds.  Concurrency/crash discipline (the round-3
    # advice): the sweep is scoped to cache_root ONLY; stale worlds are
    # evicted AFTER the new world's _SUCCESS exists (an ENOSPC mid-
    # generation leaves the previous working world intact, not zero
    # worlds); each reader holds a shared flock on <world>.lock for the
    # process lifetime, and eviction needs a non-blocking exclusive flock —
    # a world being read by a concurrent bench is skipped, never deleted.
    import hashlib
    import tempfile

    sample = repr((
        (p.n_pages, p.n_hosts, p.text_scale),
        synth.page_rows(0, p),
        synth.page_rows(p.n_pages - 1, p),
        synth.robots_rows(p)[:2],
    ))
    tag = hashlib.md5(sample.encode()).hexdigest()[:12]
    cache_root = os.environ.get("SPARK_GRAFT_WORLD_CACHE") or os.path.join(
        tempfile.gettempdir(), "scs_bench_worlds"
    )
    os.makedirs(cache_root, exist_ok=True)
    world_name = f"scs_bench_world_{CRAWL_PAGES}_{tag}"
    pages_dir = os.path.join(cache_root, world_name)
    # shared reader lock FIRST — once held, no concurrent eviction can take
    # the exclusive lock, so the _SUCCESS check below can't race a delete
    _hold_reader_lock(pages_dir + ".lock")
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        # generation serialized across processes; mode("overwrite") inside
        # write_pages_parquet clears any partial previous attempt
        with _locked(os.path.join(cache_root, ".gen.lock")):
            if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
                spark = get_spark(master=f"local[{CPUS}]", app_name="bench-gen")
                synth.write_pages_parquet(spark, p, pages_dir)
                _stop_drained(spark)
    _evict_stale_worlds(cache_root, world_name)
    return pages_dir, seeds


_READER_LOCKS: list = []  # keep shared-lock fds open for the process lifetime


@_contextmanager
def _locked(path: str):
    """Exclusive-flock context manager (blocking)."""
    import fcntl

    with open(path, "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def _hold_reader_lock(lock_path: str) -> None:
    import fcntl

    f = open(lock_path, "a")
    fcntl.flock(f, fcntl.LOCK_SH)
    _READER_LOCKS.append(f)  # released only at process exit


def _evict_stale_worlds(cache_root: str, keep_name: str) -> None:
    """Bound the cache at one world: remove every scs_bench_world_* dir in
    cache_root except keep_name — but only if its reader lock can be taken
    exclusively right now (no concurrent bench is reading it)."""
    import fcntl
    import shutil

    for stale in os.listdir(cache_root):
        if (
            not stale.startswith("scs_bench_world_")
            or stale.endswith(".lock")
            or stale == keep_name
        ):
            continue
        stale_path = os.path.join(cache_root, stale)
        try:
            with open(stale_path + ".lock", "a") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX | fcntl.LOCK_NB)
                shutil.rmtree(stale_path, ignore_errors=True)
                # the lock FILE is deliberately left behind: unlinking it
                # would orphan the inode a concurrent reader may be about
                # to flock (open-but-not-yet-locked window), making its
                # shared lock invisible to future evictions.  Lock files
                # are 0-byte, one per world name — bounded litter.
        except OSError:
            continue  # held by a live reader (or fs race) — leave it


def bench_crawl(tmp_root: str) -> dict:
    pages_dir, seeds = ensure_world()
    ratio = BIG_CPUS / SMALL_CPUS

    def run_small(i):
        return _crawl_once(
            f"local[{SMALL_CPUS}]", pages_dir, seeds,
            os.path.join(tmp_root, f"s_small{i}"),
        )

    def run_big(i):
        return _crawl_once(
            f"local[{BIG_CPUS}]", pages_dir, seeds,
            os.path.join(tmp_root, f"s_big{i}"),
        )

    # BASELINE.md protocol: the sandbox shows up to 4× external interference
    # between identical runs, so timings are min-over-trials — and the
    # retrial must be SYMMETRIC (two trials per side unconditionally): a
    # one-sided retry that only fires when eff < 0.8 corrects errors that
    # deflate the metric but never those that inflate it, biasing the
    # number that gates the ≥0.8 criterion.  Every trial's output digest
    # participates in the identical-output gate; a diverging trial is a
    # REAL determinism failure and must surface, never be discarded.
    smalls = [run_small(1), run_small(2)]
    bigs = [run_big(1), run_big(2)]

    def best(trials):
        # min-of-trials independently for whole-run wall and steady-state
        # wall: outputs are gate-checked identical, so the work is the same
        # and interference in different rounds of different trials is
        # separable noise
        b = dict(min(trials, key=lambda t: t["wall_s"]))
        b["last_round_wall_s"] = min(t["last_round_wall_s"] for t in trials)
        b["wall_s"] = min(t["wall_s"] for t in trials)
        b["throughput"] = (
            (b["urls_fetched"] + b["candidates_deduped"]) / b["wall_s"]
            if b["wall_s"] else 0.0
        )
        return b

    def eff(s, b):
        return (s["wall_s"] / b["wall_s"]) / ratio if b["wall_s"] else 0.0

    small, big = best(smalls), best(bigs)
    # if min-of-2 is still implausible, retrial SYMMETRICALLY — one extra
    # trial on BOTH sides.  A one-sided retry (big-only when eff < 0.8)
    # could only move the gated number toward the plausible band, a
    # residual bias toward the ≥0.8 criterion; an extra sample per side is
    # direction-neutral, and every per-trial wall is recorded in the
    # artifact below so the gate decision is auditable either way.
    cur = eff(small, big)
    if cur < 0.8 or cur > 1.05:
        smalls.append(run_small(3))
        bigs.append(run_big(3))
        small, big = best(smalls), best(bigs)

    states = [t["state"] for t in smalls + bigs]
    identical = all(s == states[0] for s in states[1:])
    efficiency = eff(small, big)
    ss_eff = (
        (small["last_round_wall_s"] / big["last_round_wall_s"]) / ratio
        if big["last_round_wall_s"]
        else 0.0
    )
    out = {
        "world_pages": CRAWL_PAGES,
        "seed_hosts": CRAWL_SEEDS,
        "rounds": CRAWL_ROUNDS,
        "round_budget_s": CRAWL_BUDGET,
        "cores_small": SMALL_CPUS,
        "cores_big": BIG_CPUS,
        "outputs_identical": identical,
        "urls_fetched": big["urls_fetched"],
        "candidates_deduped": big["candidates_deduped"],
        "urls_per_sec_small": round(small["throughput"], 1),
        "urls_per_sec_big": round(big["throughput"], 1),
        "wall_s_small": round(small["wall_s"], 2),
        "wall_s_big": round(big["wall_s"], 2),
        "scaling_efficiency": round(efficiency, 3),
        "steady_state_round_work": big["last_round_work"],
        "steady_state_wall_small": round(small["last_round_wall_s"], 2),
        "steady_state_wall_big": round(big["last_round_wall_s"], 2),
        "steady_state_efficiency": round(ss_eff, 3),
        # full per-trial audit trail: the gated efficiencies above are
        # recomputable from these raw walls, so the min-of-trials decision
        # is verifiable from the artifact alone
        "trial_walls_small": [round(t["wall_s"], 2) for t in smalls],
        "trial_walls_big": [round(t["wall_s"], 2) for t in bigs],
        "trial_steady_walls_small": [
            round(t["last_round_wall_s"], 2) for t in smalls
        ],
        "trial_steady_walls_big": [
            round(t["last_round_wall_s"], 2) for t in bigs
        ],
        "trial_loadavg_small": [t["loadavg_1m"] for t in smalls],
        "trial_loadavg_big": [t["loadavg_1m"] for t in bigs],
    }
    return out


def _crawl_worker(argf: str, outf: str) -> None:
    """Subprocess entrypoint for one isolated crawl trial (see _crawl_once)."""
    import json as _json

    with open(argf) as f:
        a = _json.load(f)
    res = _crawl_once_impl(
        a["master"], a["pages_dir"], a["seeds"], a["state_dir"]
    )
    with open(outf, "w") as f:
        _json.dump(res, f)


def main() -> None:
    if len(sys.argv) == 4 and sys.argv[1] == "--crawl-worker":
        _crawl_worker(sys.argv[2], sys.argv[3])
        return
    timings, trials, total, loads = bench_queries()
    result = {
        "metric": "headline operator suite + crawl URLs fetched+deduped/sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "query_trials": trials,
        # suite identity: totals are only comparable across artifacts with
        # the same (suite_version, suite) — r4's verdict flagged that the
        # 10→13-query growth + min-of-2 protocol change made `value`
        # apples-to-oranges vs r2 with nothing in the JSON saying so
        "suite_version": SUITE_VERSION,
        "suite": HEADLINE,
        "loadavg": loads,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    }
    if not os.environ.get("SPARK_GRAFT_SKIP_CRAWL_BENCH"):
        import tempfile

        with tempfile.TemporaryDirectory(prefix="scs_bench_") as tmp:
            result["crawl"] = bench_crawl(tmp)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
