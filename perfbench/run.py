#!/usr/bin/env python3
"""perfbench — the crawl engine and the query suite, end to end and per layer.

    python3 perfbench/run.py --workload crawl_sparse --seed 1 --seconds 1 --trace 0

Workloads (README.md next to this file has the full description):

- ``crawl_sparse``: a politeness-bound crawl of a fat-page synthetic world
  through ``plans.crawl.run_crawl``; the seed picks the seed-URL sample.
- ``suite_sf01``: two ``bench.py`` HEADLINE queries (near-dup detection and
  similarity search) over sf0.1-sized tables the seed generates.

Every measured job runs in a fresh interpreter (worker.py).  Inputs are
generated once per checkout under perfbench/.work and read once before
any timing.  Outputs are checked against pinned digests (pins.json) or,
for an unpinned seed, against the first run of the same seed in this
checkout; a mismatch or an exception is a failed operation.  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced job.  The line
before it (``# report ...``) records the host, the contention, the raw
per-job figures and the same metrics under the names ROADMAP.md and
bench.py use (crawl_urls_per_s, first_round_s, suite_total_s, ...).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import asdict, dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

from spacetime_crawler_spark.sources import synth  # noqa: E402  (needs the full checkout)
from tracing import WRITE_PHASE  # noqa: E402

# the query suite: the largest dedup member of the bench.py HEADLINE suite
# (ROADMAP item 4's target) and its exact similarity search; the other
# thirteen do not fit the run budget (README.md)
SUITE = ("dedup_ngram_jaccard", "sim_topk_bruteforce")
# seconds a run's jobs may take after its inputs exist; a run must end within
# 180 s, and input generation is the one step allowed to take longer
RUN_BUDGET_S = 170.0
SUITE_TABLES = ("documents", "embeddings")


@dataclass(frozen=True)
class CrawlWorkload:
    n_pages: int
    n_seeds: int
    budget_s: float
    rounds: int
    compact_every: int
    text_scale: int = 64
    n_hosts: int = 2000


@dataclass(frozen=True)
class SuiteWorkload:
    scale: float = 1.0


WORKLOADS = {
    "crawl_sparse": CrawlWorkload(
        n_pages=6_000, n_seeds=4_000, budget_s=2.0, rounds=1, compact_every=1,
    ),
    "suite_sf01": SuiteWorkload(),
}

END_TO_END = {
    "items_per_s": "1/s",
    "job_s": "s",
    "cold_s": "s",
    "cpu_ms_per_item": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PHASES = ("prep", "fetch", "between", "frontier", "seen", "bloom", "compact")
# per phase: the event log's task metrics, and read_mb, the bytes the Spark
# JVM read (its /proc rchar) while the phase ran
EVENT_METRICS = {
    "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
}
STAGE_METRICS = {**EVENT_METRICS, "read_mb": "MB"}
PER_LAYER = {
    # plans.crawl
    **{f"phase.{p}_s": "s" for p in (
        "fetch", "frontier", "seen", "bloom", "between", "commit", "compact")},
    "round.prep_s": "s", "round1.fetch_s": "s", "round.steady_s": "s",
    "round.scan_s": "s", "round.scan_mb": "MB", "round.fixed_s": "s",
    # session
    "spark.jobs": "count", "spark.stages": "count",
    **{f"spark.{m}": u for m, u in STAGE_METRICS.items()},
    **{f"spark.{p}.{m}": u for p in PHASES for m, u in STAGE_METRICS.items()},
    "cores_busy": "cores",
    # functions, operators.udfs, operators.bloom, operators.politeness
    "kernel.extract_page_us": "us", "kernel.canonicalize_us": "us",
    "udf.extract_overhead_x": "x", "udf.bytes_to_python_mb": "MB",
    "bloom.skip_ratio": "ratio", "bloom.fpr": "ratio", "bloom.collect_s": "s",
    "sched.frontier_rows": "count", "sched.selected": "count",
    "sched.selected_ratio": "ratio",
    # sources.io_tables
    **{f"io.bytes_per_url.{t}": "B/url" for t in ("fetch_log", "frontier", "seen", "bloom")},
    "io.files_per_round": "count", "io.state_mb": "MB",
    # query suite
    **{f"query.{q}_s": "s" for q in SUITE},
    "trace.overhead_x": "x",
}


# --- host ----------------------------------------------------------------------

def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def host_settings() -> dict:
    """Cores and driver heap sized to the host: at most 4 cores, and a heap
    of a quarter of RAM capped at 6g unless SPARK_GRAFT_DRIVER_MEM is set."""
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    mem = mem_total_mb()
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{max(1, min(6, mem // 4096))}g")
    cores = min(4, nproc)
    return {
        "nproc": nproc, "mem_total_mb": mem, "driver_mem": driver_mem,
        "cores": cores, "master": f"local[{cores}]",
        "spark": pyspark.__version__, "python": platform.python_version(),
    }


# --- worker processes -------------------------------------------------------------

def _session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes of session `sid`."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(pid))
    return out


def _end_session(sid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the worker's session (its JVM and the
    Python workers the JVM forks) to end; terminate stragglers."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        members = _session_members(sid)
        if not members:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 5.0
            for pid in members:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


class Runner:
    """Spawns worker.py jobs with the host's settings, each in its own
    session so that every process it leaves behind can be found and
    waited for."""

    def __init__(self, host: dict, budget_s: float) -> None:
        self.host = host
        self.budget_s = budget_s
        self.deadline: float | None = None
        self.local_dir = os.path.join(WORK, "spark-local")
        self.tmp_dir = os.path.join(WORK, "tmp")
        self.n = 0

    def run(self, job: str, timeout_s: float | None = None, **args) -> dict:
        """Run one job; without `timeout_s` the job shares the run's budget,
        whose clock starts at the first such job (after input generation)."""
        if timeout_s is None:
            if self.deadline is None:
                self.deadline = time.monotonic() + self.budget_s
            timeout_s = self.deadline - time.monotonic()
        self.n += 1
        for d in (self.local_dir, self.tmp_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        io_dir = os.path.join(WORK, "jobs")
        os.makedirs(io_dir, exist_ok=True)
        argf = os.path.join(io_dir, f"{self.n}-args.json")
        outf = os.path.join(io_dir, f"{self.n}-out.json")
        if os.path.exists(outf):
            os.remove(outf)
        with open(argf, "w") as f:
            json.dump({"job": job, "cores": self.host["cores"], **args}, f)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_DRIVER_MEM": self.host["driver_mem"],
            "SPARK_LOCAL_DIRS": self.local_dir,
            "TMPDIR": self.tmp_dir,
            # every JVM the job starts (the launcher and the driver) keeps its
            # temp files in the checkout and writes no perf-data file to /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}",
            "PYSPARK_PYTHON": sys.executable,
        })
        spawn_t = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), argf, outf, repr(spawn_t)],
            env=env, stdout=sys.stderr, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(5.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        finally:
            _end_session(proc.pid)
        if rc != 0:
            raise RuntimeError(f"{job} job failed (exit {rc})")
        with open(outf) as f:
            return json.load(f)


# --- inputs -------------------------------------------------------------------------

def world_params(w: CrawlWorkload) -> synth.WorldParams:
    return synth.WorldParams("bench", w.n_pages, w.n_hosts, w.text_scale)


def world_fingerprint(p: synth.WorldParams) -> str:
    """Generator fingerprint: world params plus sample rows, so any change to
    synth's page, link or robots model names a different world."""
    sample = repr((
        asdict(p), synth.page_rows(0, p), synth.page_rows(p.n_pages - 1, p),
        synth.robots_rows(p)[:2],
    ))
    return hashlib.md5(sample.encode()).hexdigest()[:12]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
    )


def warm(path: str) -> int:
    """Read every file once so no timing pays a cold page cache."""
    total = 0
    for d, _, names in os.walk(path):
        for n in sorted(names):
            with open(os.path.join(d, n), "rb") as f:
                while chunk := f.read(1 << 20):
                    total += len(chunk)
    return total


def ensure_world(runner: Runner, w: CrawlWorkload) -> tuple[str, dict]:
    p = world_params(w)
    fp = world_fingerprint(p)
    path = os.path.join(WORK, f"world-{fp}")
    generated_s = 0.0
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        for old in os.listdir(WORK):
            if old.startswith("world-"):
                shutil.rmtree(os.path.join(WORK, old))
        t = time.monotonic()
        runner.run("world", timeout_s=850.0, world=asdict(p), out_dir=path + ".tmp")
        os.rename(path + ".tmp", path)
        generated_s = time.monotonic() - t
    return path, {
        "pages": p.n_pages, "hosts": p.n_hosts, "text_scale": p.text_scale,
        "bytes_on_disk": dir_bytes(path), "fingerprint": fp,
        "generated_s": generated_s, "page_cache_warmed": warm(path) > 0,
    }


def ensure_suite_data(w: SuiteWorkload, seed: int) -> tuple[str, dict]:
    import suitedata

    path = os.path.join(WORK, f"suite-{w.scale}-{seed}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        for old in os.listdir(WORK):
            if old.startswith("suite-"):
                shutil.rmtree(os.path.join(WORK, old))
        suitedata.write_suite_tables(path + ".tmp", seed, w.scale)
        open(os.path.join(path + ".tmp", "_DONE"), "w").close()
        os.rename(path + ".tmp", path)
    return path, {"scale": w.scale, "bytes_on_disk": dir_bytes(path),
                  "page_cache_warmed": warm(path) > 0}


def seed_urls(w: CrawlWorkload, seed: int) -> list[str]:
    """A seeded uniform sample of page indices, as canonical URLs: it covers
    hosts in proportion to their pages and keeps /private pages, so the
    robots gate has work too."""
    p = world_params(w)
    idx = sorted(random.Random(seed).sample(range(p.n_pages), w.n_seeds))
    return [synth.canonical_url_of_page(i, p) for i in idx]


# --- output gate ------------------------------------------------------------------

def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def config_key(name: str, w) -> str:
    """Names a workload's configuration in the per-checkout output cache, so
    a changed configuration is never compared with outputs of another."""
    return f"{name}-{hashlib.md5(repr(asdict(w)).encode()).hexdigest()[:8]}"


class Gate:
    """Expected output per (workload, seed): the pinned value when pins.json
    has one, else the first value this checkout saw for that seed."""

    def __init__(self, name: str, w, seed: int, pins: dict) -> None:
        self.pinned = pins.get(name, {}).get(str(seed))
        self.cache = os.path.join(WORK, "outputs", f"{config_key(name, w)}-{seed}.json")
        self.expected = self.pinned
        if self.expected is None and os.path.exists(self.cache):
            with open(self.cache) as f:
                self.expected = json.load(f)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def check(self, what: str, got, expected) -> None:
        self.attempted += 1
        if got is None or got != expected:
            self.failed += 1
            self.mismatches.append(what)

    def remember(self, value) -> None:
        if self.expected is None:
            self.expected = value
            os.makedirs(os.path.dirname(self.cache), exist_ok=True)
            with open(self.cache, "w") as f:
                json.dump(value, f)


def crawl_signature(res: dict) -> dict:
    return {
        "seen": res["digest"]["seen"],
        "fetch_log": res["digest"]["fetch_log"],
        "rounds": [r[1:] for r in res["rounds"]],
    }


# --- crawl workload ---------------------------------------------------------------

def crawl_items(res: dict) -> int:
    return sum(r[1] + r[2] for r in res["rounds"])


def crawl_end_to_end(results: list[dict]) -> dict:
    def med(fn):
        return statistics.median(fn(r) for r in results)

    return {
        "items_per_s": med(lambda r: crawl_items(r) / r["wall_s"]),
        "job_s": med(lambda r: r["wall_s"]),
        "cold_s": med(lambda r: r["first_round_s"]),
        "cpu_ms_per_item": med(lambda r: r["cpu_s"] * 1e3 / crawl_items(r)),
        "setup_s": med(lambda r: r["setup_s"]),
        "peak_rss_mb": med(lambda r: r["peak_rss_mb"]),
    }


def kernel_timings(world_dir: str, seed: int, n_pages: int = 200,
                   reps: int = 5) -> dict:
    """functions-layer kernels alone, single-threaded, on a seeded sample of
    the world's pages and of the raw hrefs in them."""
    import pyarrow.parquet as pq

    from spacetime_crawler_spark.functions.textextract import extract_page
    from spacetime_crawler_spark.functions.urlnorm import canonicalize_url

    files = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(os.path.join(world_dir, "is_robots=0"))
        for n in names if n.endswith(".parquet")
    )
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f, columns=["url", "html"]).to_pylist())
        if len(rows) >= 4 * n_pages:
            break
    sample = random.Random(seed).sample(rows, min(n_pages, len(rows)))
    hrefs = [
        h for r in sample
        for h in re.findall(r'href="(https?://[^"]+)"', r["html"].decode())
    ]

    def per_call_us(fn, args) -> float:
        runs = []
        for _ in range(reps):
            t = time.perf_counter()
            for a in args:
                fn(*a)
            runs.append((time.perf_counter() - t) / len(args) * 1e6)
        return statistics.median(runs)

    return {
        "kernel.extract_page_us": per_call_us(
            extract_page, [(r["html"], r["url"]) for r in sample]),
        "kernel.canonicalize_us": per_call_us(canonicalize_url, [(h,) for h in hrefs]),
    }


def _round_of(label: str) -> tuple[int, str] | None:
    m = re.fullmatch(r"crawl r(\d+) (\w+)", label)
    return (int(m.group(1)), m.group(2)) if m else None


def crawl_layers(tr: dict, untraced_wall_s: float, kernels: dict) -> dict:
    """Per-layer metrics of one traced crawl (per round = mean over rounds)."""
    rounds = tr["rounds"]
    n = len(rounds)
    commit = {int(k): v for k, v in tr["commit_done"].items()}
    # the JVM's cumulative read bytes when each round's commit returned
    read_at = {int(k): v for k, v in tr["commit_read"].items()}
    wall = {r: commit[r] - commit[r - 1] for r in range(1, n + 1)}
    span: dict[tuple[int, str], float] = {}  # (round, phase) -> seconds
    span_read: dict[tuple[int, str], int] = {}  # (round, phase) -> JVM bytes read
    # the end-of-run metrics write follows the last commit, outside any round
    write_phase = {t: p for t, p in WRITE_PHASE.items() if p != "metrics"}
    for kind, table, r, s, e, nbytes in tr["spans"]:
        if r < 1 or r > n:
            continue
        phase = write_phase.get(table) if kind == "write" else (
            "commit" if kind == "commit" and table == "commit" else None)
        if phase:
            span[(r, phase)] = span.get((r, phase), 0.0) + e - s
            span_read[(r, phase)] = span_read.get((r, phase), 0) + nbytes
    out = {}
    for phase in ("fetch", "frontier", "seen", "bloom", "commit", "compact"):
        out[f"phase.{phase}_s"] = sum(span.get((r, phase), 0.0) for r in wall) / n
    out["phase.between_s"] = sum(
        wall[r] - sum(v for (rr, _), v in span.items() if rr == r) for r in wall
    ) / n
    steady = [r for r in wall if r >= 2] or list(wall)
    out["round.prep_s"] = commit[0]
    out["round1.fetch_s"] = span.get((1, "fetch"), 0.0)
    out["round.steady_s"] = statistics.median(wall[r] for r in steady)

    # session: stage metrics rolled up per round and phase
    per_phase = {p: {m: 0.0 for m in STAGE_METRICS} for p in PHASES}
    totals = {m: 0.0 for m in (*EVENT_METRICS, "jobs", "stages", "python_sent_mb")}
    # the world scan: the fetch-phase stage that streams the world's pages
    # into the extraction UDF, i.e. sends the most bytes to Python workers
    # (in round 1 the lazy page-key index reads as many rows, but sends
    # only urls)
    scan_stage = {r: (0, 0.0) for r in wall}
    for label, b in tr["events"].items():
        rp = _round_of(label)
        if rp is None:
            continue
        r, phase = rp
        phase = "between" if phase == "bloom_collect" else phase
        if phase in per_phase:
            for m in EVENT_METRICS:
                per_phase[phase][m] += b[m]
        if 1 <= r <= n:
            for m in totals:
                totals[m] += b[m]
            if phase == "fetch" and b["stage_walls"]:
                scan_stage[r] = max(b["stage_walls"])
    per_phase["prep"]["read_mb"] = read_at[0] / 1e6
    for (r, phase), nbytes in span_read.items():
        if phase in per_phase:
            per_phase[phase]["read_mb"] += nbytes / 1e6
    per_phase["between"]["read_mb"] += sum(
        read_at[r] - read_at[r - 1]
        - sum(v for (rr, p), v in span_read.items() if rr == r and p in per_phase)
        for r in wall
    ) / 1e6
    for p, ms in per_phase.items():
        for m, v in ms.items():
            out[f"spark.{p}.{m}"] = v if p == "prep" else v / n
    for m in (*EVENT_METRICS, "jobs", "stages"):
        out[f"spark.{m}"] = totals[m] / n
    out["spark.read_mb"] = (read_at[n] - read_at[0]) / 1e6 / n
    out["round.scan_mb"] = statistics.median(
        span_read.get((r, "fetch"), 0) / 1e6 for r in steady)
    out["round.scan_s"] = statistics.median(scan_stage[r][1] for r in steady)
    out["round.fixed_s"] = out["round.steady_s"] - out["round.scan_s"]
    out["cores_busy"] = tr["cpu_s"] / tr["wall_s"]

    fetched = sum(r[1] for r in rounds)
    cands = sum(r[2] for r in rounds)
    skipped = sum(r[3] for r in rounds)
    new = sum(r[4] for r in rounds)
    out.update(kernels)
    fetch_core_us_per_page = per_phase["fetch"]["executor_run_s"] * 1e6 / max(fetched, 1)
    out["udf.extract_overhead_x"] = fetch_core_us_per_page / kernels["kernel.extract_page_us"]
    out["udf.bytes_to_python_mb"] = totals["python_sent_mb"] / n
    out["bloom.skip_ratio"] = skipped / max(cands, 1)
    out["bloom.fpr"] = (new - skipped) / max(new, 1)
    out["bloom.collect_s"] = sum(e - s for r, s, e in tr["collect_spans"] if r >= 1) / n
    frontier_in = tr["frontier_rows"][:n]
    out["sched.frontier_rows"] = sum(frontier_in) / n
    out["sched.selected"] = fetched / n
    out["sched.selected_ratio"] = fetched / max(sum(frontier_in), 1)
    items = crawl_items(tr)
    by_table: dict[str, int] = {}
    files = 0
    for table, r, nbytes, nfiles in tr["table_bytes"]:
        by_table[table] = by_table.get(table, 0) + nbytes
        files += nfiles if r >= 1 else 0
    for t in ("fetch_log", "frontier", "seen", "bloom"):
        out[f"io.bytes_per_url.{t}"] = by_table.get(t, 0) / items
    out["io.files_per_round"] = files / n
    out["io.state_mb"] = sum(by_table.values()) / 1e6
    out["trace.overhead_x"] = tr["wall_s"] / untraced_wall_s
    return out


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_crawl_workload(name, w, seed, seconds, trace, runner, gate):
    """Untraced crawls, at least one and more while `seconds` has not
    elapsed; with `trace`, then one traced crawl of the same seed, whose
    overhead is measured against those untraced crawls."""
    world_dir, world = ensure_world(runner, w)
    seeds = seed_urls(w, seed)
    job = dict(world_dir=world_dir, seeds=seeds, rounds=w.rounds,
               budget_s=w.budget_s, compact_every=w.compact_every)

    def one(trace_on: bool) -> dict | None:
        state_dir = os.path.join(WORK, "state")
        shutil.rmtree(state_dir, ignore_errors=True)
        extra = {"event_log": _fresh_dir(os.path.join(WORK, "events"))} if trace_on else {}
        try:
            res = runner.run("crawl", state_dir=state_dir, trace=trace_on, **job, **extra)
        except RuntimeError as e:
            gate.check(f"crawl raised: {e}", None, None)
            return None
        finally:
            shutil.rmtree(state_dir, ignore_errors=True)
        sig = crawl_signature(res)
        gate.remember(sig)
        gate.check(f"crawl output of seed {seed}", sig, gate.expected)
        return res

    untraced: list[dict] = []
    t0 = time.monotonic()
    while (res := one(False)) is not None:
        untraced.append(res)
        if time.monotonic() - t0 >= seconds:
            break
    e2e = crawl_end_to_end(untraced) if untraced and gate.failed == 0 else {}
    metrics: dict = {}
    traced = None
    if not trace:
        metrics = e2e
    elif e2e:
        traced = one(True)
        if traced is not None and gate.failed == 0:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update(crawl_layers(traced, e2e["job_s"],
                                        kernel_timings(world_dir, seed)))
    report = {
        "world": world,
        "seed_urls": len(seeds),
        "jobs": [
            {k: v for k, v in r.items()
             if k not in ("events", "spans", "table_bytes", "collect_spans")}
            for r in (*untraced, traced) if r is not None
        ],
        "aliases": {
            "crawl_urls_per_s": e2e.get("items_per_s"),
            "first_round_s": e2e.get("cold_s"),
            "cpu_ms_per_url": e2e.get("cpu_ms_per_item"),
            "setup_s": e2e.get("setup_s"),
            "peak_rss_mb": e2e.get("peak_rss_mb"),
        },
    }
    return metrics, report


# --- query suite workload ------------------------------------------------------------

def suite_end_to_end(res: dict) -> dict:
    total = sum(res["query_s"].values())
    return {
        "items_per_s": len(SUITE) / total,
        "job_s": total,
        "cold_s": res["cold_s"],
        "cpu_ms_per_item": res["cpu_s"] * 1e3 / (len(SUITE) * len(res["passes"])),
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def suite_layers(tr: dict, untraced_total_s: float) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    for q, s in tr["query_s"].items():
        out[f"query.{q}_s"] = s
    n_pass = len(tr["passes"])
    for label, b in tr["events"].items():
        if re.fullmatch(r"query \S+ pass\d+", label):
            for m in (*EVENT_METRICS, "jobs", "stages"):
                out[f"spark.{m}"] += b[m] / n_pass
    out["spark.read_mb"] = tr["read_mb"] / n_pass
    out["cores_busy"] = tr["cpu_s"] / tr["timed_s"]
    out["trace.overhead_x"] = sum(tr["query_s"].values()) / untraced_total_s
    return out


def run_suite_workload(name, w, seed, seconds, trace, runner, gate):
    """One untraced suite job; with `trace`, then one traced job of the same
    seed, whose overhead is measured against the untraced one."""
    data_dir, data = ensure_suite_data(w, seed)
    job = dict(data_dir=data_dir, tables=list(SUITE_TABLES),
               queries=list(SUITE), seconds=seconds)

    def one(trace_on: bool) -> dict | None:
        extra = {"event_log": _fresh_dir(os.path.join(WORK, "events"))} if trace_on else {}
        try:
            res = runner.run("suite", trace=trace_on, **job, **extra)
        except RuntimeError as e:
            gate.check(f"suite raised: {e}", None, None)
            return None
        gate.remember({q: v.get("digest") for q, v in res["cold"].items()})
        for tag, one_pass in [
                ("cold", res["cold"]),
                *((f"warm{i}", p) for i, p in enumerate(res["warm"])),
                *((f"pass{i}", p) for i, p in enumerate(res["passes"]))]:
            for q in SUITE:
                gate.check(f"{q} {tag}", one_pass[q].get("digest"), gate.expected.get(q))
        return res

    untraced = one(False)
    e2e = suite_end_to_end(untraced) if untraced and gate.failed == 0 else {}
    metrics: dict = {}
    traced = None
    if not trace:
        metrics = e2e
    elif e2e:
        traced = one(True)
        if traced is not None and gate.failed == 0:
            metrics = suite_layers(traced, e2e["job_s"])
    report = {
        "data": data,
        "jobs": [
            {k: v for k, v in r.items() if k not in ("events", "cold", "warm", "passes")}
            | {"errors": {q: v["error"] for p in (r["cold"], *r["warm"], *r["passes"])
                          for q, v in p.items() if "error" in v}}
            for r in (untraced, traced) if r is not None
        ],
        "aliases": {
            "suite_total_s": e2e.get("job_s"),
            "setup_s": e2e.get("setup_s"),
            "peak_rss_mb": e2e.get("peak_rss_mb"),
        },
    }
    return metrics, report


# --- entry point ------------------------------------------------------------------

def measure(name: str, w, seed: int, seconds: float, trace: bool,
            pins: dict) -> dict:
    """Run one workload and return the result object run.py prints last."""
    os.makedirs(WORK, exist_ok=True)
    host = host_settings()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    runner = Runner(host, RUN_BUDGET_S)
    gate = Gate(name, w, seed, pins)
    fn = run_crawl_workload if isinstance(w, CrawlWorkload) else run_suite_workload
    metrics, report = fn(name, w, seed, seconds, trace, runner, gate)
    cpu_all, cpu_steal = (b - a for a, b in zip(cpu_start, cpu_times()))
    report.update({
        "workload": name, "seed": seed, "trace": trace, "host": host,
        "loadavg_1m": [round(load_start[0], 2), round(os.getloadavg()[0], 2)],
        # CPU time the hypervisor gave other tenants while this run waited
        "cpu_steal_share": round(cpu_steal / max(cpu_all, 1), 4),
        "pinned": gate.pinned is not None, "mismatches": gate.mismatches,
    })
    units = PER_LAYER if trace else END_TO_END
    return {
        "report": report,
        "result": {
            "correct": gate.failed == 0 and bool(metrics),
            "attempted": max(gate.attempted, 1),
            "failed": gate.failed if gate.attempted else 1,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items() if k in metrics},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = measure(args.workload, WORKLOADS[args.workload], args.seed,
                  args.seconds, bool(args.trace), load_pins())
    print("# report " + json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
