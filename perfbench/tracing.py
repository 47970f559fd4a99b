"""Measurement helpers that observe the engine from outside.

- process-tree CPU and proportional memory, read from /proc (no psutil);
- ``TimedIO``: a thin delegating state-IO object that only reads the clock
  when each round commits (the one hook of an untraced crawl);
- ``TracingIO``: the traced variant, with a span around every ``write``,
  ``read`` and ``commit`` and the Spark job description set to the phase
  the span belongs to;
- ``rollup_event_log``: Spark event-log stage metrics summed per label.

Bytes read come from the JVM's ``rchar`` in ``/proc/<pid>/io``, not from
the event log: Spark's "Input Metrics / Bytes Read" misses the parquet
column reads here (a scan of 115 MB of html reported under 1 MB).
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


# --- process tree ------------------------------------------------------------

def _stat(pid: str) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2:].split()
    # fields[0] is state; utime/stime/cutime/cstime are stat fields 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _tree() -> dict[int, float]:
    """pid -> cpu seconds for this process and every live descendant: the
    driver, its JVM and the Python workers the JVM forks.  CPU of
    descendants that already exited is included through their parents'
    cutime/cstime once they are reaped."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    return sum(_tree().values())


def jvm_pid() -> int:
    """The Spark JVM this interpreter started."""
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    raise RuntimeError("no JVM among this process's descendants")


def read_bytes(pid: int) -> int:
    """Bytes process `pid` has read through read syscalls (files, page
    cache and sockets alike)."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError(f"no rchar in /proc/{pid}/io")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared after a fork count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler:
    """Background thread sampling the tree's summed PSS; `peak_bytes` is the
    highest sum seen between entering and leaving the context."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, sum(_pss_bytes(p) for p in _tree()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# --- state-IO wrappers ----------------------------------------------------------

class TimedIO:
    """Delegates the whole state-IO contract to `inner` and records the
    monotonic clock when each round's first commit returns."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self.commit_done: dict[int, float] = {}

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def commit(self, rnd: int, tables: dict[str, int]) -> None:
        self._inner.commit(rnd, tables)
        self.commit_done.setdefault(rnd, time.monotonic())


# state table written -> the crawl phase its write materializes
WRITE_PHASE = {
    "fetch_log": "fetch",
    "frontier": "frontier",
    "seen": "seen",
    "bloom": "bloom",
    "seen_snapshot": "compact",
    "metrics": "metrics",
}


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under path, ignoring Spark's marker/crc files."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class TracingIO(TimedIO):
    """TimedIO plus spans and Spark job labels.

    Every write/read/commit is a span (kind, table, round, start, end,
    bytes the JVM read during it); ``commit_read`` holds the JVM's read
    counter when each round's commit returns, and ``read_start`` its value
    when the crawl starts.  The job description is set to
    ``crawl r<N> <phase>`` for the duration of a write, and to
    ``crawl r<N> between`` after each call returns, so every Spark job the
    crawl runs carries the phase that caused it.  Round 0
    (seed frontier, first bloom) and everything before it is ``prep``.
    After each commit the bytes and files written per table are recorded."""

    def __init__(self, inner, spark) -> None:
        super().__init__(inner)
        self._sc = spark.sparkContext
        self._jvm = jvm_pid()
        self.read_start = read_bytes(self._jvm)
        self.commit_read: dict[int, int] = {}
        self.spans: list[tuple[str, str, int, float, float, int]] = []
        self.table_bytes: dict[tuple[str, int], tuple[int, int]] = {}
        self.round = 0
        self.label("prep")

    def label(self, phase: str, rnd: int | None = None) -> None:
        rnd = self.round if rnd is None else rnd
        self._sc.setJobDescription(f"crawl r{rnd} {'prep' if rnd == 0 else phase}")

    def _span(self, kind: str, table: str, rnd: int, fn):
        self.round = rnd
        if kind == "write":
            self.label(WRITE_PHASE.get(table, table), rnd)
        t0, r0 = time.monotonic(), read_bytes(self._jvm)
        try:
            return fn()
        finally:
            r1 = read_bytes(self._jvm)
            self.spans.append((kind, table, rnd, t0, time.monotonic(), r1 - r0))
            if kind == "commit" and table != "metrics":
                self.commit_read.setdefault(rnd, r1)
                self.round = rnd + 1
            self.label("between")

    def write(self, table: str, rnd: int, df):
        return self._span("write", table, rnd,
                          lambda: self._inner.write(table, rnd, df))

    def read(self, spark, table: str, rnd: int):
        return self._span("read", table, self.round,
                          lambda: self._inner.read(spark, table, rnd))

    def commit(self, rnd: int, tables: dict[str, int]) -> None:
        kind = "metrics" if set(tables) == {"metrics"} else "commit"
        self._span("commit", kind, rnd, lambda: super(TracingIO, self).commit(rnd, tables))
        for table in tables:
            path = os.path.join(self._inner.root, table, f"round={rnd}")
            self.table_bytes[(table, rnd)] = _dir_usage(path)


# --- Spark event log --------------------------------------------------------------

STAGE_METRICS = (
    "executor_run_s", "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb",
)
_PY_SENT = "data sent to Python workers"


def rollup_event_log(log_dir: str) -> dict[str, dict]:
    """Sum task metrics per job description over the one event log in
    log_dir.  Returns {label: {jobs, stages, <STAGE_METRICS>, python_sent_mb,
    stage_walls: [(stage MB sent to Python workers, stage wall s), ...]}}."""
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    stage_label: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(label: str) -> dict:
        if label not in out:
            out[label] = {"jobs": 0, "stages": 0, "python_sent_mb": 0.0,
                          "stage_walls": [], **{m: 0.0 for m in STAGE_METRICS}}
        return out[label]

    stage_py_sent: dict[int, float] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(
                    "spark.job.description", "unlabelled")
                bucket(label)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                label = stage_label.get(ev["Stage ID"], "unlabelled")
                b = bucket(label)
                if tm:
                    b["executor_run_s"] += tm["Executor Run Time"] / 1e3
                    b["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    sr = tm["Shuffle Read Metrics"]
                    b["shuffle_read_mb"] += (
                        sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 1e6
                    b["shuffle_write_mb"] += (
                        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6)
                    b["spill_mb"] += (
                        tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / 1e6
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == _PY_SENT and "Update" in acc:
                        mb = float(acc["Update"]) / 1e6
                        b["python_sent_mb"] += mb
                        stage_py_sent[ev["Stage ID"]] = stage_py_sent.get(ev["Stage ID"], 0.0) + mb
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                b = bucket(stage_label.get(sid, "unlabelled"))
                b["stages"] += 1
                if "Submission Time" in info and "Completion Time" in info:
                    b["stage_walls"].append((
                        sid,
                        (info["Completion Time"] - info["Submission Time"]) / 1e3,
                    ))
    for b in out.values():
        b["stage_walls"] = [
            (stage_py_sent.get(sid, 0.0), wall) for sid, wall in b["stage_walls"]
        ]
    return out
