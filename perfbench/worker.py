"""One benchmark job in a fresh interpreter, started by run.py.

    python3 perfbench/worker.py <args.json> <out.json> <spawn monotonic time>

Jobs: ``world`` writes the synthetic crawl world, ``crawl`` runs one crawl
through ``plans.crawl.run_crawl``, ``suite`` runs the query suite through
the registry callables.  Every crawl gets its own interpreter because a
SparkContext stopped and re-created in one process wedges py4j's
accumulator channel.  setup_s runs from the spawn time run.py passes (the
monotonic clock is shared by all processes of the host) until the session
is up and the inputs are opened.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tracing import (  # noqa: E402
    TimedIO,
    TracingIO,
    TreeSampler,
    jvm_pid,
    read_bytes,
    rollup_event_log,
    tree_cpu_s,
)

# untimed full passes of the query suite after its cold pass: with none,
# the timed passes still got faster as the JIT caught up
WARM_PASSES = 1
# timed passes of the query suite: each query's time is its median over
# these (more run while --seconds has not elapsed)
MIN_PASSES = 3

# the columns bench.py::state_digest hashes for each crawl state table
DIGEST_COLS = {
    "seen": ["url_norm", "round_seen"],
    "fetch_log": ["round", "host", "fetch_seq", "url_norm", "text_sha256"],
}


def session(a: dict, app: str):
    from spacetime_crawler_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if a.get("event_log"):
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + a["event_log"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(master=f"local[{a['cores']}]", app_name=app, extra_conf=conf)


def stop_drained(spark, timeout_s: float = 10.0) -> None:
    """Wait for in-flight jobs and stages before stop(), so late task
    completions do not race the accumulator server's shutdown."""
    st = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    while (st.getActiveJobsIds() or st.getActiveStageIds()) and time.monotonic() < deadline:
        time.sleep(0.05)
    spark.stop()


def _hashable(col, dtype):
    """An expression equal for equal values whose doubles are rounded to
    float: parallel sums may differ in the last bits of a double between
    runs, which would break a pinned hash without any real change."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, T.DoubleType):
        return col.cast("float")
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _hashable(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[
            _hashable(col[f.name], f.dataType).alias(f.name) for f in dtype.fields
        ])
    if isinstance(dtype, T.MapType):
        entries = T.ArrayType(T.StructType([
            T.StructField("key", dtype.keyType),
            T.StructField("value", dtype.valueType),
        ]))
        return _hashable(F.array_sort(F.map_entries(col)), entries)
    return col


def digest_exprs(df, cols: list[str] | None = None) -> list:
    """bench.py::state_digest as aggregate expressions: (rows, bit_xor of row
    xxhash64, decimal sum of the same hashes) — order-insensitive, three
    scalars for any size."""
    from pyspark.sql import functions as F

    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(fields) if cols is None else cols
    h = F.xxhash64(*[_hashable(F.col(f"`{c}`"), fields[c]) for c in cols])
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ]


def _digest_row(row) -> list:
    return [row["n"], row["x"], None if row["s"] is None else int(row["s"])]


def digest(df, cols: list[str]) -> list:
    return _digest_row(df.select(*digest_exprs(df, cols)).collect()[0].asDict())


def execute_with_digest(df) -> list:
    """Run the whole plan once — every output column computed, results
    discarded by the noop sink — with the digest riding the same execution
    as an observation at the root of the written query."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *digest_exprs(df)).write.format("noop").mode("overwrite").save()
    return _digest_row(obs.get)


def job_world(a: dict, spawn_t: float) -> dict:
    from spacetime_crawler_spark.sources import synth

    spark = session(a, "perfbench-world")
    try:
        synth.write_pages_parquet(spark, synth.WorldParams(**a["world"]), a["out_dir"])
    finally:
        stop_drained(spark)
    return {}


def job_crawl(a: dict, spawn_t: float) -> dict:
    spark = session(a, "perfbench-crawl")
    pages = spark.read.parquet(a["world_dir"])
    setup_s = time.monotonic() - spawn_t
    load_start = os.getloadavg()[0]

    from spacetime_crawler_spark.operators import bloom
    from spacetime_crawler_spark.plans import crawl as crawl_mod
    from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

    cfg = crawl_mod.CrawlConfig(
        state_dir=a["state_dir"], rounds=a["rounds"],
        round_budget_s=a["budget_s"], seen_compact_every=a["compact_every"],
    )
    inner = ParquetManifestIO(cfg.state_dir)
    io = TracingIO(inner, spark) if a["trace"] else TimedIO(inner)
    collect_spans: list[tuple[int, float, float]] = []
    if a["trace"]:
        original = bloom.collect_sidecar

        def timed_collect(df):
            io.label("bloom_collect")
            t = time.monotonic()
            try:
                return original(df)
            finally:
                collect_spans.append((io.round, t, time.monotonic()))
                io.label("between")

        bloom.collect_sidecar = timed_collect

    cpu0 = tree_cpu_s()
    with TreeSampler() as mem:
        t0 = time.monotonic()
        run = crawl_mod.run_crawl(spark, pages, a["seeds"], cfg, io=io)
        wall = time.monotonic() - t0
    cpu = tree_cpu_s() - cpu0
    load_end = os.getloadavg()[0]

    spark.sparkContext.setJobDescription("perfbench digest")
    res = {
        "setup_s": setup_s,
        "wall_s": wall,
        "first_round_s": io.commit_done[1] - t0,
        "cpu_s": cpu,
        "peak_rss_mb": mem.peak_bytes / 1e6,
        "loadavg_1m": [load_start, load_end],
        "rounds": [
            [m.round, m.urls_selected, m.candidates, m.bloom_skipped, m.urls_new]
            for m in run.metrics
        ],
        "frontier_rows": [
            io.manifest("frontier", r)["rows"] for r in range(run.rounds_run + 1)
        ],
        "commit_done": {str(r): t - t0 for r, t in io.commit_done.items()},
        "digest": {
            "seen": digest(crawl_mod.read_seen(spark, run.io), DIGEST_COLS["seen"]),
            "fetch_log": digest(
                crawl_mod.read_fetch_log(spark, run.io, run.rounds_run),
                DIGEST_COLS["fetch_log"],
            ),
        },
    }
    if a["trace"]:
        res["spans"] = [(k, t, r, s - t0, e - t0, b) for k, t, r, s, e, b in io.spans]
        res["commit_read"] = {str(r): b - io.read_start for r, b in io.commit_read.items()}
        res["collect_spans"] = [(r, s - t0, e - t0) for r, s, e in collect_spans]
        res["table_bytes"] = [[t, r, b, n] for (t, r), (b, n) in io.table_bytes.items()]
    stop_drained(spark)
    if a["trace"]:
        res["events"] = rollup_event_log(a["event_log"])
    return res


def job_suite(a: dict, spawn_t: float) -> dict:
    from spacetime_crawler_spark.plans.registry import SPARK_QUERIES
    from spacetime_crawler_spark.sources.tables import load_table

    spark = session(a, "perfbench-suite")
    for table in a["tables"]:
        load_table(spark, a["data_dir"], table)
    setup_s = time.monotonic() - spawn_t
    sc = spark.sparkContext
    load_start = os.getloadavg()[0]

    def one(name: str, tag: str) -> dict:
        if a["trace"]:
            sc.setJobDescription(f"query {name} {tag}")
        t = time.monotonic()
        try:
            d = execute_with_digest(SPARK_QUERIES[name](spark, a["data_dir"]))
        except Exception as e:  # noqa: BLE001 — a failed query is a counted failure
            return {"error": f"{type(e).__name__}: {e}"[:500]}
        return {"s": time.monotonic() - t, "digest": d}

    # time to first result: the first query alone in the fresh session
    first, *rest = a["queries"]
    t = time.monotonic()
    cold = {first: one(first, "cold")}
    cold_s = time.monotonic() - t
    # untimed warm passes, to fill the JIT, codegen and Python-worker caches
    # before any timing
    cold.update({q: one(q, "cold") for q in rest})
    warm = [{q: one(q, f"warm{i}") for q in a["queries"]} for i in range(WARM_PASSES)]
    warm_s = time.monotonic() - t - cold_s
    jvm = jvm_pid()
    cpu0, read0 = tree_cpu_s(), read_bytes(jvm)
    with TreeSampler() as mem:
        passes, t0 = [], time.monotonic()
        while len(passes) < MIN_PASSES or time.monotonic() - t0 < a["seconds"]:
            passes.append({q: one(q, f"pass{len(passes)}") for q in a["queries"]})
        timed_s = time.monotonic() - t0
    cpu = tree_cpu_s() - cpu0
    res = {
        "setup_s": setup_s,
        "cold_s": cold_s,
        "warm_s": warm_s,
        "timed_s": timed_s,
        "cpu_s": cpu,
        "read_mb": (read_bytes(jvm) - read0) / 1e6,
        "peak_rss_mb": mem.peak_bytes / 1e6,
        "loadavg_1m": [load_start, os.getloadavg()[0]],
        "cold": cold,
        "warm": warm,
        "passes": passes,
        "query_s": {
            n: statistics.median(p[n]["s"] for p in passes if "s" in p[n])
            for n in a["queries"] if any("s" in p[n] for p in passes)
        },
    }
    stop_drained(spark)
    if a["trace"]:
        res["events"] = rollup_event_log(a["event_log"])
    return res


JOBS = {"world": job_world, "crawl": job_crawl, "suite": job_suite}


def main() -> None:
    argf, outf, spawn_t = sys.argv[1], sys.argv[2], float(sys.argv[3])
    with open(argf) as f:
        a = json.load(f)
    res = JOBS[a["job"]](a, spawn_t)
    with open(outf, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
