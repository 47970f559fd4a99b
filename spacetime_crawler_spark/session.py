"""SparkSession factory with the engine's standard configuration.

One place for every scale-relevant knob so tests, bench.py, run.py and the
driver contract all execute under identical semantics (UTC timestamps, AQE
on, Arrow on).  On a real cluster the same builder is used — only master()
and the Iceberg catalog configs differ (see sources/io_tables.py §Iceberg).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from spacetime_crawler_spark import worker_daemon


def host_cpus() -> int:
    """Cores this process may run on (honours affinity / cpusets, unlike
    os.cpu_count)."""
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """Default driver heap: half of MemTotal, capped at 24g."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{min(24 * 1024, total_kb // 2048)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "spacetime_crawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N-ish shuffle partitions; AQE coalesces further.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html pages are fat rows — keep Arrow batches bounded (SURVEY §4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # runtime (injected) bloom filter: on the non-broadcast fetch path
        # the pages⋈winners shuffle gets a bloom built from the winners'
        # join keys, pruning unmatched html rows BEFORE the exchange — the
        # shuffled bytes become O(fetched html), not O(all html)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Python workers fork from a daemon that has already imported
        # pandas, pyarrow and the engine's UDF modules (worker_daemon.py)
        .config("spark.python.daemon.module", worker_daemon.__name__)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
