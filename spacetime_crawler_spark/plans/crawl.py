"""The distributed URL-frontier crawl loop (SURVEY.md §3.2) — one BSP round
per driver iteration, all state in committed tables.

Dataflow per round (SURVEY §3.2):

    frontier ──F6 gate (robots bcast join)── F7 schedule ── selected
    selected ──F5 fetch-join pages_latest (hash-keyed) ── fetched (persist)
    fetched ──F9 text UDF──► fetch_log sink
    fetched ──F8 link UDF ── explode ── F1 native filter
            ──F3 dedup (one bloom pass cogrouped with the sidecar: flags
              → exact anti-join vs seen; next sidecar → bloom′ sink)
            ──F11 leftover ∪ new ──► frontier′, seen′ sinks

Scale levers baked in (SURVEY §4): F1 stays native (pushable); the fetch
join is keyed on xxhash64(url_norm) (narrow shuffle key, AQE skew-join
handles hot hosts); the robots sidecar is a broadcast; the bloom sidecar
is never broadcast: candidates cogroup with its rows on part_id, so a task
holds only its own buckets' bitmaps, and the same pass yields both the
membership flags and the next sidecar; the per-host scheduler is
two-phase-ranked then applyInPandas on quota-bounded groups;
the exact anti-join hash-repartitions both `seen` and the candidates by
url_hash into P partitions as it reads them.  Seen is stored as per-round
deltas and read as one scan of every committed delta (io.read over a range
of rounds).  Each delta is written as it comes, with no shuffle of its own:
a parquet file records no partitioning, so a write-side repartition would
only be shuffled again on read, and Spark's hash partitioning is not
Iceberg's bucket(P, url_hash) transform either.
Lineage never spans rounds — every round re-reads committed state, the
Spark analogue of the reference's save-file sync.

A round is one concurrent batch of writes plus one commit.  The writes run
on a small thread pool: the fetch_log sink next to the candidate →
frontier chain; the seen and bloom writes join the batch as soon as the
frontier write has cached the round's new rows and bloom pass, which is
all they read.  Every write is joined before the round's single io.commit,
so the commit protocol is unchanged: a failed write leaves the round
uncommitted, and resume re-runs it.  Prep (robots rules, the page-key
index and round 0's writes) is one batch the same way.  A round makes no
driver collect: its counts ride the writes as observed metrics.
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import ExitStack
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from spacetime_crawler_spark.operators import bloom
from spacetime_crawler_spark.operators.politeness import (
    build_robots_rules,
    latest_capture,
    leftover_after_schedule,
    robots_gate,
    schedule_round,
)
from spacetime_crawler_spark.operators.udfs import (
    canonicalize_udf,
    page_extract_udf,
)
from spacetime_crawler_spark.functions.urlnorm import BLACKLIST_RLIKE, canonicalize_url
from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

FRONTIER_COLS = ("url_norm", "url_hash", "h2", "host", "depth")

# fetch-join strategy gate: broadcast the selected set while it's small,
# fall back to a shuffled hash join past this many rows (the 10^10-tier
# regime where the winner set exceeds broadcast size)
FETCH_BROADCAST_MAX_ROWS = 2_000_000


@dataclass
class CrawlConfig:
    state_dir: str
    rounds: int = 4
    round_budget_s: float = 30.0
    n_parts: int = 32
    # nothing reads this field; it stays only because perfbench/worker.py
    # passes it, until the benchmark change of ROADMAP item 7 removes it
    seen_compact_every: int = 8


@dataclass
class RoundMetrics:
    round: int
    urls_selected: int = 0
    urls_fetched_ok: int = 0
    urls_404: int = 0
    candidates: int = 0
    bloom_skipped: int = 0
    urls_new: int = 0
    wall_s: float = 0.0
    # per-write wall spans (driver-observed): each entry is its own write's
    # span — including the planning and driver jobs it runs — from start
    # to return.  A round's writes run concurrently, so the spans overlap
    # and their sum is not the round's wall time (wall_s is)
    phase_s: dict = field(default_factory=dict)


# the committed `metrics` table: one row per RoundMetrics, fields in order
_METRICS_SCHEMA = pa.schema([
    ("round", pa.int32()),
    *[(name, pa.int64()) for name in (
        "urls_selected", "urls_fetched_ok", "urls_404", "candidates",
        "bloom_skipped", "urls_new",
    )],
    ("wall_s", pa.float64()),
    ("phase_s", pa.map_(pa.string(), pa.float64())),
])


@dataclass
class CrawlRun:
    io: object  # ParquetManifestIO | IcebergIO (same contract)
    metrics: list[RoundMetrics] = field(default_factory=list)
    rounds_run: int = 0


# NB on Observation placement: every observation in this module sits at the
# ROOT of a written query (directly on the DataFrame handed to io.write) —
# that is the one placement AQE provably never disturbs.  Observations on
# interior plan BRANCHES are unreliable: a branch the optimizer proves
# empty is pruned together with its CollectMetrics node (get then raises),
# and a branch that crosses AQE-replanned exchanges can silently lose its
# metrics even when non-empty (measured: branch counts under a
# repartition+anti-join undercounted by exactly the join-side rows).
def _with_keys(df: DataFrame, url_col: str = "url_norm") -> DataFrame:
    """Attach the two JVM hashes every downstream stage keys on:
    url_hash = xxhash64 (64-bit working key), h2 = murmur3_x86_32
    (BASELINE.json north_star's murmur3; bloom double-hash second arm)."""
    return df.withColumn("url_hash", F.xxhash64(url_col)).withColumn(
        "h2", F.hash(url_col)
    )


def _is_valid_expr(url_col: str) -> F.Column:
    """F1 as NATIVE column expressions (no UDF → Catalyst can push/fold it):
    scheme whitelist + extension-blacklist rlike + non-empty host."""
    scheme_ok = F.parse_url(F.col(url_col), F.lit("PROTOCOL")).isin("http", "https")
    path = F.lower(F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit("")))
    ext_ok = ~path.rlike(BLACKLIST_RLIKE)
    host = F.lower(F.coalesce(F.parse_url(F.col(url_col), F.lit("HOST")), F.lit("")))
    return scheme_ok & ext_ok & (host != "")


def prepare_page_keys(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """One-time NARROW pages index: (url, warc_ts, url_norm, url_hash) — the
    canonicalized key of every capture, WITHOUT the html payload.

    Deliberately no as-of window here: windowing the full table would
    shuffle the fat html column through disk (measured ~175 s for a 2M-page
    world — the single worst stage in the v1 engine and a plan that cannot
    scale: local shuffles serialize on one disk, cluster shuffles move TBs
    of html).  As-of resolution happens per round over only the selected
    urls (fetch_join_round), so html NEVER enters a shuffle anywhere in the
    engine."""
    return pages.select(
        "url", "warc_ts", canonicalize_udf("url").alias("url_norm")
    ).withColumn("url_hash", F.xxhash64("url_norm"))


def prepare_pages(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """Materialized latest-capture view WITH html — used by offline report
    analytics at test scale (crawl_reports); the crawl loop itself uses the
    shuffle-free prepare_page_keys + fetch_join_round path instead."""
    canon = pages.withColumn("url_norm", canonicalize_udf("url"))
    latest = latest_capture(canon, "url_norm")
    return _with_keys(latest.select("url_norm", "warc_ts", "html"))


def fetch_join_round(
    spark: SparkSession,
    pages: DataFrame,
    page_keys: DataFrame,
    selected: DataFrame,
    broadcast_selected: bool = True,
) -> DataFrame:
    """F5 with an adaptive physical strategy, html never in a shuffle KEY:

    1. join `selected` (quota-bounded) against the narrow key index →
       all captures of the selected urls;
    2. as-of window over that set → one winning (url, warc_ts) per
       url_norm (latest capture; noise-variant stored urls resolve here);
    3. join the winners into a scan of raw `pages` — html rows flow from
       the scan into the extraction UDF;
    4. selected rows with no winner are 404s (anti-join against winners'
       metadata, not against html).

    broadcast_selected=True (small selected set — the common case): steps
    1/3/4 broadcast the small side, so html NEVER enters any exchange.

    broadcast_selected=False (10^10-tier rounds where the selected set
    exceeds broadcast size): steps 1/3/4 become shuffled hash joins on
    narrow keys.  Step 3 does move matched html rows through one exchange —
    that is O(html actually fetched this round), work the cluster must do
    anyway to parse them — and the runtime bloom filter (see session.py)
    prunes unmatched pages rows BEFORE the exchange, so the shuffle never
    carries the whole table.  (With Iceberg `bucket(P, url)` layout both
    joins become storage-co-partitioned and the exchange disappears.)"""
    meta_cols = ["host", "url_norm", "url_hash", "h2", "depth",
                 "fetch_seq", "due_s", "crawl_delay"]

    def _small(df: DataFrame) -> DataFrame:
        # broadcast when allowed, else prefer a shuffled hash join with this
        # (smaller) side as build — never a sort of the probe side
        return F.broadcast(df) if broadcast_selected else df.hint("shuffle_hash")

    sel_meta = selected.select(*meta_cols)
    captures = page_keys.join(_small(sel_meta), ["url_hash", "url_norm"], "inner")
    winners = latest_capture(captures, "url_norm")
    # status-200 branch: html streams from the scan; schedule metadata rides
    # the small side
    fetched_ok = (
        pages.select("url", "warc_ts", "html")
        .join(_small(winners), ["url", "warc_ts"], "inner")
        .select(*meta_cols, "html")
        .withColumn("status", F.lit(200))
    )
    # 404 branch: selected urls with no capture at all
    missing = (
        selected.join(
            _small(winners.select("url_norm", "url_hash")),
            ["url_hash", "url_norm"],
            "left_anti",
        )
        .select(*meta_cols)
        .withColumn("html", F.lit(None).cast("binary"))
        .withColumn("status", F.lit(404))
    )
    return fetched_ok.unionByName(missing)


def extract_fetched(fetched: DataFrame) -> DataFrame:
    """F8+F9 enrichment over fetch_join_round output — THE pinned shape of
    a fetch record: one fused parse per page yields (..., status,
    text_sha256, content_len, links); html is dropped here and never
    persisted downstream."""
    return fetched.withColumn(
        "page", page_extract_udf("html", "url_norm")
    ).select(
        "host", "url_norm", "url_hash", "depth", "fetch_seq", "due_s",
        "status",
        F.when(F.col("status") == 200, F.sha2(F.col("page.text"), 256))
        .alias("text_sha256"),
        F.when(F.col("status") == 200, F.length("html"))
        .otherwise(F.lit(0))
        .alias("content_len"),
        F.when(F.col("status") == 200, F.col("page.links"))
        .otherwise(F.array().cast("array<string>"))
        .alias("links"),
    )


def init_frontier(spark: SparkSession, seeds: list[str],
                  cfg: CrawlConfig) -> tuple[DataFrame, DataFrame]:
    """Seeds → (frontier, seen) at round 0 (admission-at-discovery, like the
    reference's add_url).

    The seed list already lives on the driver, so it is canonicalized there
    with the pinned canonicalize_url and shipped as one Arrow table: a
    Python UDF stage would only send it through a worker and back.  The
    result is a local relation, so the round-0 frontier, seen and bloom
    writes each re-read it for free — no materialization job."""
    canon = spark.createDataFrame(pa.table({
        "url_norm": pa.array(
            list(dict.fromkeys(map(canonicalize_url, seeds))), pa.string()
        ),
    }))
    frontier = _with_keys(canon.filter(_is_valid_expr("url_norm"))).withColumn(
        "host", F.lower(F.parse_url("url_norm", F.lit("HOST")))
    ).withColumn("depth", F.lit(0)).select(*FRONTIER_COLS)
    seen = frontier.select("url_norm", "url_hash", "h2").withColumn(
        "round_seen", F.lit(0)
    )
    return frontier, seen


def _bloom_state_matches(spark, io, rnd: int, cfg: CrawlConfig) -> bool:
    """True iff a bloom sidecar is committed at `rnd` AND was built under
    the engine's geometry.  n_parts is recorded as the bloom entry's row
    count in the round manifest (the bucketing modulus — part_id ranges
    alone cannot distinguish pmod 32 from pmod 64); bits/hashes live in the
    rows themselves."""
    if io.last_committed_round("bloom") != rnd:
        return False
    if io.manifest("bloom", rnd)["rows"] != cfg.n_parts:
        return False
    head = io.read(spark, "bloom", rnd).select("nbits", "nhashes").limit(1).collect()
    # an empty sidecar is unverifiable — treat as mismatch and rebuild (the
    # rebuild over an empty/tiny seen set costs nothing, and never trusting
    # unverifiable state is the safe default)
    return bool(head) and (
        head[0].nbits == bloom.BITS_PER_PART
        and head[0].nhashes == bloom.NUM_HASHES
    )


# --- one round's batch of concurrent writes -----------------------------------

# the largest batch: prep (robots rules, the page-key index and round 0's
# frontier, seen and bloom writes)
_BATCH_THREADS = 5


def _submit(spark: SparkSession, pool: ThreadPoolExecutor, *tasks) -> list[Future]:
    """Start each no-argument task on the pool.  Tasks inherit the caller's
    Spark local properties (job description, job group) and tags, so the
    jobs they run are labelled as if the caller ran them."""
    return [pool.submit(inheritable_thread_target(spark)(t)) for t in tasks]


def _join(futures: list[Future]) -> list:
    """Wait for EVERY future, then return their results in order.  If any
    raised, the first failure (in submission order) is re-raised only once
    all of them have finished, so no write of a failed batch is still
    running when its round is abandoned uncommitted."""
    wait(futures)
    return [f.result() for f in futures]


def _timed(phase_s: dict, key: str, task):
    """task, recording its own wall span in phase_s[key] when it returns."""
    def run():
        t = time.monotonic()
        out = task()
        phase_s[key] = round(time.monotonic() - t, 3)
        return out
    return run


def _observed_write(io, table: str, rnd: int, df: DataFrame, *extra) -> dict:
    """Write (table, rnd) with its row count `n` — and any `extra`
    aggregates — observed at the root of the written query; returns the
    observed values.  No read-back or recompute job."""
    obs = Observation()
    io.write(table, rnd, df.observe(obs, F.count(F.lit(1)).alias("n"), *extra))
    return obs.get


def _cache(held: ExitStack, df: DataFrame) -> DataFrame:
    """df.persist(), unpersisted when `held` closes — on success or error."""
    df = df.persist()
    held.callback(df.unpersist)
    return df


def _fill(df: DataFrame):
    """A task that fills df's cache in one job: a noop-sink write runs the
    plan and stops there, with no aggregate exchange after it."""
    return lambda: df.write.format("noop").mode("overwrite").save()


def _dedup_candidates(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_prev: DataFrame,
    cfg: CrawlConfig,
    held: ExitStack,
):
    """F3 — bloom prefilter (definite negatives skip the exact anti-join),
    then the exact left_anti vs seen, both sides partitioned by url_hash.
    The round's one bloom pass cogroups the candidates with the sidecar
    rows on part_id, so each task holds only its own buckets' bitmaps; its
    output is cached (released when `held` closes).  Returns (new_urls,
    next_sidecar): the next sidecar is a filter of that cache."""
    probed = _cache(held, bloom.bloom_pass(candidates, bloom_prev, cfg.n_parts))
    flagged = bloom.flags(probed)
    to_check = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    checked_new = to_check.repartition(cfg.n_parts, "url_hash").join(
        seen.repartition(cfg.n_parts, "url_hash"),
        ["url_hash", "url_norm"],
        "left_anti",
    )
    return definitely_new.unionByName(checked_new), bloom.sidecar(probed)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    cfg: CrawlConfig,
    resume: bool = False,
    io=None,
) -> CrawlRun:
    """io: any object honoring the state-IO contract (write/commit/read/
    manifest/committed_rounds/last_committed_round/reset) —
    ParquetManifestIO by default, IcebergIO on a real cluster (both in
    sources/io_tables.py).  io.read takes one round or a range of rounds,
    read as one scan of those committed slices.  io.write may be called
    from several threads at once, always for different tables."""
    io = io if io is not None else ParquetManifestIO(cfg.state_dir)
    # bucketed-store wiring check: the store's bucket(P, url_hash) DDL
    # modulus must equal cfg.n_parts, the P the engine partitions seen by —
    # fail loudly instead of writing a layout that disagrees with it.
    store_buckets = getattr(getattr(io, "store", None), "n_buckets", None)
    if store_buckets is not None and store_buckets != cfg.n_parts:
        raise ValueError(
            f"store n_buckets={store_buckets} != CrawlConfig.n_parts="
            f"{cfg.n_parts}: bucket(P, url_hash) layout would mismatch the"
            " engine's repartitioning (construct the store with"
            " n_buckets=cfg.n_parts)"
        )
    # `held` releases every cache the run still holds when the call ends,
    # returning or raising; it closes after the pool has joined
    with ExitStack() as held, ThreadPoolExecutor(
        _BATCH_THREADS, thread_name_prefix="crawl-batch"
    ) as pool:
        run = CrawlRun(io=io)
        page_keys = _cache(held, prepare_page_keys(spark, pages))  # narrow, no html
        robots_rules = _cache(held, build_robots_rules(pages))

        start_round = 0
        if resume:
            # the round manifest commits frontier+seen+fetch_log atomically, so
            # frontier's last committed round IS the run's last consistent round
            last = io.last_committed_round("frontier")
            if last is not None:
                start_round = last
            # a resume that adds no new rounds must still report the committed
            # frontier round, so read_fetch_log(io, run.rounds_run) sees the run
            run.rounds_run = start_round
        else:
            # fence against stale committed rounds from an earlier run reusing
            # this state_dir (they would otherwise leak into read_seen/
            # read_fetch_log silently)
            io.reset()

        # prep: one batch builds the small robots side and the page-key
        # index — only if a round will run — next to round 0's writes
        prep = []
        if start_round < cfg.rounds and (
            start_round == 0 or io.manifest("frontier", start_round)["rows"] > 0
        ):
            prep += [_fill(robots_rules), _fill(page_keys)]
        tables: dict[str, int] = {}
        if start_round == 0:
            frontier, seen = init_frontier(spark, seeds, cfg)

            # row counts for written tables ride the write actions as
            # observed metrics, never a read-back or lineage-recompute job
            # (per-round driver job count is the fixed cost F that caps
            # local scaling efficiency)
            def write_frontier0():
                tables["frontier"] = _observed_write(
                    io, "frontier", 0, frontier)["n"]

            def write_seen0():
                # `seen` is stored as per-round DELTAS (round=N holds only
                # the URLs first seen in round N): writes are O(new), never
                # O(total).  Readers scan every committed delta at once
                tables["seen"] = _observed_write(io, "seen", 0, seen)["n"]

            def write_bloom0():
                # the bloom sidecar is itself a committed state table:
                # resume reads it back in O(P) instead of rebuilding it.
                # The seeds' bloom pass has no previous sidecar
                io.write("bloom", 0, bloom.sidecar(bloom.bloom_pass(
                    frontier.select("url_hash", "h2"), None, cfg.n_parts)))
                tables["bloom"] = cfg.n_parts

            prep += [write_frontier0, write_seen0, write_bloom0]
        _join(_submit(spark, pool, *prep))
        if start_round == 0:
            io.commit(0, tables)

        for rnd in range(start_round + 1, cfg.rounds + 1):
            t0 = time.monotonic()
            m = RoundMetrics(round=rnd)
            # the committed manifest already records last round's frontier row
            # count — an isEmpty() probe job here would be pure fixed cost
            prev_frontier_rows = io.manifest("frontier", rnd - 1)["rows"]
            if prev_frontier_rows == 0:
                break
            # the round's caches: released once it commits, or by `held` if
            # anything in the round raises
            round_held = held.enter_context(ExitStack())
            frontier = io.read(spark, "frontier", rnd - 1)
            seen = io.read(spark, "seen", range(rnd))
            if (
                start_round > 0
                and rnd == start_round + 1
                and not _bloom_state_matches(spark, io, start_round, cfg)
            ):
                # resumed state without a bloom table, or one built under a
                # DIFFERENT geometry (n_parts / bits / hashes — reusing it
                # would mis-bucket membership tests and re-admit seen URLs):
                # rebuild once from seen, IN MEMORY ONLY.  Never rewrite the
                # already-committed round's bloom slice — a crash mid-rewrite
                # would leave committed-but-partial state, exactly what the
                # round-manifest protocol forbids.  The rebuilt sidecar is
                # written (and committed) at this round like any other.
                bloom_prev = _cache(round_held, bloom.sidecar(bloom.bloom_pass(
                    seen.select("url_hash", "h2"), None, cfg.n_parts)))
            else:
                bloom_prev = io.read(spark, "bloom", rnd - 1)

            # F6 + F7 — gate and schedule
            gated = _cache(round_held, robots_gate(frontier, robots_rules))
            selected = _cache(round_held, schedule_round(gated, cfg.round_budget_s))
            leftover = leftover_after_schedule(gated, selected)

            # F5 — adaptive fetch: broadcast the quota-bounded selected set while
            # small (html never exchanged at all); past the gate, shuffled hash
            # joins on narrow keys.  The cheap bound (last round's committed
            # frontier row count, free from the manifest) avoids an extra job in
            # the common case; only when the frontier outgrows the gate do we pay
            # one count() on the (persisted) selected set for an exact decision.
            sel_bound = prev_frontier_rows
            if sel_bound > FETCH_BROADCAST_MAX_ROWS:
                sel_bound = selected.count()
            broadcast_ok = sel_bound <= FETCH_BROADCAST_MAX_ROWS
            fetched = fetch_join_round(
                spark, pages, page_keys, selected, broadcast_selected=broadcast_ok
            )

            # F8+F9 fused — ONE parse per page produces text AND links; persisted
            # WITHOUT the html payload so both downstream consumers (lineage sink,
            # candidate pipeline) reuse the single Python pass.
            enriched = _cache(round_held, extract_fetched(fetched))

            fetch_log = enriched.select(
                F.lit(rnd).alias("round"),
                F.spark_partition_id().alias("part_id"),
                "host",
                "url_norm",
                "url_hash",
                "depth",
                "fetch_seq",
                "due_s",
                "status",
                "text_sha256",
                "content_len",
            )

            # F1 — native validity filter over the already-extracted links
            links = (
                enriched.filter("status = 200")
                .select("depth", F.explode("links").alias("link"))
                .filter(_is_valid_expr("link"))
            )
            # within-batch collapse: one row per url, min discovery depth
            candidates = _with_keys(
                links.groupBy(F.col("link").alias("url_norm")).agg(
                    (F.min("depth") + 1).alias("depth")
                )
            )

            def write_fetch_log():
                # both counts ride the write action as observed metrics
                return _observed_write(
                    io, "fetch_log", rnd, fetch_log,
                    F.sum((F.col("status") == 200).cast("long")).alias("ok"),
                )

            def write_frontier():
                # F3 dedup, then F11: leftover ∪ newly discovered.  No merge
                # is needed: the leftover is in seen, the new urls are not,
                # and the candidates are already one row per url.  This
                # write is the round's one lineage-materializing action for
                # the candidate side: it fills the bloom-pass and
                # new_frontier_rows caches the next batch reads.
                new_urls, next_sidecar = _dedup_candidates(
                    candidates, seen, bloom_prev, cfg, round_held
                )
                new_rows = _cache(round_held, new_urls.withColumn(
                    "host", F.lower(F.parse_url("url_norm", F.lit("HOST")))
                ).select(*FRONTIER_COLS))
                next_frontier = leftover.select(*FRONTIER_COLS).unionByName(new_rows)
                n = _observed_write(io, "frontier", rnd, next_frontier)["n"]
                return n, new_rows, next_sidecar

            # the round's one batch: the fetch_log sink next to the candidate →
            # frontier chain; seen and bloom need only the rows the frontier
            # write cached, so they join the batch as soon as it returns —
            # never a read-back of the uncommitted seen delta
            futures = _submit(
                spark, pool,
                _timed(m.phase_s, "fetch_extract_write", write_fetch_log),
                _timed(m.phase_s, "frontier_write", write_frontier),
            )
            tables: dict[str, int] = {}
            try:
                n_frontier, new_frontier_rows, next_sidecar = futures[1].result()
                seen_delta = new_frontier_rows.select(
                    "url_norm", "url_hash", "h2"
                ).withColumn("round_seen", F.lit(rnd))

                def write_seen():
                    tables["seen"] = _observed_write(  # delta count
                        io, "seen", rnd, seen_delta)["n"]

                def write_bloom():
                    # a filter of the cached bloom pass; the round's candidate
                    # and maybe-seen counts ride the write
                    stats = _observed_write(
                        io, "bloom", rnd, next_sidecar,
                        F.sum("n_probed").alias("probed"),
                        F.sum("n_maybe_seen").alias("maybes"),
                    )
                    tables["bloom"] = cfg.n_parts
                    return stats

                futures += _submit(
                    spark, pool,
                    _timed(m.phase_s, "seen_write", write_seen),
                    _timed(m.phase_s, "bloom_write", write_bloom),
                )
            finally:
                # every submitted write finishes before the round either
                # commits or is abandoned with the first error
                wait(futures)
            log_stats, _, _, bloom_stats = _join(futures)
            m.candidates = bloom_stats["probed"] or 0
            m.bloom_skipped = m.candidates - (bloom_stats["maybes"] or 0)
            m.urls_selected = log_stats["n"]
            m.urls_fetched_ok = log_stats["ok"] or 0
            m.urls_404 = m.urls_selected - m.urls_fetched_ok
            tables.update(fetch_log=m.urls_selected, frontier=n_frontier)
            m.urls_new = tables["seen"]
            m.wall_s = time.monotonic() - t0
            io.commit(rnd, tables)
            run.metrics.append(m)
            run.rounds_run = rnd
            # all round outputs are committed — free the round's caches so
            # memory stays O(1 round), not O(rounds)
            round_held.close()
            if n_frontier == 0:
                break

        # F12 — one metrics snapshot for the whole run (off the per-round
        # critical path; per-round lineage lives in fetch_log already)
        if run.metrics:
            # phase_s rides along as a map column so the committed table carries
            # the same W-vs-F diagnostic the driver sees (RoundMetrics.phase_s) —
            # a cluster operator can read scaling behavior off the state table
            # without driver logs.  Built as an Arrow table: a local relation,
            # no Python worker.
            metrics_df = spark.createDataFrame(pa.Table.from_pylist(
                [vars(m) for m in run.metrics], schema=_METRICS_SCHEMA
            ))
            io.write("metrics", run.rounds_run, metrics_df)
            io.commit(run.rounds_run, {"metrics": len(run.metrics)})
        return run


# --- result readers (shared by tests / bench / analytics) ----------------------

def read_fetch_log(spark: SparkSession, io: ParquetManifestIO,
                   up_to_round: int) -> DataFrame:
    """fetch_log rounds 1..up_to_round in one scan.  A gap (a round in range
    that was never committed) raises instead of silently truncating — the
    commit protocol guarantees contiguity, so a hole means corruption."""
    if up_to_round < 1:
        raise FileNotFoundError("no committed fetch_log rounds")
    return io.read(spark, "fetch_log", range(1, up_to_round + 1))


def read_seen(spark: SparkSession, io: ParquetManifestIO) -> DataFrame:
    """The full committed seen set: every round's delta in one scan."""
    last = io.last_committed_round("seen")
    if last is None:
        raise FileNotFoundError("no committed seen rounds")
    return io.read(spark, "seen", range(last + 1))
