"""The distributed URL-frontier crawl loop (SURVEY.md §3.2) — one BSP round
per driver iteration, all state in committed tables.

Dataflow per round (SURVEY §3.2):

    frontier ──F6 gate (robots bcast join)── F7 schedule ── selected
    selected ──F5 fetch-join pages_latest (hash-keyed) ── fetched (persist)
    fetched ──F9 text UDF──► fetch_log sink
    fetched ──F8 link UDF ── explode ── F1 native filter
            ──F3 dedup (bloom bcast prefilter → exact anti-join vs seen)
            ──F11 merge leftover ──► frontier′, seen′, bloom′ sinks

Scale levers baked in (SURVEY §4): F1 stays native (pushable); the fetch
join is keyed on xxhash64(url_norm) (narrow shuffle key, AQE skew-join
handles hot hosts); robots/bloom sidecars are broadcasts; the per-host
scheduler is two-phase-ranked then applyInPandas on quota-bounded groups;
`seen` and candidates are both repartitioned by pmod(url_hash, P) so the
anti-join co-partitions; on the Iceberg backend the seen/frontier tables are
CREATED with bucket(P, url_hash) DDL (sources/io_tables.py::iceberg_layout),
so under storage-partitioned joins that exchange disappears entirely.
Lineage never spans rounds — every round re-reads committed state, the
Spark analogue of the reference's save-file sync.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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
from spacetime_crawler_spark.functions.urlnorm import BLACKLIST_RLIKE
from spacetime_crawler_spark.sources.io_tables import ParquetManifestIO

FRONTIER_COLS = ("url_norm", "url_hash", "h2", "host", "depth")


@dataclass
class CrawlConfig:
    state_dir: str
    rounds: int = 4
    round_budget_s: float = 30.0
    n_parts: int = 32
    use_bloom: bool = True
    # fetch-join strategy gate: broadcast the selected set while it's small,
    # fall back to a shuffled hash join past this many rows (the 10^10-tier
    # regime where the winner set exceeds broadcast size)
    fetch_broadcast_max_rows: int = 2_000_000
    # sidecar membership gate: broadcast the whole sidecar below this size,
    # cogroup candidates with the sidecar rows on part_id above it (each
    # task then holds only its buckets' bitmaps)
    bloom_broadcast_max_bytes: int = 64 << 20
    # rewrite `seen` as one compacted snapshot every K rounds so readers
    # union ≤K+1 files instead of O(rounds); 0 disables compaction
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
    # per-phase wall breakdown (driver-observed): which parts of a round
    # scale with cores (parallel work W) vs stay fixed (per-round cost F) —
    # the diagnostic that drives the scaling-efficiency work
    phase_s: dict = field(default_factory=dict)


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

    The canonicalized seed set is materialized ONCE (eager localCheckpoint):
    without it, the frontier and seen writes each re-ship the driver-side
    seed list to executors and re-run the canonicalize UDF + distinct — at
    100k+ seeds that doubles round-0's fixed cost for no reason, and on a
    real cluster it doubles the driver→executor seed transfer."""
    seed_df = spark.createDataFrame([(s,) for s in seeds], "url string")
    canon = (
        seed_df.withColumn("url_norm", canonicalize_udf("url"))
        .filter(_is_valid_expr("url_norm"))
        .select("url_norm")
        .distinct()
    )
    frontier = _with_keys(canon).withColumn(
        "host", F.lower(F.parse_url("url_norm", F.lit("HOST")))
    ).withColumn("depth", F.lit(0)).select(*FRONTIER_COLS).localCheckpoint(
        eager=True
    )
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


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    cfg: CrawlConfig,
    resume: bool = False,
    io=None,
) -> CrawlRun:
    """io: any object honoring the state-IO contract (write/commit/read/
    read_uncommitted/manifest/committed_rounds/last_committed_round/reset) —
    ParquetManifestIO by default, IcebergIO on a real cluster (both in
    sources/io_tables.py)."""
    io = io if io is not None else ParquetManifestIO(cfg.state_dir)
    # bucketed-store wiring check: a store whose bucket(P, url_hash) DDL
    # modulus differs from cfg.n_parts would silently create a layout the
    # engine's pmod(url_hash, P) repartitioning can never storage-co-join
    # with — fail loudly instead of quietly reintroducing the exchange.
    store_buckets = getattr(getattr(io, "store", None), "n_buckets", None)
    if store_buckets is not None and store_buckets != cfg.n_parts:
        raise ValueError(
            f"store n_buckets={store_buckets} != CrawlConfig.n_parts="
            f"{cfg.n_parts}: bucket(P, url_hash) layout would mismatch the"
            " engine's repartitioning (construct the store with"
            " n_buckets=cfg.n_parts)"
        )
    run = CrawlRun(io=io)

    page_keys = prepare_page_keys(spark, pages).persist()  # narrow, no html
    robots_rules = build_robots_rules(pages).persist()
    robots_rules.count()  # materialize the small side once

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
        # this state_dir (they would otherwise union into read_seen/
        # read_fetch_log silently)
        io.reset()
    if start_round == 0:
        frontier, seen = init_frontier(spark, seeds, cfg)
        # row counts for written tables ride the write actions as observed
        # metrics, never a read-back or lineage-recompute job (per-round
        # driver job count is the fixed cost F that caps local scaling
        # efficiency).  The two counts that can't be observations — the
        # bloom-path candidate stats (cheap flagged-cache aggregate) and the
        # non-bloom candidates.count() — are called out where they run.
        obs_f0, obs_s0 = Observation(), Observation()
        io.write("frontier", 0,
                 frontier.observe(obs_f0, F.count(F.lit(1)).alias("n")))
        # `seen` is stored as per-round DELTAS (round=N holds only the URLs
        # first seen in round N): writes are O(new), never O(total) — the
        # snapshot-rewrite alternative re-writes the whole 10^10-key set
        # every round.  Readers union the latest compacted snapshot plus the
        # ≤K tail deltas (see read_seen_up_to); Iceberg backend compacts
        # natively.
        io.write("seen", 0, seen.repartition(cfg.n_parts, "url_hash")
                 .observe(obs_s0, F.count(F.lit(1)).alias("n")))
        tables = {"frontier": obs_f0.get["n"], "seen": obs_s0.get["n"]}
        if cfg.use_bloom:
            # the bloom sidecar is itself a committed state table: resume
            # reads it back in O(P) instead of rebuilding from the seen set
            io.write("bloom", 0, bloom.delta_bitmaps_df(
                io.read_uncommitted(spark, "seen", 0), cfg.n_parts,
                bloom.BITS_PER_PART, bloom.NUM_HASHES,
            ))
            tables["bloom"] = cfg.n_parts
        io.commit(0, tables)
    bloom_override: DataFrame | None = None
    if (
        cfg.use_bloom
        and start_round > 0
        and not _bloom_state_matches(spark, io, start_round, cfg)
    ):
        # resumed state without a bloom table, or one built under a DIFFERENT
        # geometry (n_parts / bits / hashes — reusing it would mis-bucket
        # membership tests and re-admit seen URLs): rebuild once from seen,
        # IN MEMORY ONLY.  Never rewrite the already-committed round's bloom
        # slice — a crash mid-rewrite would leave committed-but-partial
        # state, exactly what the round-manifest protocol forbids.  The
        # rebuilt sidecar feeds the first resumed round and is then written
        # (and committed) at that round like any other.
        bloom_override = bloom.delta_bitmaps_df(
            read_seen_up_to(spark, io, start_round), cfg.n_parts,
            bloom.BITS_PER_PART, bloom.NUM_HASHES,
        ).persist()

    for rnd in range(start_round + 1, cfg.rounds + 1):
        t0 = time.monotonic()
        m = RoundMetrics(round=rnd)
        round_persists: list[DataFrame] = []
        # the committed manifest already records last round's frontier row
        # count — an isEmpty() probe job here would be pure fixed cost
        prev_frontier_rows = io.manifest("frontier", rnd - 1)["rows"]
        if prev_frontier_rows == 0:
            break
        frontier = io.read(spark, "frontier", rnd - 1)
        seen = read_seen_up_to(spark, io, rnd - 1)

        # F6 + F7 — gate and schedule
        gated = robots_gate(frontier, robots_rules).persist()
        selected = schedule_round(gated, cfg.round_budget_s).persist()
        leftover = leftover_after_schedule(gated, selected)

        # F5 — adaptive fetch: broadcast the quota-bounded selected set while
        # small (html never exchanged at all); past the gate, shuffled hash
        # joins on narrow keys.  The cheap bound (last round's committed
        # frontier row count, free from the manifest) avoids an extra job in
        # the common case; only when the frontier outgrows the gate do we pay
        # one count() on the (persisted) selected set for an exact decision.
        sel_bound = prev_frontier_rows
        if sel_bound > cfg.fetch_broadcast_max_rows:
            sel_bound = selected.count()
        broadcast_ok = sel_bound <= cfg.fetch_broadcast_max_rows
        fetched = fetch_join_round(
            spark, pages, page_keys, selected, broadcast_selected=broadcast_ok
        )

        # F8+F9 fused — ONE parse per page produces text AND links; persisted
        # WITHOUT the html payload so both downstream consumers (lineage sink,
        # candidate pipeline) reuse the single Python pass.
        enriched = extract_fetched(fetched).persist()

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
        # both counts ride the write action as observed metrics (zero extra
        # jobs — no lineage recompute, no read-back)
        t_ph = time.monotonic()
        obs_log = Observation()
        io.write("fetch_log", rnd, fetch_log.observe(
            obs_log,
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("status") == 200).cast("long")).alias("ok"),
        ))
        log_stats = obs_log.get
        m.phase_s["fetch_extract_write"] = round(time.monotonic() - t_ph, 3)
        t_ph = time.monotonic()
        m.urls_selected = log_stats["n"]
        m.urls_fetched_ok = log_stats["ok"] or 0
        m.urls_404 = m.urls_selected - m.urls_fetched_ok

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

        # F3 — bloom prefilter (definite-negatives skip the exact anti-join),
        # then exact left_anti vs seen, both sides partitioned by url_hash.
        bloom_bcast = None
        if cfg.use_bloom:
            if rnd == start_round + 1 and bloom_override is not None:
                bloom_prev = bloom_override
            else:
                bloom_prev = io.read(spark, "bloom", rnd - 1)
            sidecar_bytes = cfg.n_parts * (bloom.BITS_PER_PART // 8)
            if sidecar_bytes <= cfg.bloom_broadcast_max_bytes:
                # small sidecar: one broadcast, destroyed at round end
                maybe_seen_udf, bloom_bcast = bloom.make_maybe_seen_udf(
                    spark, bloom.collect_sidecar(bloom_prev), cfg.n_parts
                )
                flagged = candidates.withColumn(
                    "maybe_seen", maybe_seen_udf("url_hash", "h2")
                ).persist()
            else:
                # large sidecar: cogroup on part_id — each task receives only
                # its buckets' bitmaps, never the whole sidecar
                flagged = bloom.flag_maybe_seen_cogrouped(
                    candidates, bloom_prev, cfg.n_parts
                ).persist()
            round_persists.append(flagged)
            definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
            to_check = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
            checked_new = to_check.repartition(cfg.n_parts, "url_hash").join(
                seen.repartition(cfg.n_parts, "url_hash"),
                ["url_hash", "url_norm"],
                "left_anti",
            )
            new_urls = definitely_new.unionByName(checked_new)
        else:
            m.candidates = candidates.count()
            new_urls = candidates.repartition(cfg.n_parts, "url_hash").join(
                seen.repartition(cfg.n_parts, "url_hash"),
                ["url_hash", "url_norm"],
                "left_anti",
            )

        new_frontier_rows = new_urls.withColumn(
            "host", F.lower(F.parse_url("url_norm", F.lit("HOST")))
        ).select(*FRONTIER_COLS).persist()

        # F11 — merge: leftover ∪ newly discovered (min depth per url)
        next_frontier = (
            leftover.select(*FRONTIER_COLS)
            .unionByName(new_frontier_rows)
            .groupBy("url_norm", "url_hash", "h2", "host")
            .agg(F.min("depth").alias("depth"))
            .select(*FRONTIER_COLS)
        )
        seen_delta = new_frontier_rows.select(
            "url_norm", "url_hash", "h2"
        ).withColumn("round_seen", F.lit(rnd))

        # The frontier write is the round's one lineage-materializing action
        # (it populates the new_frontier_rows cache); the seen write then
        # reads that cache.  Row counts for the manifest ride both writes as
        # observed metrics — the old read-back count() and urls_new count()
        # jobs are gone.
        m.phase_s["bloom_read_plan"] = round(time.monotonic() - t_ph, 3)
        t_ph = time.monotonic()
        obs_front, obs_seen = Observation(), Observation()
        io.write("frontier", rnd,
                 next_frontier.observe(obs_front, F.count(F.lit(1)).alias("n")))
        n_frontier = obs_front.get["n"]
        if cfg.use_bloom:
            # the frontier write above just materialized the flagged cache,
            # so this aggregate is a cache scan, not a recompute — a cheap
            # stats job where the pre-round-3 version paid the full
            # candidate-pipeline compute serially before the write
            cstats = flagged.agg(
                F.count("*").alias("n"),
                F.sum(F.col("maybe_seen").cast("long")).alias("maybes"),
            ).collect()[0]
            m.candidates = cstats.n
            m.bloom_skipped = m.candidates - (cstats.maybes or 0)
        m.phase_s["frontier_write"] = round(time.monotonic() - t_ph, 3)
        t_ph = time.monotonic()
        io.write("seen", rnd,
                 seen_delta.repartition(cfg.n_parts, "url_hash")
                 .observe(obs_seen, F.count(F.lit(1)).alias("n")))
        m.urls_new = obs_seen.get["n"]
        m.phase_s["seen_write"] = round(time.monotonic() - t_ph, 3)
        t_ph = time.monotonic()
        tables = {
            "frontier": n_frontier,
            "seen": m.urls_new,  # delta count; snapshot is full
            "fetch_log": m.urls_selected,
        }
        if cfg.use_bloom:
            # distributed sidecar maintenance: previous rows ∪ this round's
            # delta bitmaps, OR'd per bucket — O(new) work + ≤2P-row shuffle
            io.write("bloom", rnd, bloom.merge_bitmaps_df(
                bloom_prev.unionByName(bloom.delta_bitmaps_df(
                    io.read_uncommitted(spark, "seen", rnd), cfg.n_parts,
                    bloom.BITS_PER_PART, bloom.NUM_HASHES,
                ))
            ))
            tables["bloom"] = cfg.n_parts
            m.phase_s["bloom_write"] = round(time.monotonic() - t_ph, 3)
        if cfg.seen_compact_every and rnd % cfg.seen_compact_every == 0:
            # compaction: one full snapshot so seen readers union ≤K+1 files
            # instead of O(rounds); committed atomically with the round
            snapshot = seen.unionByName(io.read_uncommitted(spark, "seen", rnd))
            obs_snap = Observation()
            io.write(
                "seen_snapshot", rnd,
                snapshot.repartition(cfg.n_parts, "url_hash")
                .observe(obs_snap, F.count(F.lit(1)).alias("n")),
            )
            tables["seen_snapshot"] = obs_snap.get["n"]
        m.wall_s = time.monotonic() - t0
        io.commit(rnd, tables)
        run.metrics.append(m)
        run.rounds_run = rnd

        for df in (gated, selected, enriched, new_frontier_rows, *round_persists):
            df.unpersist()
        if bloom_bcast is not None:
            # all round outputs are committed — free this round's sidecar
            # broadcast so driver/executor memory stays O(1 sidecar), not
            # O(rounds × sidecar)
            bloom_bcast.destroy()
        if bloom_override is not None and rnd == start_round + 1:
            bloom_override.unpersist()
            bloom_override = None
        if n_frontier == 0:
            break

    # F12 — one metrics snapshot for the whole run (off the per-round
    # critical path; per-round lineage lives in fetch_log already)
    if run.metrics:
        # phase_s rides along as a map column so the committed table carries
        # the same W-vs-F diagnostic the driver sees (RoundMetrics.phase_s) —
        # a cluster operator can read scaling behavior off the state table
        # without driver logs
        metrics_df = spark.createDataFrame(
            [(m.round, m.urls_selected, m.urls_fetched_ok, m.urls_404,
              m.candidates, m.bloom_skipped, m.urls_new, m.wall_s,
              dict(m.phase_s))
             for m in run.metrics],
            "round int, urls_selected long, urls_fetched_ok long, urls_404 long,"
            " candidates long, bloom_skipped long, urls_new long, wall_s double,"
            " phase_s map<string,double>",
        )
        io.write("metrics", run.rounds_run, metrics_df)
        io.commit(run.rounds_run, {"metrics": len(run.metrics)})

    page_keys.unpersist()
    robots_rules.unpersist()
    return run


# --- result readers (shared by tests / bench / analytics) ----------------------

def read_fetch_log(spark: SparkSession, io: ParquetManifestIO,
                   up_to_round: int) -> DataFrame:
    """Union of fetch_log rounds 1..up_to_round.  A gap (a round in range
    that was never committed) raises instead of silently truncating — the
    commit protocol guarantees contiguity, so a hole means corruption."""
    dfs = [io.read(spark, "fetch_log", rnd) for rnd in range(1, up_to_round + 1)]
    if not dfs:
        raise FileNotFoundError("no committed fetch_log rounds")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def read_seen_up_to(spark: SparkSession, io: ParquetManifestIO,
                    rnd_inclusive: int) -> DataFrame:
    """The full seen set as of a round: the latest committed compacted
    snapshot ≤ rnd plus the tail deltas after it — bounded read fan-in
    (≤ seen_compact_every + 1 files) regardless of how many rounds the
    crawl has run."""
    snaps = [s for s in io.committed_rounds("seen_snapshot") if s <= rnd_inclusive]
    if snaps:
        out = io.read(spark, "seen_snapshot", snaps[-1])
        start = snaps[-1] + 1
    else:
        out = io.read(spark, "seen", 0)
        start = 1
    for r in range(start, rnd_inclusive + 1):
        out = out.unionByName(io.read(spark, "seen", r))
    return out


def read_seen(spark: SparkSession, io: ParquetManifestIO) -> DataFrame:
    """The full committed seen set (snapshot + tail deltas)."""
    last = io.last_committed_round("seen")
    if last is None:
        raise FileNotFoundError("no committed seen rounds")
    return read_seen_up_to(spark, io, last)
