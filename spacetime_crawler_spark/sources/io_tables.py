"""Pluggable state-table IO with atomic per-round commits (SURVEY.md §4.4).

Two backends behind one interface:

- **ParquetManifestIO** (default; the only one runnable in this sandbox —
  no Iceberg jars exist offline): each round's snapshot of each state table
  is written to ``<root>/<table>/round=N/``; visibility comes from ONE
  round-level manifest ``<root>/_commits/round=N.json`` listing every table
  committed in that round, published LAST by atomic rename.  A single
  manifest covering all of a round's tables makes the round commit atomic
  ACROSS tables: a crash between the frontier/seen/fetch_log writes leaves
  no manifest, so resume re-runs the whole round — there is no state where
  some tables of round N are visible and others are not (the Spark analogue
  of the reference frontier's save-file sync — crawler/frontier.py::add_url's
  ``save.sync()``, UNVERIFIED, SURVEY §2 F10).

- **IcebergIO** (real cluster): same interface over an Iceberg catalog —
  ``writeTo(...).createOrReplace()`` per round gives snapshot isolation and
  time travel natively.  Activate with
  ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13
  --conf spark.sql.catalog.cr=org.apache.iceberg.spark.SparkCatalog ...``;
  untestable offline, kept thin and documented.

The parquet backend writes each slice as it comes; the crawl's anti-join
repartitions seen by url_hash when it reads it.  The Iceberg backend
partitions the url_hash-keyed tables with bucket(P, url_hash) DDL
(iceberg_layout).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

COMMITS_DIR = "_commits"

# every table name the crawl engine writes — reset() fences exactly these
STATE_TABLES = (
    "frontier", "seen", "seen_snapshot", "fetch_log", "bloom", "metrics"
)


@dataclass
class ParquetManifestIO:
    root: str

    def _round_dir(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"round={rnd}")

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self.root, COMMITS_DIR, f"round={rnd}.json")

    def reset(self) -> None:
        """Fence a fresh (resume=False) run against stale state from an
        earlier run of the same state_dir: without this, a shorter re-run
        would leave higher committed rounds behind and readers keyed on
        last_committed_round would silently union stale deltas.  Deletes
        ONLY the commit ledger and the engine's own state tables — a
        state_dir that also holds unrelated user files never loses them."""
        import shutil

        for sub in (COMMITS_DIR, *STATE_TABLES):
            path = os.path.join(self.root, sub)
            if os.path.isdir(path):
                shutil.rmtree(path)

    def write(self, table: str, rnd: int, df: DataFrame) -> int:
        """Write a full snapshot for (table, round); NOT yet visible."""
        # reset()/drop_all() fence exactly STATE_TABLES — an unknown name
        # would silently escape the stale-state fence, so refuse it loudly
        assert table in STATE_TABLES, f"unknown state table {table!r}"
        path = self._round_dir(table, rnd)
        df.write.mode("overwrite").parquet(path)
        return rnd

    def commit(self, rnd: int, tables: dict[str, int]) -> None:
        """Publish ALL tables written for this round with ONE atomic rename
        of the round manifest — the cross-table commit point.  A crash before
        this line leaves every table of the round invisible; a crash after it
        leaves every table visible.  tables maps name -> row_count.  Calling
        commit again for the same round (e.g. the end-of-run metrics table)
        merges into the existing manifest — still a single atomic rename."""
        manifest = {"round": rnd, "tables": dict(tables), "committed_at": time.time()}
        path = self._manifest_path(rnd)
        if os.path.exists(path):
            with open(path) as f:
                prev = json.load(f)
            manifest["tables"] = {**prev.get("tables", {}), **manifest["tables"]}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)  # atomic rename = the commit point

    def _round_manifest(self, rnd: int) -> dict | None:
        try:
            with open(self._manifest_path(rnd)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def committed_rounds(self, table: str) -> list[int]:
        """Sorted rounds in which `table` was committed."""
        base = os.path.join(self.root, COMMITS_DIR)
        if not os.path.isdir(base):
            return []
        rounds = []
        for entry in os.listdir(base):
            if entry.startswith("round=") and entry.endswith(".json"):
                rnd = int(entry[len("round="):-len(".json")])
                m = self._round_manifest(rnd)
                if m and table in m.get("tables", {}):
                    rounds.append(rnd)
        return sorted(rounds)

    def last_committed_round(self, table: str) -> int | None:
        rounds = self.committed_rounds(table)
        return rounds[-1] if rounds else None

    def read(self, spark: SparkSession, table: str, rnd: int) -> DataFrame:
        m = self._round_manifest(rnd)
        if m is None or table not in m.get("tables", {}):
            raise FileNotFoundError(f"round {rnd} of {table} was never committed")
        return spark.read.parquet(self._round_dir(table, rnd))

    def manifest(self, table: str, rnd: int) -> dict:
        """Per-table manifest view (rows + commit time) from the round
        manifest; raises FileNotFoundError if (table, round) is uncommitted."""
        m = self._round_manifest(rnd)
        if m is None or table not in m.get("tables", {}):
            raise FileNotFoundError(f"round {rnd} of {table} was never committed")
        return {
            "table": table,
            "round": rnd,
            "rows": m["tables"][table],
            "committed_at": m["committed_at"],
        }


# marker column carrying the state round inside each Iceberg table; named to
# never collide with payload columns (fetch_log has its own `round`)
STATE_ROUND_COL = "_state_round"

# default bucket modulus for url_hash-keyed state tables — matches
# CrawlConfig.n_parts's default.  The CALLER must keep these in sync: a run
# with a non-default n_parts must construct its store with the same P
# (SparkIcebergStore(..., n_buckets=cfg.n_parts)); run_crawl refuses a
# store that disagrees.  The engine still repartitions seen with Spark's
# own hash (not Iceberg's bucket transform) when the anti-join reads it,
# so the layout saves no exchange until seen is read in place.
ICEBERG_BUCKETS = 32


def iceberg_layout(
    table: str, columns, n_buckets: int = ICEBERG_BUCKETS
) -> tuple[tuple, ...]:
    """Declarative partition spec per state table, shared by the real
    SparkIcebergStore DDL and the FakeStore contract assertions:

    - every table partitions by identity(_state_round) — round pruning;
    - the url_hash-keyed tables (frontier / seen / seen_snapshot)
      additionally use bucket(P, url_hash) (SURVEY §1.2's
      `bucket(P, url_hash)` layout, as DDL).  The F3 anti-join does not
      use it yet: it repartitions seen with Spark's hash as it reads it
      (see ICEBERG_BUCKETS)."""
    spec: list[tuple] = []
    if STATE_ROUND_COL in columns:
        spec.append(("identity", STATE_ROUND_COL))
    if table in ("frontier", "seen", "seen_snapshot") and "url_hash" in columns:
        spec.append(("bucket", n_buckets, "url_hash"))
    return tuple(spec)


class IcebergIO:
    """State-table IO over ONE Iceberg table per state name + a `_commits`
    ledger table — the same contract as ParquetManifestIO:

    - ``write(table, rnd, df)`` replaces the ``_state_round = rnd`` slice of
      ``<table>`` (idempotent: re-running an uncommitted round overwrites
      its own leftovers, exactly like the parquet backend's
      mode("overwrite") round directory).
    - ``commit(rnd, tables)`` appends ONE row to the ``_commits`` ledger —
      a single atomic Iceberg snapshot commit is the cross-table publish
      point, mirroring the parquet backend's single manifest rename.
      Re-committing the same round (metrics) appends a superseding row with
      the merged table map; the highest seq per round wins.
    - readers resolve rounds from the ledger only, so data appended without
      a ledger row is invisible (crash-mid-round safety).

    All backend-specific calls are behind a tiny `store` object so this
    logic is unit-testable offline (tests/test_iceberg_io.py runs the whole
    contract — and the full crawl engine — against an in-memory store);
    SparkIcebergStore below is the real-catalog binding (requires
    iceberg-spark-runtime jars, unavailable in this sandbox)."""

    COMMITS_TABLE = "_commits"
    _COMMITS_SCHEMA = "rnd int, seq int, tables_json string, committed_at double"

    def __init__(self, store):
        self.store = store
        # resolved-ledger cache: one collect per commit, not one per
        # read/manifest/committed_rounds call.  Safe because an IcebergIO
        # instance is the run's SINGLE writer (the engine's contract) — the
        # cache is invalidated on every commit this instance makes, and
        # nothing else appends to the ledger mid-run.
        self._ledger_cache: dict[int, tuple[int, dict[str, int]]] | None = None

    # -- commit ledger ---------------------------------------------------------

    def _ledger(self) -> dict[int, tuple[int, dict[str, int]]]:
        """round → (latest seq, merged {table: rows}), cached per commit."""
        if self._ledger_cache is None:
            try:
                rows = self.store.read(self.COMMITS_TABLE).collect()
            except FileNotFoundError:
                rows = []
            latest: dict[int, tuple[int, dict[str, int]]] = {}
            for r in rows:
                if r.rnd not in latest or r.seq > latest[r.rnd][0]:
                    latest[r.rnd] = (r.seq, json.loads(r.tables_json))
            self._ledger_cache = latest
        return self._ledger_cache

    def _commit_map(self) -> dict[int, dict[str, int]]:
        """round → merged {table: rows} from the latest ledger row per round."""
        return {rnd: tj for rnd, (_, tj) in self._ledger().items()}

    def commit(self, rnd: int, tables: dict[str, int]) -> None:
        ledger = self._ledger()
        merged = {**ledger.get(rnd, (0, {}))[1], **tables}
        # next seq from the cached latest-per-round seqs (the global max seq
        # is always among them) — never a full-ledger collect per commit
        seq = max((s for s, _ in ledger.values()), default=-1) + 1
        self.store.append_rows(
            self.COMMITS_TABLE,
            [(rnd, seq, json.dumps(merged), time.time())],
            self._COMMITS_SCHEMA,
        )
        self._ledger_cache = None

    # -- data ------------------------------------------------------------------

    def write(self, table: str, rnd: int, df: DataFrame) -> int:
        from pyspark.sql import functions as F

        # same fence contract as the parquet backend (see STATE_TABLES)
        assert table in STATE_TABLES, f"unknown state table {table!r}"
        self.store.replace_round(
            table, rnd, df.withColumn(STATE_ROUND_COL, F.lit(rnd))
        )
        return rnd

    def read(self, spark: SparkSession, table: str, rnd: int) -> DataFrame:
        m = self._commit_map().get(rnd)
        if m is None or table not in m:
            raise FileNotFoundError(f"round {rnd} of {table} was never committed")
        return self._round_slice(table, rnd)

    def _round_slice(self, table: str, rnd: int) -> DataFrame:
        """The `_state_round = rnd` rows of `table`, committed or not."""
        from pyspark.sql import functions as F

        df = self.store.read(table)
        return df.filter(F.col(STATE_ROUND_COL) == rnd).drop(STATE_ROUND_COL)

    # -- round resolution ------------------------------------------------------

    def committed_rounds(self, table: str) -> list[int]:
        return sorted(
            rnd for rnd, tables in self._commit_map().items() if table in tables
        )

    def last_committed_round(self, table: str) -> int | None:
        rounds = self.committed_rounds(table)
        return rounds[-1] if rounds else None

    def manifest(self, table: str, rnd: int) -> dict:
        m = self._commit_map().get(rnd)
        if m is None or table not in m:
            raise FileNotFoundError(f"round {rnd} of {table} was never committed")
        return {"table": table, "round": rnd, "rows": m[table]}

    def reset(self) -> None:
        self.store.drop_all()
        self._ledger_cache = None


class SparkIcebergStore:
    """Real-catalog binding for IcebergIO (thin by design — everything
    testable lives in IcebergIO).  Activate with
    ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13
    --conf spark.sql.catalog.cr=org.apache.iceberg.spark.SparkCatalog ...``
    then ``IcebergIO(SparkIcebergStore(spark, "cr", "crawl"))``."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: str,
        namespace: str,
        n_buckets: int = ICEBERG_BUCKETS,
    ):
        # n_buckets MUST equal the run's CrawlConfig.n_parts (see the
        # ICEBERG_BUCKETS note) — it parameterizes the bucket(P, url_hash)
        # DDL of the url_hash-keyed tables.
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        self.n_buckets = n_buckets
        # tables known to carry write.spark.accept-any-schema (see _append)
        self._any_schema_set: set[str] = set()

    def _fq(self, name: str) -> str:
        return f"{self.prefix}.{name}"

    def _exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._fq(name))

    def _create(self, name: str, df: DataFrame) -> None:
        from pyspark.sql import functions as F

        try:  # Spark 4 moved partition transforms to functions.partitioning
            from pyspark.sql.functions import partitioning as _PT

            bucket_fn = _PT.bucket
        except ImportError:  # pragma: no cover - Spark 3.x fallback
            bucket_fn = F.bucket

        writer = df.writeTo(self._fq(name))
        cols = []
        for spec in iceberg_layout(name, df.columns, self.n_buckets):
            if spec[0] == "identity":
                cols.append(F.col(spec[1]))
            else:  # ("bucket", n, col) — Iceberg bucket transform DDL
                cols.append(bucket_fn(spec[1], F.col(spec[2])))
        if cols:
            writer = writer.partitionedBy(cols[0], *cols[1:])
        # Spark's DSv2 analyzer rejects a wider DataFrame at ANALYSIS time
        # unless the table capability reports ACCEPT_ANY_SCHEMA, which
        # Iceberg only advertises when this table property is set — the
        # merge-schema write options below are dead letters without it.
        writer.tableProperty("write.spark.accept-any-schema", "true").create()
        self._any_schema_set.add(name)

    def _append(self, name: str, df: DataFrame) -> None:
        # merge-schema: an upgraded engine may append a WIDER row shape to a
        # table created by an older build (e.g. the metrics table gaining
        # phase_s); Iceberg evolves the schema additively instead of
        # failing the end-of-run write after all the crawl work is done.
        # Both spellings are set — Iceberg's canonical write option is
        # "merge-schema", some releases accept only "mergeSchema".
        # Tables created by a pre-round-5 build lack the accept-any-schema
        # property (see _create), so ensure it before the widened append —
        # once per table per store instance; ALTER is a metadata-only op.
        if name not in self._any_schema_set:
            self.spark.sql(
                f"ALTER TABLE {self._fq(name)} SET TBLPROPERTIES "
                "('write.spark.accept-any-schema'='true')"
            )
            self._any_schema_set.add(name)
        (
            df.writeTo(self._fq(name))
            .option("merge-schema", "true")
            .option("mergeSchema", "true")
            .append()
        )

    def append_rows(self, name: str, rows: list, schema: str) -> None:
        df = self.spark.createDataFrame(rows, schema)
        if self._exists(name):
            self._append(name, df)
        else:
            self._create(name, df)

    def replace_round(self, name: str, rnd: int, df: DataFrame) -> None:
        if self._exists(name):
            # explicit DELETE of the round slice, then append: dynamic
            # partition overwrite would only replace partitions PRESENT in
            # the incoming df, so a crashed attempt's leftovers would
            # survive a re-run that produces an empty (or smaller) result.
            # The two snapshots need not be atomic together — visibility is
            # governed solely by the commit ledger.
            self.spark.sql(
                f"DELETE FROM {self._fq(name)} WHERE {STATE_ROUND_COL} = {int(rnd)}"
            )
            self._append(name, df)
        else:
            self._create(name, df)

    def read(self, name: str) -> DataFrame:
        if not self._exists(name):
            raise FileNotFoundError(name)
        return self.spark.table(self._fq(name))

    def drop_all(self) -> None:
        # drop exactly the engine's own tables by fully-qualified name —
        # never enumerate the namespace (listTables(ns) would resolve ns in
        # the session's CURRENT catalog, and a shared namespace must not
        # lose unrelated tables to a fresh run)
        for t in (*STATE_TABLES, IcebergIO.COMMITS_TABLE):
            self.spark.sql(f"DROP TABLE IF EXISTS {self._fq(t)}")
