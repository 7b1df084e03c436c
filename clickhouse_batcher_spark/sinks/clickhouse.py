"""ClickHouse JDBC sink: batched, idempotent, retry-guarded append.

Spark-first restatement of the reference's connection + delivery layer:

- DSN/config -> JDBC options (``connect.go:37-53``): compression
  (LZ4, ``hashes_test.go:306-308``), query timeout
  (``hashes_test.go:302-304``), bounded connection parallelism
  (pool limits, ``hashes_test.go:311-313`` -> ``numPartitions``).
- ping-with-retry before first use (``connect.go:38-41, 56-64``):
  up to ``ping_count`` attempts, ``ping_interval_s`` apart, via a
  1-row JDBC probe.
- ``enabled`` gate (``connect.go:28-36``, ``hashes.go:12-15``):
  a disabled sink silently drops batches, as the reference does.
- exactly-once: a ``batch_ledger`` table keyed on ``batch_id``
  replaces the in-memory ``isSent`` flag (``hashes.go:70-83``) —
  ClickHouse has no transactions, so the ledger row is written after
  the data insert and replays of committed ids are skipped; an
  uncommitted replay re-inserts into a fresh part and relies on
  ClickHouse ``insert_deduplication`` (identical block hash) or a
  ReplacingMergeTree key to collapse duplicates.

No ClickHouse server (or its JDBC driver jar) exists in the test
container, but the full JDBC mechanics of this sink — ping, append
with table auto-create, ledger, replay-skip, resume, the disabled
gate, the streaming drain, and the Q1/Q2/Q3 verification surface —
EXECUTE against embedded Apache Derby (bundled on Spark's classpath)
in tests/test_jdbc_live_derby.py; only the CH driver class/URL and
CH-specific client options (pass-through strings) remain unexecuted.
Unit tests additionally cover option construction, the enabled gate,
and ledger semantics against a local stand-in.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_batcher_spark.columnar import ColumnarBatchBuilder
from clickhouse_batcher_spark.sinks.base import BatchSink


@dataclass
class ClickHouseSinkConfig:
    url: str = "jdbc:clickhouse://localhost:8123/default"
    table: str = "limits_hashes"
    user: str = "default"
    password: str = ""
    enabled: bool = True
    # Reference operating constants.
    ping_count: int = 4          # connect.go:38-41
    ping_interval_s: float = 1.0
    query_timeout_s: int = 60    # hashes_test.go:302-304
    compression: str = "lz4"     # hashes_test.go:306-308
    dial_timeout_s: int = 5      # hashes_test.go:305 DialTimeout
    max_connections: int = 10    # hashes_test.go:311-313 -> numPartitions
    # ConnMaxLifetime 1 h (hashes_test.go:311-313 sets time.Hour).
    # Spark JDBC opens a connection per write task (no long-lived
    # pool), so this is a pass-through driver option rather than pool
    # management.
    conn_max_lifetime_s: int = 3600
    batch_size: int = 10_000     # hashes.go:68 flush threshold
    ledger_table: str = "batch_ledger"
    # Replay horizon for the bounded ledger read (SURVEY §2.1 R3's
    # "persisted batchId high-water mark"). The sink reads MAX(batch_id)
    # plus only the ledger ids above ``hwm - replay_window``; ids at or
    # below that floor are treated as committed. Batch ids commit in
    # monotonic order (engine counter / streaming epoch), and a crash
    # replays only the most recent uncommitted epochs, so any window
    # >= the deepest possible replay is exact. Driver state is
    # O(replay_window), not O(total micro-batches ever).
    replay_window: int = 1024
    # 1-row liveness probe (connect.go:56-64). ClickHouse accepts the
    # bare `SELECT 1`; standards-stricter dialects need a FROM and a
    # column alias (Derby: `SELECT 1 AS one FROM SYSIBM.SYSDUMMY1` —
    # Spark's pruning re-select references the probe column by name,
    # so an unnamed `1` breaks). The live-Derby suite overrides this.
    ping_query: str = "SELECT 1"
    extra_options: dict[str, str] = field(default_factory=dict)

    def jdbc_options(self) -> dict[str, str]:
        opts = {
            "url": self.url,
            "dbtable": self.table,
            "user": self.user,
            "password": self.password,
            "driver": "com.clickhouse.jdbc.ClickHouseDriver",
            "batchsize": str(self.batch_size),
            "isolationLevel": "NONE",  # ClickHouse has no transactions
            "numPartitions": str(self.max_connections),
            "queryTimeout": str(self.query_timeout_s),
            "compress_algorithm": self.compression,
            # clickhouse-jdbc client options take milliseconds
            "connect_timeout": str(self.dial_timeout_s * 1000),
            # clickhouse-jdbc pooled-connection time-to-live (ms). The
            # v2 driver's documented key; older drivers ignore unknown
            # keys rather than erroring, so passing it is safe.
            "connection_ttl": str(self.conn_max_lifetime_s * 1000),
        }
        opts.update(self.extra_options)
        return opts


class ClickHouseSink(BatchSink):
    def __init__(self, config: ClickHouseSinkConfig) -> None:
        self.config = config
        self._pinged = False
        # Bounded ledger cache: the high-water mark (MAX(batch_id);
        # -1 = empty/absent ledger) plus only the committed ids above
        # ``hwm - replay_window``. Never the full id set — that grew
        # O(total micro-batches ever) on the driver.
        self._hwm: int | None = None
        self._recent: set[int] = set()
        self._ledger_col_name: str | None = None

    # -- connectivity ---------------------------------------------------
    def ping(self, spark) -> bool:
        """Bounded-retry 1-row probe, mirroring connect.go:56-64."""
        last_err: Exception | None = None
        for attempt in range(self.config.ping_count):
            try:
                (
                    spark.read.format("jdbc")
                    # `query` and `dbtable` are mutually exclusive in
                    # Spark's JDBC source — drop the table option for
                    # the probe (found by the live-Derby suite; the
                    # docker-gated CH path had never executed this).
                    .options(
                        **{
                            k: v
                            for k, v in self.config.jdbc_options().items()
                            if k != "dbtable"
                        },
                        query=self.config.ping_query,
                    )
                    .load()
                    .collect()
                )
                self._pinged = True
                return True
            except Exception as exc:  # noqa: BLE001 - retry any driver error
                last_err = exc
                if attempt + 1 < self.config.ping_count:
                    time.sleep(self.config.ping_interval_s)
        raise ConnectionError(
            f"clickhouse ping failed after {self.config.ping_count} attempts"
        ) from last_err

    # -- ledger ---------------------------------------------------------
    # Identifier-quoting policy (pinned live on Derby, both directions):
    # Spark's JDBC writer auto-creates columns QUOTED, so a
    # writer-created ledger holds a case-sensitive lowercase
    # "batch_id" on case-folding servers (Derby; ClickHouse is
    # case-sensitive unquoted, so both forms coincide there). The MAX
    # probe therefore tries the quoted form FIRST — the unquoted
    # spelling would fold to BATCH_ID and (under the old bare-except)
    # silently reset the high-water mark, voiding replay idempotency.
    # An EXTERNALLY created ledger (unquoted DDL -> upper-cased
    # physical column) is the mirror case: the quoted probe fails
    # column-not-found and the probe retries unquoted. Spark-side
    # DataFrame reads of either form resolve case-insensitively, so
    # only the raw server-side probe needs the two spellings.
    _MISSING_TABLE_MARKERS = (
        "42x05",  # Derby: table/view does not exist
        "42y07",  # Derby: schema does not exist
        "table_or_view_not_found",
        "unknown_table",  # ClickHouse code 60
        "doesn't exist",
        "does not exist",
        "table not found",
    )
    _MISSING_COLUMN_MARKERS = (
        "42x04",  # Derby: column not in any table of the FROM list
        "unknown_identifier",  # ClickHouse code 47
        "missing columns",
        "column_not_found",
        "cannot be resolved",
    )

    @staticmethod
    def _err_matches(exc: Exception, markers: tuple[str, ...]) -> bool:
        msg = str(exc).lower()
        return any(m in msg for m in markers)

    def _probe_hwm(self, spark, base_opts: dict) -> int | None:
        """Server-side ``MAX(batch_id)`` via the JDBC ``query`` option.
        Returns -1 for an empty ledger, ``None`` when the ledger TABLE
        does not exist (legitimate first run). Any other failure —
        auth, network, driver fault — RAISES: treating a transient
        fault as 'ledger absent' would report every id as new and
        duplicate writes on resume (r12 ADVICE)."""
        last_col_err: Exception | None = None
        for col_form in ('"batch_id"', "batch_id"):
            try:
                row = (
                    spark.read.format("jdbc")
                    .options(
                        **base_opts,
                        query=(
                            f"SELECT MAX({col_form}) AS hwm FROM "
                            f"{self.config.ledger_table}"
                        ),
                    )
                    .load()
                    .collect()[0]
                )
                return int(row[0]) if row[0] is not None else -1
            except Exception as exc:
                if self._err_matches(exc, self._MISSING_TABLE_MARKERS):
                    return None
                if self._err_matches(exc, self._MISSING_COLUMN_MARKERS):
                    last_col_err = exc  # wrong quoting vintage: retry
                    continue
                raise
        raise last_col_err

    def _load_ledger_state(self, spark) -> None:
        """Bounded ledger read: server-side ``MAX(batch_id)`` (one row
        over the wire, via the JDBC ``query`` option — the v1 source
        does not push aggregates through ``dbtable`` scans) plus a
        filter-pushed read of only the ids above ``hwm -
        replay_window``. Replaces the round-1..11 collect of EVERY
        batch_id ever committed: driver state is now O(replay_window)
        regardless of pipeline age (SURVEY §2.1 R3's high-water-mark
        design)."""
        if self._hwm is not None:
            return
        base = {
            k: v
            for k, v in self.config.jdbc_options().items()
            if k != "dbtable"
        }
        hwm = self._probe_hwm(spark, base)
        if hwm is None:  # ledger table absent: legitimate first run
            self._hwm = -1
            self._recent = set()
            return
        self._hwm = hwm
        if self._hwm < 0:
            self._recent = set()
            return
        floor = self._hwm - self.config.replay_window
        rows = (
            spark.read.format("jdbc")
            .options(
                **{
                    **self.config.jdbc_options(),
                    "dbtable": self.config.ledger_table,
                }
            )
            .load()
            .filter(F.col("batch_id") > floor)  # pushed into the scan
            .select("batch_id")
            .collect()
        )
        self._recent = {int(r[0]) for r in rows}

    def _ledger_col(self, spark) -> str:
        """Physical spelling of the ledger's batch-id column. Spark's
        JDBC writer QUOTES DataFrame field names on INSERT, so a row
        with field ``batch_id`` cannot land in an externally created
        (unquoted DDL -> upper-cased) ledger on a case-folding server.
        Read the existing table's schema once (a WHERE-1=0 metadata
        probe) and mirror its spelling; an absent ledger (first run —
        the writer auto-creates it) keeps the quoted-lowercase
        default. A transient fault here also falls back to the
        default, which then fails LOUDLY at the insert rather than
        silently diverging."""
        if self._ledger_col_name is None:
            try:
                schema = (
                    spark.read.format("jdbc")
                    .options(
                        **{
                            **self.config.jdbc_options(),
                            "dbtable": self.config.ledger_table,
                        }
                    )
                    .load()
                    .schema
                )
                self._ledger_col_name = schema.names[0]
            except Exception:
                self._ledger_col_name = "batch_id"
        return self._ledger_col_name

    def _is_committed(self, spark, batch_id: int) -> bool:
        """Replay check against the bounded window. Ids above the
        high-water mark are new; ids within ``replay_window`` of it
        consult the exact recent set (so an uncommitted gap — e.g. an
        empty batch that wrote no ledger row — can still land on
        retry); ids at or below the floor are older than any possible
        replay under the monotonic-commit discipline and are treated
        as committed."""
        self._load_ledger_state(spark)
        if batch_id > self._hwm:
            return False
        if batch_id <= self._hwm - self.config.replay_window:
            return True
        return batch_id in self._recent

    def next_batch_id(self, spark=None) -> int:
        """Resume point for a fresh producer: one past the ledger max.

        Without this a restarted engine would reuse id 0 and
        ``write_batch`` would silently skip it as a replay — dropping
        new data. A ledger read that fails because the *server* is
        unreachable raises (via ping) rather than defaulting to 0.

        A disabled sink never writes (the reference gate, connect.go:
        28-36 / hashes.go:12-15, makes the whole pipeline inert), so it
        must stay side-effect-free here too — no ping, no JDBC traffic.
        """
        if spark is None or not self.config.enabled:
            return 0
        if not self._pinged:
            self.ping(spark)
        self._load_ledger_state(spark)
        return self._hwm + 1

    # -- verification query surface (Q1/Q2/Q3 against the server) -------
    def read(self, spark) -> DataFrame:
        """JDBC read of the sink table — the facade's Q2 source.

        Spark pushes filters and column pruning into the JDBC scan
        (PushedFilters, asserted live in the Derby suite), but the v1
        DataFrame JDBC source does NOT push aggregates — a bare
        ``read().count()`` streams a 1-column projection of every row.
        ``count()`` below goes through the ``query`` option instead so
        the reference's Q1 really is ``SELECT COUNT(*)``
        (hashes_test.go:227-233) evaluated server-side."""
        return (
            spark.read.format("jdbc").options(**self.config.jdbc_options()).load()
        )

    def count(self, spark) -> int:
        """Q1: server-side ``SELECT COUNT(*)`` via the JDBC ``query``
        option — exactly one row crosses the wire, independent of
        table size."""
        base = {
            k: v
            for k, v in self.config.jdbc_options().items()
            if k != "dbtable"
        }
        row = (
            spark.read.format("jdbc")
            .options(
                **base,
                query=f"SELECT COUNT(*) AS n FROM {self.config.table}",
            )
            .load()
            .collect()[0]
        )
        return int(row[0])

    def delete_where(self, spark, where_sql: str) -> int:
        """Server-side ``DELETE FROM <table> WHERE ...`` — the
        reference's Q3 is a real ClickHouse lightweight delete
        (hashes_test.go:235-239), not a lake rewrite, so the JDBC sink
        issues the statement verbatim through the same raw-statement
        path as the DDL migrations. Lake-resident data keeps the
        anti-filter rewrite in ``sinks/delete.py``.

        Trusted-caller contract: ``where_sql`` (and the configured
        table name) are interpolated into the statement verbatim — the
        predicate is engine/test code, never external input. A caller
        exposing this to untrusted predicates must validate them or
        build conjunctive equality from (column, value) pairs the way
        ``engine.filtered_count`` does.

        Returns the JDBC update count. That is the exact rows-deleted
        on synchronous dialects (Derby, where the live suite pins it),
        but ClickHouse lightweight DELETE is an async mutation and
        typically reports 0 affected rows — against CH, verify via
        ``count()`` deltas (as the live tests also do), not the return
        value."""
        from clickhouse_batcher_spark.plans.migrations import (
            jdbc_statement_executor,
        )

        opts = self.config.jdbc_options()
        run = jdbc_statement_executor(
            spark,
            opts["url"],
            properties={
                k: opts[k] for k in ("user", "password") if opts.get(k)
            },
        )
        return run(f"DELETE FROM {self.config.table} WHERE {where_sql}")

    # -- sink -----------------------------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        if not self.config.enabled:
            return False  # reference gate: disabled pipeline drops rows
        spark = df.sparkSession
        if not self._pinged:
            self.ping(spark)
        if self._is_committed(spark, batch_id):
            return False
        # Empty-skip (hashes.go:79): no data, no ledger row. The
        # parquet sink counts a batch from the footers of the files it
        # wrote; these rows land in a remote table, and an in-flight
        # Observation cannot count them either — the JDBC v1 writer
        # saves through df.rdd.foreachPartition, which never fires
        # observed metrics (live-Derby suite: obs reported 0 for a
        # 5-row batch and every batch was mis-skipped). The isEmpty
        # probe (a limit-1 read) plus the save below evaluate the
        # batch DataFrame twice — a foreachBatch df re-reads its source
        # on each action, so this relies on the micro-batch being
        # deterministic within its epoch (Spark's own exactly-once
        # contract already requires that; a non-deterministic
        # transform would break replay regardless).
        if df.isEmpty():
            return False
        (
            df.write.format("jdbc")
            .options(**self.config.jdbc_options())
            .mode("append")
            .save()
        )
        # Arrow-built like the engine's batches: a list-built frame
        # would start a Python worker for this one-row write.
        ledger_row = ColumnarBatchBuilder(
            f"{self._ledger_col(spark)} BIGINT"
        ).frame(spark, [(int(batch_id),)])
        (
            ledger_row.write.format("jdbc")
            .options(
                **{**self.config.jdbc_options(), "dbtable": self.config.ledger_table}
            )
            .mode("append")
            .save()
        )
        self._recent.add(int(batch_id))
        self._hwm = max(self._hwm, int(batch_id))
        # Keep driver state O(replay_window) across the session too,
        # not just at load: ids at/below the advancing floor are
        # committed-by-horizon and never consulted again (r12 ADVICE —
        # _recent previously grew O(batches written this session)).
        floor = self._hwm - self.config.replay_window
        if any(i <= floor for i in self._recent):
            self._recent = {i for i in self._recent if i > floor}
        return True
