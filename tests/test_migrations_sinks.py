"""Migration runner and ClickHouse sink config/gate."""

from __future__ import annotations

import pytest

from clickhouse_batcher_spark.plans.migrations import (
    Migration,
    MigrationRunner,
    spark_sql_executor,
)
from clickhouse_batcher_spark.sinks.clickhouse import ClickHouseSink, ClickHouseSinkConfig
from clickhouse_batcher_spark.tables import load_table


def test_migrations_apply_in_order_and_resume(tmp_path):
    executed: list[str] = []
    migs = [
        Migration(2, "second", "SQL2"),
        Migration(1, "first", "SQL1"),
        Migration(3, "third", "SQL3"),
    ]
    state = str(tmp_path / "state.json")

    def fail_on_3(sql: str) -> None:
        if sql == "SQL3":
            raise RuntimeError("boom")
        executed.append(sql)

    runner = MigrationRunner(migs, fail_on_3, state)
    with pytest.raises(RuntimeError):
        runner.up()
    assert executed == ["SQL1", "SQL2"]  # ordered despite input order
    assert runner.applied_versions() == [1, 2]  # ledger at last success

    ok_runner = MigrationRunner(migs, executed.append, state)
    assert ok_runner.up() == [3]  # resumes at the failure point
    assert ok_runner.up() == []  # no pending = success (ErrNoNextVersion)
    assert executed == ["SQL1", "SQL2", "SQL3"]


def test_migrations_reject_duplicate_versions(tmp_path):
    with pytest.raises(ValueError):
        MigrationRunner(
            [Migration(1, "a", "X"), Migration(1, "b", "Y")],
            lambda s: None,
            str(tmp_path / "s.json"),
        )


def test_migrations_spark_executor(spark, tmp_path):
    runner = MigrationRunner(
        [
            Migration(1, "create", "CREATE OR REPLACE TEMP VIEW mig_t AS SELECT 1 AS x"),
            Migration(2, "extend", "CREATE OR REPLACE TEMP VIEW mig_t2 AS SELECT x + 1 AS y FROM mig_t"),
        ],
        spark_sql_executor(spark),
        str(tmp_path / "s.json"),
    )
    assert runner.up() == [1, 2]
    assert spark.sql("SELECT y FROM mig_t2").collect()[0][0] == 2


def test_clickhouse_sink_gate_and_options(spark, sf_dir):
    cfg = ClickHouseSinkConfig(enabled=False)
    sink = ClickHouseSink(cfg)
    df = load_table(spark, sf_dir, "events").limit(5)
    # Disabled gate drops the batch without touching JDBC (no driver jar
    # present — a connection attempt would raise).
    assert sink.write_batch(df, batch_id=0) is False

    opts = ClickHouseSinkConfig().jdbc_options()
    assert opts["batchsize"] == "10000"  # hashes.go:68
    assert opts["queryTimeout"] == "60"  # hashes_test.go:302-304
    assert opts["compress_algorithm"] == "lz4"  # hashes_test.go:306-308
    assert opts["numPartitions"] == "10"  # hashes_test.go:311-313
    assert opts["isolationLevel"] == "NONE"
    assert opts["connect_timeout"] == "5000"  # hashes_test.go:305 DialTimeout 5s
    # hashes_test.go:311-313 sets ConnMaxLifetime(time.Hour) = 3600 s
    assert opts["connection_ttl"] == "3600000"

