"""CLI: run catalog queries, ingest, and inspect the engine.

Usage::

    python -m clickhouse_batcher_spark list
    python -m clickhouse_batcher_spark query tpch_q1 --sf-dir /root/testdata/sf0.01 [--limit 20]
    python -m clickhouse_batcher_spark ingest SRC_DIR SINK_DIR [--max-files-per-trigger N]
    python -m clickhouse_batcher_spark count SINK_DIR
    python -m clickhouse_batcher_spark sql "SELECT count() FROM events" --dialect clickhouse
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="clickhouse_batcher_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list catalog queries")

    q = sub.add_parser("query", help="run a catalog query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    ing = sub.add_parser("ingest", help="micro-batch ingest parquet dir -> sink")
    ing.add_argument("src")
    ing.add_argument("sink")
    ing.add_argument("--max-files-per-trigger", type=int, default=4)
    ing.add_argument("--trigger-interval", default="1 second")

    cnt = sub.add_parser("count", help="count rows in an engine sink")
    cnt.add_argument("sink")

    ex = sub.add_parser("explain", help="print a catalog query's physical plan")
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    sq = sub.add_parser("sql", help="run SQL over the registered tables")
    sq.add_argument("query")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--dialect", choices=("spark", "clickhouse"), default="spark")
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument(
        "--sample-key",
        action="append",
        default=[],
        metavar="TABLE=COLUMN",
        help="sampling key for ClickHouse SAMPLE translation "
        "(repeatable; mirrors the table DDL's SAMPLE BY)",
    )
    sq.add_argument(
        "--final-key",
        action="append",
        default=[],
        metavar="TABLE=KEY[,KEY...]:VERSION",
        help="merge key(s) + version column for ClickHouse FINAL "
        "translation (repeatable; mirrors the ReplacingMergeTree DDL)",
    )

    args = parser.parse_args(argv)

    from clickhouse_batcher_spark import catalog, get_session

    catalog.load_all()

    if args.cmd == "list":
        for name in sorted(catalog.QUERIES):
            oracle = "oracle" if name in catalog.ORACLES else "rows-only"
            print(f"{name}  [{oracle}]")
        return 0

    spark = get_session(app_name="chb_cli")

    if args.cmd == "query":
        if args.name not in catalog.QUERIES:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        df = catalog.QUERIES[args.name](spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        print(f"({df.count()} rows total)")
        return 0

    if args.cmd == "ingest":
        import tempfile

        from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
        from clickhouse_batcher_spark.sources.readers import read_parquet
        from clickhouse_batcher_spark.streaming.batcher import (
            BatcherConfig,
            MicroBatcher,
        )

        schema = read_parquet(spark, args.src).schema
        sink = IdempotentParquetSink(args.sink)
        batcher = MicroBatcher(
            sink,
            BatcherConfig(
                trigger_interval=args.trigger_interval,
                max_files_per_trigger=args.max_files_per_trigger,
            ),
        )
        source = batcher.file_source(spark, args.src, schema)
        batcher.run_until_drained(source, tempfile.mkdtemp(prefix="chb_cli_ckpt_"))
        print(f"ingested; sink now holds {sink.count(spark)} rows "
              f"in batches {sink.committed_batches()}")
        return 0

    if args.cmd == "explain":
        if args.name not in catalog.QUERIES:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        df = catalog.QUERIES[args.name](spark, args.sf_dir)
        df.explain("formatted")
        return 0

    if args.cmd == "sql":
        from clickhouse_batcher_spark.tables import run_sql

        sample_keys = dict(kv.split("=", 1) for kv in args.sample_key)
        final_keys = {}
        for kv in args.final_key:
            tbl, spec = kv.split("=", 1)
            keys, version = spec.rsplit(":", 1)
            final_keys[tbl] = (tuple(keys.split(",")), version)
        df = run_sql(
            spark,
            args.query,
            args.sf_dir,
            dialect=args.dialect,
            sample_keys=sample_keys or None,
            final_keys=final_keys or None,
        )
        df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "count":
        from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink

        sink = IdempotentParquetSink(args.sink)
        print(sink.count(spark))
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
