"""ClickHouse-dialect SQL switching path: translation units plus
end-to-end equivalence of translated queries vs native Spark SQL.

The reference's users run ClickHouse SQL against the server it batches
into (`hashes_test.go:191-233` are literally `SELECT count() ...`
shapes); `plans.chsql.translate` + `tables.run_sql` is the path that
lets those queries run unchanged on this engine.
"""

from __future__ import annotations

import pytest

from clickhouse_batcher_spark.plans.chsql import translate
from clickhouse_batcher_spark.tables import run_sql


@pytest.mark.parametrize(
    "ch,spark_sql",
    [
        ("SELECT count() FROM events", "SELECT count(*) FROM events"),
        (
            # the reference's own Q2 shape, hashes_test.go:191-203
            "SELECT count() FROM events WHERE event_type = 'click' AND user_id = 7",
            "SELECT count(*) FROM events WHERE event_type = 'click' AND user_id = 7",
        ),
        (
            "SELECT uniq(user_id), uniqExact(user_id) FROM events",
            "SELECT approx_count_distinct(user_id), count(DISTINCT user_id) FROM events",
        ),
        (
            "SELECT argMax(event_type, ts) FROM events",
            "SELECT max_by(event_type, ts) FROM events",
        ),
        (
            "SELECT countIf(value > 10), sumIf(value, event_type = 'view') FROM events",
            "SELECT count_if(value > 10), sum(CASE WHEN event_type = 'view' THEN value END) FROM events",
        ),
        (
            "SELECT quantile(0.9)(value) FROM events",
            "SELECT percentile_approx(value, 0.9) FROM events",
        ),
        (
            "SELECT toStartOfHour(ts) AS h, count() FROM events GROUP BY h",
            "SELECT date_trunc('hour', ts) AS h, count(*) FROM events GROUP BY h",
        ),
        (
            "SELECT toUInt32(value), toDate(ts) FROM events",
            "SELECT CAST(value AS BIGINT), CAST(ts AS DATE) FROM events",
        ),
        # nested calls: inner call must survive the arg split
        (
            "SELECT sumIf(value, event_type = concat('vi', 'ew')) FROM events",
            "SELECT sum(CASE WHEN event_type = concat('vi', 'ew') THEN value END) FROM events",
        ),
        # function names inside string literals are NOT rewritten
        (
            "SELECT 'count() stays' FROM events",
            "SELECT 'count() stays' FROM events",
        ),
    ],
)
def test_translate_units(ch, spark_sql):
    assert translate(ch) == spark_sql


def test_translate_leaves_plain_spark_sql_alone():
    q = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    assert translate(q) == q


@pytest.mark.parametrize(
    "ch,native",
    [
        (
            "SELECT count() AS n FROM events WHERE event_type = 'click'",
            "SELECT count(*) AS n FROM events WHERE event_type = 'click'",
        ),
        (
            """SELECT event_type, uniqExact(user_id) AS u,
                      sumIf(value, value > 50) AS big_total,
                      argMax(user_id, ts) AS last_user
               FROM events GROUP BY event_type""",
            """SELECT event_type, count(DISTINCT user_id) AS u,
                      sum(CASE WHEN value > 50 THEN value END) AS big_total,
                      max_by(user_id, struct(ts, event_id)) AS last_user
               FROM events GROUP BY event_type""",
        ),
        (
            """SELECT toStartOfDay(ts) AS d, countIf(value >= 10) AS n10
               FROM events GROUP BY d""",
            """SELECT date_trunc('day', ts) AS d, count_if(value >= 10) AS n10
               FROM events GROUP BY d""",
        ),
    ],
)
def test_clickhouse_dialect_end_to_end(spark, sf_dir, ch, native):
    got = run_sql(spark, ch, sf_dir, dialect="clickhouse")
    want = run_sql(spark, native, sf_dir, dialect="spark")
    cols = got.columns
    if "last_user" in cols:
        # argMax(user_id, ts) with duplicate ts is tie-ambiguous in ANY
        # engine; compare on the deterministic columns only.
        got = got.drop("last_user")
        want = want.drop("last_user")
        cols = got.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_cli_sql_subcommand(sf_dir, capsys):
    from clickhouse_batcher_spark.__main__ import main

    rc = main(
        [
            "sql",
            "SELECT count() AS n FROM events",
            "--sf-dir",
            sf_dir,
            "--dialect",
            "clickhouse",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "n" in out


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT count() FROM events PREWHERE value > 5",
            "SELECT count(*) FROM events WHERE value > 5",
        ),
        (
            "SELECT count() FROM events PREWHERE value > 5 WHERE event_type = 'a' OR event_type = 'b' GROUP BY user_id",
            "SELECT count(*) FROM events WHERE (value > 5) AND (event_type = 'a' OR event_type = 'b') GROUP BY user_id",
        ),
        (
            "SELECT count() FROM events SETTINGS max_threads = 8",
            "SELECT count(*) FROM events",
        ),
        (
            "SELECT count() FROM events FORMAT JSONEachRow",
            "SELECT count(*) FROM events",
        ),
        (
            "SELECT arrayJoin(split(text, ' ')) AS tok FROM documents",
            "SELECT explode(split(text, ' ')) AS tok FROM documents",
        ),
    ],
)
def test_translate_clauses(ch, expected):
    assert translate(ch) == expected


@pytest.mark.parametrize(
    "ch",
    [
        "SELECT * FROM orders FINAL",
        # LIMIT 2, 3 BY left this list in round 13: the offset forms
        # now translate (test_limit_by_offset_forms)
        "SELECT neighbor(value, 1) FROM events",
        "SELECT * FROM events SAMPLE 0.1",
    ],
)
def test_unsupported_constructs_fail_loudly(ch):
    with pytest.raises(ValueError, match="no Spark translation"):
        translate(ch)


def test_prewhere_merge_runs_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT count() AS n FROM events PREWHERE value > 50"
        " WHERE event_type = 'view' OR event_type = 'click'",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]["n"]
    want = run_sql(
        spark,
        "SELECT count(*) AS n FROM events WHERE value > 50"
        " AND event_type IN ('view', 'click')",
        sf_dir,
    ).collect()[0]["n"]
    assert got == want


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT multiIf(value > 10, 'hi', value > 5, 'mid', 'lo') FROM events",
            "SELECT (CASE WHEN value > 10 THEN 'hi' WHEN value > 5 THEN 'mid' ELSE 'lo' END) FROM events",
        ),
        (
            "SELECT count() FROM documents WHERE match(text, '^a.*b$')",
            "SELECT count(*) FROM documents WHERE (text RLIKE '^a.*b$')",
        ),
        (
            "SELECT extract(text, '([0-9]+)') FROM documents",
            "SELECT regexp_extract(text, '([0-9]+)', 1) FROM documents",
        ),
        # standard SQL EXTRACT passes through untouched
        (
            "SELECT extract(YEAR FROM ts) FROM events",
            "SELECT extract(YEAR FROM ts) FROM events",
        ),
        (
            "SELECT toYear(ts), toHour(ts) FROM events",
            "SELECT year(ts), hour(ts) FROM events",
        ),
        (
            "SELECT ifNull(props, '{}') FROM events",
            "SELECT coalesce(props, '{}') FROM events",
        ),
    ],
)
def test_translate_scalar_functions(ch, expected):
    assert translate(ch) == expected


def test_split_by_char_quotes_metachars(spark, sf_dir):
    rows = run_sql(
        spark,
        "SELECT splitByChar('.', 'a.b.c') AS parts FROM events LIMIT 1",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    assert rows[0]["parts"] == ["a", "b", "c"]


def test_multi_if_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT event_type, countIf(multiIf(value > 50, 1, 0) = 1) AS n "
        "FROM events GROUP BY event_type",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    want = run_sql(
        spark,
        "SELECT event_type, count_if(value > 50) AS n "
        "FROM events GROUP BY event_type",
        sf_dir,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_translate_is_idempotent():
    """Translating already-translated SQL must be a no-op — the guard
    against double-application corrupting a query that mixes dialects
    (e.g. a CH query whose subquery was already Spark SQL)."""
    samples = [
        "SELECT count() FROM events PREWHERE value > 5 WHERE user_id = 3",
        "SELECT uniqExact(user_id), argMax(event_type, ts) FROM events",
        "SELECT quantile(0.9)(value), multiIf(value > 1, 'a', 'b') FROM events",
        "SELECT toStartOfHour(ts), toYear(ts) FROM events GROUP BY 1, 2",
        "SELECT splitByChar('.', text) FROM documents",
        # round-5 session-3 surface: every rewrite must reach a fixpoint
        "SELECT position(text, 'ab'), startsWith(text, 'a') FROM documents",
        "SELECT arrayMap(x -> x * 2, embedding), arrayCount(x -> x > 0, embedding) FROM embeddings",
        "SELECT quantiles(0.5, 0.9)(value), anyIf(value, user_id = 1), any(event_type) FROM events",
        "SELECT dateDiff('hour', ts, now()), addDays(ts, 1), bitAnd(user_id, 7) FROM events",
        "SELECT formatDateTime(ts, '%Y at %H'), JSONExtractInt(props, 'k') FROM events",
        "SELECT user_id FROM events ORDER BY value DESC, event_id LIMIT 2 BY user_id",
    ]
    for q in samples:
        once = translate(q)
        assert translate(once) == once


def test_with_totals_becomes_grouping_sets():
    assert translate(
        "SELECT event_type, count() FROM events GROUP BY event_type WITH TOTALS"
    ) == (
        "SELECT event_type, count(*) FROM events"
        " GROUP BY GROUPING SETS ((event_type), ())"
    )


def test_with_totals_end_to_end(spark, sf_dir):
    rows = run_sql(
        spark,
        "SELECT event_type, count() AS n FROM events GROUP BY event_type WITH TOTALS",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    per_type = {r["event_type"]: r["n"] for r in rows if r["event_type"] is not None}
    totals = [r["n"] for r in rows if r["event_type"] is None]
    assert len(totals) == 1 and totals[0] == sum(per_type.values())


def test_with_fill_fails_loudly():
    with pytest.raises(ValueError, match="no Spark translation"):
        translate("SELECT h FROM events ORDER BY h WITH FILL")


def test_limit_by_translates_to_window():
    out = translate(
        "SELECT user_id, value FROM events "
        "ORDER BY value DESC, event_id LIMIT 2 BY user_id"
    )
    assert out == (
        "SELECT * EXCEPT (__limit_by_rn) FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY value DESC, event_id) AS __limit_by_rn "
        "FROM (SELECT user_id, value FROM events) __limit_by_src"
        ") WHERE __limit_by_rn <= 2 ORDER BY value DESC, event_id"
    )


def test_limit_by_keeps_trailing_limit():
    out = translate(
        "SELECT event_type, value, event_id FROM events "
        "ORDER BY value DESC, event_id LIMIT 3 BY event_type LIMIT 8"
    )
    assert out.endswith("ORDER BY value DESC, event_id LIMIT 8")
    assert "__limit_by_rn <= 3" in out


def test_limit_by_without_order_by_fails_loudly():
    with pytest.raises(ValueError, match="nondeterministic"):
        translate("SELECT * FROM events LIMIT 3 BY user_id")


def test_limit_by_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT event_type, value, event_id FROM events "
        "ORDER BY value DESC, event_id LIMIT 3 BY event_type LIMIT 8",
        sf_dir,
        dialect="clickhouse",
    )
    want = run_sql(
        spark,
        """SELECT event_type, value, event_id FROM (
             SELECT event_type, value, event_id,
                    row_number() OVER (PARTITION BY event_type
                        ORDER BY value DESC, event_id) AS rn
             FROM events) WHERE rn <= 3
           ORDER BY value DESC, event_id LIMIT 8""",
        sf_dir,
        dialect="spark",
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_limit_by_composes_with_dialect_functions(spark, sf_dir):
    # count()/toStartOfDay inside the body still translate after the
    # LIMIT BY restructuring.
    got = run_sql(
        spark,
        "SELECT toStartOfDay(ts) AS d, event_type, count() AS n "
        "FROM events GROUP BY d, event_type "
        "ORDER BY n DESC, d, event_type LIMIT 1 BY event_type",
        sf_dir,
        dialect="clickhouse",
    )
    rows = got.collect()
    # one busiest day per event type
    assert len(rows) == len({r["event_type"] for r in rows})


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT lengthUTF8(text), position(text, 'ab') FROM documents",
            "SELECT char_length(text), locate('ab', text) FROM documents",
        ),
        (
            "SELECT startsWith(text, 'a'), endsWith(text, 'z') FROM documents",
            "SELECT startswith(text, 'a'), endswith(text, 'z') FROM documents",
        ),
        (
            "SELECT replaceAll(text, 'a', 'b') FROM documents",
            "SELECT replace(text, 'a', 'b') FROM documents",
        ),
        (
            "SELECT JSONExtractInt(props, 'k') FROM events",
            "SELECT CAST(get_json_object(props, '$.k') AS BIGINT) FROM events",
        ),
        (
            "SELECT JSONExtractString(props, 'k') FROM events",
            "SELECT get_json_object(props, '$.k') FROM events",
        ),
        (
            "SELECT toQuarter(ts), toDayOfYear(ts), toUnixTimestamp(ts) FROM events",
            "SELECT quarter(ts), dayofyear(ts), unix_timestamp(ts) FROM events",
        ),
        (
            "SELECT fromUnixTimestamp(1700000000)",
            "SELECT timestamp_seconds(1700000000)",
        ),
        (
            "SELECT intDiv(user_id, 7), modulo(user_id, 7) FROM events",
            "SELECT (CAST(user_id AS BIGINT) DIV CAST(7 AS BIGINT)), (user_id % 7) FROM events",
        ),
        (
            "SELECT isNull(props), isNotNull(props) FROM events",
            "SELECT (props IS NULL), (props IS NOT NULL) FROM events",
        ),
        (
            "SELECT arrayMap(x -> x * 2, embedding) FROM embeddings",
            "SELECT transform(embedding, x -> x * 2) FROM embeddings",
        ),
        (
            "SELECT arrayFilter(x -> x > 0, embedding), arrayCount(x -> x > 0, embedding) FROM embeddings",
            "SELECT filter(embedding, x -> x > 0), size(filter(embedding, x -> x > 0)) FROM embeddings",
        ),
        (
            "SELECT arrayElement(embedding, 1), indexOf(embedding, 0.5) FROM embeddings",
            "SELECT element_at(embedding, 1), array_position(embedding, 0.5) FROM embeddings",
        ),
        (
            "SELECT arraySort(embedding), arrayUniq(embedding) FROM embeddings",
            "SELECT sort_array(embedding), size(array_distinct(embedding)) FROM embeddings",
        ),
        (
            "SELECT arrayStringConcat(arr, '-') FROM t",
            "SELECT array_join(arr, '-') FROM t",
        ),
        (
            "SELECT leftPad(lang, 5, ' '), trimBoth(lang) FROM documents",
            "SELECT lpad(lang, 5, ' '), trim(lang) FROM documents",
        ),
        (
            "SELECT formatDateTime(ts, '%Y-%m-%d %H:%M:%S') FROM events",
            "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') FROM events",
        ),
        (
            "SELECT formatDateTime(ts, '%Y at %H') FROM events",
            "SELECT date_format(ts, 'yyyy'' at ''HH') FROM events",
        ),
    ],
)
def test_translate_scalar_functions_batch2(ch, expected):
    assert translate(ch) == expected


def test_format_datetime_unknown_code_fails_loudly():
    with pytest.raises(ValueError, match="no translation for format code"):
        translate("SELECT formatDateTime(ts, '%Q') FROM events")


def test_scalar_batch2_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT event_id, JSONExtractInt(props, 'k') AS k, "
        "formatDateTime(ts, '%Y-%m-%d') AS d, intDiv(user_id, 10) AS ub "
        "FROM events ORDER BY event_id LIMIT 20",
        sf_dir,
        dialect="clickhouse",
    )
    want = run_sql(
        spark,
        "SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k, "
        "date_format(ts, 'yyyy-MM-dd') AS d, CAST(user_id AS BIGINT) DIV CAST(10 AS BIGINT) AS ub "
        "FROM events ORDER BY event_id LIMIT 20",
        sf_dir,
        dialect="spark",
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_sample_requires_key():
    with pytest.raises(ValueError, match="sampling key"):
        translate("SELECT count() FROM events SAMPLE 0.1")


def test_sample_rowcount_form_fails_loudly():
    with pytest.raises(ValueError, match="row-count form"):
        translate(
            "SELECT count() FROM events SAMPLE 100000",
            sample_keys={"events": "user_id"},
        )


def test_sample_translates_with_key(spark, sf_dir):
    # Deterministic: same result twice; key-coordinated: every kept
    # user keeps ALL their rows; fraction lands near 25%.
    ch = "SELECT user_id, count() AS n FROM events SAMPLE 0.25 GROUP BY user_id"
    a = run_sql(
        spark, ch, sf_dir, dialect="clickhouse",
        sample_keys={"events": "user_id"},
    ).toPandas()
    b = run_sql(
        spark, ch, sf_dir, dialect="clickhouse",
        sample_keys={"events": "user_id"},
    ).toPandas()
    assert sorted(a["user_id"]) == sorted(b["user_id"])
    full = run_sql(
        spark,
        "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
        sf_dir,
    ).toPandas()
    frac = len(a) / len(full)
    assert 0.10 < frac < 0.45, frac
    merged = a.merge(full, on="user_id", suffixes=("", "_full"))
    assert (merged["n"] == merged["n_full"]).all()


def test_final_requires_keys():
    with pytest.raises(ValueError, match="no Spark translation without"):
        translate("SELECT * FROM orders FINAL")


def test_final_translates_to_latest_row_window():
    out = translate(
        "SELECT count() FROM orders FINAL",
        final_keys={"orders": (("o_orderkey",), "o_version")},
    )
    assert out == (
        "SELECT count(*) FROM (SELECT * EXCEPT (__final_rn) FROM ("
        "SELECT *, row_number() OVER (PARTITION BY o_orderkey "
        "ORDER BY o_version DESC) AS __final_rn FROM orders"
        ") WHERE __final_rn = 1) orders"
    )


def test_final_end_to_end(spark, sf_dir):
    # Use orders with a synthetic version: two 'versions' of each order
    # via UNION; FINAL must collapse back to one row per key keeping
    # the higher version.
    from clickhouse_batcher_spark.tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """SELECT o_orderkey, o_totalprice, 1 AS v FROM orders
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 2 AS v
           FROM orders WHERE o_orderkey % 3 = 0"""
    ).createOrReplaceTempView("orders_versions")
    got = run_sql(
        spark,
        "SELECT count() AS n, countIf(v = 2) AS n_v2 FROM orders_versions FINAL",
        sf_dir,
        dialect="clickhouse",
        final_keys={"orders_versions": (("o_orderkey",), "v")},
    ).collect()[0]
    base = spark.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]
    upd = spark.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 = 0"
    ).collect()[0]["n"]
    assert got["n"] == base          # one row per key
    assert got["n_v2"] == upd        # updated keys surface version 2


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT quantiles(0.5, 0.9, 0.99)(value) FROM events",
            "SELECT percentile_approx(value, array(0.5, 0.9, 0.99)) FROM events",
        ),
        (
            "SELECT quantilesExact(0.25, 0.75)(value) FROM events",
            "SELECT percentile(value, array(0.25, 0.75)) FROM events",
        ),
        (
            "SELECT any(event_type), anyLast(event_type) FROM events",
            "SELECT any_value(event_type), any_value(event_type) FROM events",
        ),
        (
            "SELECT anyIf(value, event_type = 'click') FROM events",
            "SELECT any_value(CASE WHEN event_type = 'click' THEN value END, true) FROM events",
        ),
        (
            "SELECT uniqExactIf(user_id, value > 5) FROM events",
            "SELECT count(DISTINCT CASE WHEN value > 5 THEN user_id END) FROM events",
        ),
        (
            "SELECT avgWeighted(value, user_id) FROM events",
            "SELECT (sum((value) * (user_id)) / sum(user_id)) FROM events",
        ),
        (
            "SELECT countEqual(embedding, 0.5) FROM embeddings",
            "SELECT size(filter(embedding, __ce -> __ce = 0.5)) FROM embeddings",
        ),
    ],
)
def test_translate_aggregate_batch3(ch, expected):
    assert translate(ch) == expected


def test_aggregate_batch3_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT quantilesExact(0.25, 0.75)(value) AS q,"
        " uniqExactIf(user_id, value > 50) AS u,"
        " avgWeighted(value, user_id) AS aw FROM events",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    want = run_sql(
        spark,
        "SELECT percentile(value, array(0.25, 0.75)) AS q,"
        " count(DISTINCT CASE WHEN value > 50 THEN user_id END) AS u,"
        " sum(value * user_id) / sum(user_id) AS aw FROM events",
        sf_dir,
    ).collect()[0]
    assert got["q"] == want["q"] and got["u"] == want["u"]
    assert abs(got["aw"] - want["aw"]) < 1e-9


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT dateDiff('hour', a, b)",
            "SELECT ((unix_timestamp(date_trunc('hour', b)) - unix_timestamp(date_trunc('hour', a))) DIV 3600)",
        ),
        (
            "SELECT dateDiff('month', a, b)",
            "SELECT ((year(b) * 12 + month(b)) - (year(a) * 12 + month(a)))",
        ),
        (
            "SELECT toStartOfInterval(ts, INTERVAL 15 MINUTE) FROM events",
            "SELECT timestamp_seconds((unix_timestamp(ts) DIV 900) * 900) FROM events",
        ),
        (
            "SELECT addDays(ts, 3), subtractHours(ts, 2) FROM events",
            "SELECT timestampadd(DAY, 3, ts), timestampadd(HOUR, -(2), ts) FROM events",
        ),
        (
            "SELECT bitAnd(user_id, 255), bitShiftRight(user_id, 4), bitNot(user_id) FROM events",
            # shifts are FUNCTIONS, not >>/<<: Spark's parser rejects
            # a `>>` appearing after any lambda arrow in the statement
            "SELECT ((user_id) & (255)), shiftright(user_id, 4), (~(user_id)) FROM events",
        ),
        (
            "SELECT countSubstrings(text, 'ab') FROM documents",
            # byte lengths since the r13 length -> octet_length fix;
            # the removed-occurrences ratio is unit-consistent either
            # way, so the count is unchanged
            "SELECT ((octet_length(text) - octet_length(replace(text, 'ab', ''))) DIV octet_length('ab')) FROM documents",
        ),
        (
            "SELECT trimLeft(lang), trimRight(lang), yesterday()",
            "SELECT ltrim(lang), rtrim(lang), (current_date() - 1)",
        ),
    ],
)
def test_translate_datetime_bit_batch(ch, expected):
    assert translate(ch) == expected


def test_date_diff_unknown_unit_fails_loudly():
    with pytest.raises(ValueError, match="no translation for unit"):
        translate("SELECT dateDiff('fortnight', a, b)")


def test_datetime_batch_end_to_end(spark, sf_dir):
    # boundary-crossing semantics: 23:59 -> next day 00:01 is 1 'day'
    got = run_sql(
        spark,
        "SELECT dateDiff('day', toDateTime('2024-03-01 23:59:00'),"
        " toDateTime('2024-03-02 00:01:00')) AS d,"
        " toStartOfInterval(toDateTime('2024-03-01 10:47:00'),"
        " INTERVAL 15 MINUTE) AS b,"
        " addDays(toDateTime('2024-02-28 12:00:00'), 2) AS leap",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["d"] == 1
    assert str(got["b"]) == "2024-03-01 10:45:00"
    assert str(got["leap"]).startswith("2024-03-01 12:00:00")


def test_global_in_and_join_strip(spark, sf_dir):
    assert translate(
        "SELECT count() FROM events WHERE user_id GLOBAL IN "
        "(SELECT user_id FROM events)"
    ) == (
        "SELECT count(*) FROM events WHERE user_id IN "
        "(SELECT user_id FROM events)"
    )
    assert translate(
        "SELECT count() FROM events GLOBAL JOIN customer ON user_id = c_custkey"
    ) == (
        "SELECT count(*) FROM events JOIN customer ON user_id = c_custkey"
    )
    got = run_sql(
        spark,
        "SELECT count() AS n FROM orders WHERE o_custkey GLOBAL IN "
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]["n"]
    want = run_sql(
        spark,
        "SELECT count(*) AS n FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
        sf_dir,
    ).collect()[0]["n"]
    assert got == want and got > 0


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT arrayReduce('max', embedding) FROM embeddings",
            "SELECT array_max(embedding) FROM embeddings",
        ),
        (
            "SELECT arrayReduce('sum', embedding) FROM embeddings",
            "SELECT aggregate(embedding, CAST(0 AS DOUBLE), (__ar_s, __ar_x) -> __ar_s + __ar_x) FROM embeddings",
        ),
        (
            "SELECT arrayReduce('count', embedding) FROM embeddings",
            "SELECT size(embedding) FROM embeddings",
        ),
    ],
)
def test_translate_array_reduce(ch, expected):
    assert translate(ch) == expected


def test_array_reduce_unknown_agg_fails_loudly():
    with pytest.raises(ValueError, match="no translation for aggregate"):
        translate("SELECT arrayReduce('median', embedding) FROM embeddings")


def test_cli_sql_final_and_sample_keys(sf_dir, capsys):
    from clickhouse_batcher_spark.__main__ import main

    rc = main(
        [
            "sql",
            "SELECT count() AS n FROM orders FINAL",
            "--sf-dir",
            sf_dir,
            "--dialect",
            "clickhouse",
            "--final-key",
            "orders=o_orderkey:o_orderdate",
        ]
    )
    assert rc == 0
    assert "n" in capsys.readouterr().out
    rc = main(
        [
            "sql",
            "SELECT count() AS n FROM events SAMPLE 0.5",
            "--sf-dir",
            sf_dir,
            "--dialect",
            "clickhouse",
            "--sample-key",
            "events=user_id",
        ]
    )
    assert rc == 0
    assert "n" in capsys.readouterr().out


def test_limit_with_ties_translates_to_rank():
    out = translate(
        "SELECT event_type, value FROM events "
        "ORDER BY value DESC LIMIT 3 WITH TIES"
    )
    assert out == (
        "SELECT * EXCEPT (__ties_rank) FROM ("
        "SELECT *, rank() OVER (ORDER BY value DESC) AS __ties_rank"
        " FROM (SELECT event_type, value FROM events) __ties_src"
        ") WHERE __ties_rank <= 3 ORDER BY value DESC"
    )


def test_limit_with_ties_requires_order_by():
    with pytest.raises(ValueError, match="WITH TIES requires"):
        translate("SELECT * FROM events LIMIT 3 WITH TIES")


def test_limit_with_ties_end_to_end(spark, sf_dir):
    # Tie-heavy column: floor(value) has duplicates; the cut must
    # include every row tied with the 5th.
    got = run_sql(
        spark,
        "SELECT floor(value) AS fv, event_id FROM events "
        "ORDER BY fv DESC LIMIT 5 WITH TIES",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    want = run_sql(
        spark,
        """SELECT fv, event_id FROM (
             SELECT fv, event_id, rank() OVER (ORDER BY fv DESC) AS r
             FROM (SELECT floor(value) AS fv, event_id FROM events))
           WHERE r <= 5 ORDER BY fv DESC""",
        sf_dir,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) >= 5


def test_positional_params_reference_shape(spark, sf_dir):
    """The reference's exact parameterized-count shape
    (hashes_test.go:191-196) with ?-placeholders, bound engine-side."""
    got = run_sql(
        spark,
        "SELECT count() AS n FROM events "
        "WHERE user_id = ? AND event_type = ?",
        sf_dir,
        dialect="clickhouse",
        params=[7, "click"],
    ).collect()[0]["n"]
    want = run_sql(
        spark,
        "SELECT count(*) AS n FROM events "
        "WHERE user_id = 7 AND event_type = 'click'",
        sf_dir,
    ).collect()[0]["n"]
    assert got == want


def test_clickhouse_named_params(spark, sf_dir):
    assert translate(
        "SELECT count() FROM events WHERE user_id = {uid:UInt64}"
        " AND event_type = {et:String}"
    ) == (
        "SELECT count(*) FROM events WHERE user_id = :uid"
        " AND event_type = :et"
    )
    got = run_sql(
        spark,
        "SELECT count() AS n FROM events WHERE user_id = {uid:UInt64}"
        " AND event_type = {et:String}",
        sf_dir,
        dialect="clickhouse",
        params={"uid": 7, "et": "click"},
    ).collect()[0]["n"]
    want = run_sql(
        spark,
        "SELECT count(*) AS n FROM events WHERE user_id = 7"
        " AND event_type = 'click'",
        sf_dir,
    ).collect()[0]["n"]
    assert got == want


def test_param_braces_inside_strings_untouched():
    q = "SELECT '{not:AParam}' FROM events"
    assert translate(q) == q


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT doc_id, tok FROM documents "
            "ARRAY JOIN splitByChar(' ', text) AS tok",
            "SELECT doc_id, tok FROM documents LATERAL VIEW "
            "explode(split(text, concat('\\\\Q', ' ', '\\\\E'))) __aj AS tok",
        ),
        (
            "SELECT vec_id, e FROM embeddings "
            "LEFT ARRAY JOIN embedding AS e WHERE e > 0",
            "SELECT vec_id, e FROM embeddings LATERAL VIEW OUTER "
            "explode(embedding) __aj AS e WHERE e > 0",
        ),
    ],
)
def test_array_join_clause(ch, expected):
    assert translate(ch) == expected


def test_two_array_join_zips():
    out = translate(
        "SELECT doc_id, x, y FROM t ARRAY JOIN a AS x, b AS y"
    )
    assert out == (
        "SELECT doc_id, __zip.x, __zip.y FROM t LATERAL VIEW "
        "explode(zip_with(a, b, (__zl, __zr) -> "
        "named_struct('x', __zl, 'y', __zr))) __aj AS __zip"
    )


def test_three_array_join_fails_loudly():
    with pytest.raises(ValueError, match="3\\+ parallel"):
        translate("SELECT x FROM t ARRAY JOIN a AS x, b AS y, c AS z")


def test_two_array_join_end_to_end(spark, sf_dir):
    # zip semantics: element i of the first array pairs with element i
    # of the second — verify via index/value parity on embeddings.
    got = run_sql(
        spark,
        "SELECT vec_id, idx, e FROM ("
        "  SELECT vec_id, embedding,"
        "         arrayMap(x -> 1, embedding) AS ones FROM embeddings"
        ") ARRAY JOIN embedding AS e, ones AS idx "
        "WHERE vec_id = 1",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    want = run_sql(
        spark,
        "SELECT vec_id, 1 AS idx, e FROM embeddings "
        "LATERAL VIEW explode(embedding) t AS e WHERE vec_id = 1",
        sf_dir,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 64


def test_unaliased_array_join_fails_loudly():
    with pytest.raises(ValueError, match="aliased form"):
        translate("SELECT x FROM t ARRAY JOIN arr")


def test_array_join_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT doc_id, count() AS n_toks FROM documents "
        "ARRAY JOIN splitByChar(' ', text) AS tok "
        "GROUP BY doc_id ORDER BY doc_id",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    want = run_sql(
        spark,
        "SELECT doc_id, size(split(text, ' ')) AS n_toks "
        "FROM documents ORDER BY doc_id",
        sf_dir,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_translate_moment_aggregates():
    assert translate(
        "SELECT stddevPop(value), varSamp(value), covarPop(value, user_id),"
        " medianExact(value) FROM events"
    ) == (
        "SELECT stddev_pop(value), var_samp(value),"
        " covar_pop(value, user_id), percentile(value, 0.5) FROM events"
    )


def test_translate_array_combinators(spark, sf_dir):
    assert translate("SELECT minArray(embedding), countArray(embedding) FROM embeddings") == (
        "SELECT min(array_min(embedding)), sum(size(embedding)) FROM embeddings"
    )
    got = run_sql(
        spark,
        "SELECT sumArray(embedding) AS s, avgArray(embedding) AS a,"
        " maxArray(embedding) AS mx FROM embeddings",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    want = run_sql(
        spark,
        "SELECT sum(aggregate(embedding, CAST(0 AS DOUBLE),"
        " (s, x) -> s + x)) AS s,"
        " sum(aggregate(embedding, CAST(0 AS DOUBLE), (s, x) -> s + x))"
        " / sum(size(embedding)) AS a,"
        " max(array_max(embedding)) AS mx FROM embeddings",
        sf_dir,
    ).collect()[0]
    assert got == want


@pytest.mark.parametrize(
    "ch,hint",
    [
        ("ALTER TABLE orders UPDATE o_totalprice = 0 WHERE o_orderkey = 1",
         "merge_upsert"),
        ("ALTER TABLE orders DELETE WHERE o_orderkey = 1", "sinks.delete"),
        # The id names the operation (compact the Parquet output); it stays
        # the same whichever method the hint names.
        pytest.param("OPTIMIZE TABLE orders FINAL",
                     "IdempotentParquetSink.compact",
                     id="OPTIMIZE TABLE orders FINAL-compact_parquet"),
        ("CREATE TABLE t (x UInt64) ENGINE = ReplacingMergeTree ORDER BY x",
         "plans.migrations"),
    ],
)
def test_ddl_dml_point_at_write_path_modules(ch, hint):
    with pytest.raises(ValueError, match=hint):
        translate(ch)


@pytest.mark.parametrize(
    "ch,hint",
    [
        ("CREATE MATERIALIZED VIEW mv AS SELECT count() FROM events",
         "incremental_rollup"),
        ("INSERT INTO events SELECT * FROM events", "batch-ledgered"),
        ("SELECT dictGetString('d', 'name', user_id) FROM events",
         "broadcast dimension join"),
    ],
)
def test_server_side_constructs_hint_engine_modules(ch, hint):
    with pytest.raises(ValueError, match=hint):
        translate(ch)


def test_array_scan_functions_end_to_end(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT arrayCumSum(array(1.0, 2.0, 3.0)) AS cs,"
        " arrayDifference(array(5.0, 9.0, 4.0)) AS dif,"
        " arrayEnumerate(array('a', 'b', 'c')) AS en,"
        " hasAll(array(1, 2, 3), array(2, 3)) AS ha,"
        " hasAny(array(1, 2), array(9, 2)) AS hy,"
        " arrayFlatten(array(array(1), array(2, 3))) AS fl",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["cs"] == [1.0, 3.0, 6.0]
    assert got["dif"] == [0.0, 4.0, -5.0]
    assert got["en"] == [1, 2, 3]
    assert got["ha"] is True and got["hy"] is True
    assert got["fl"] == [1, 2, 3]


def test_fixed_interval_truncations(spark, sf_dir):
    assert translate("SELECT toStartOfFifteenMinutes(ts) FROM events") == (
        "SELECT timestamp_seconds((unix_timestamp(ts) DIV 900) * 900)"
        " FROM events"
    )
    got = run_sql(
        spark,
        "SELECT toStartOfFiveMinutes(toDateTime('2024-03-01 10:47:21')) AS b",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert str(got["b"]) == "2024-03-01 10:45:00"


def test_split_by_string_and_friends(spark, sf_dir):
    assert translate("SELECT reverseUTF8(lang), concatAssumeInjective(lang, source) FROM documents") == (
        "SELECT reverse(lang), concat(lang, source) FROM documents"
    )
    got = run_sql(
        spark,
        "SELECT splitByString('--', 'a--b--c') AS parts",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["parts"] == ["a", "b", "c"]


def test_group_array_sorted_and_sum_count(spark, sf_dir):
    assert translate("SELECT groupArraySorted(3)(value) FROM events") == (
        "SELECT slice(sort_array(collect_list(value)), 1, 3) FROM events"
    )
    got = run_sql(
        spark,
        "SELECT event_type, groupArraySorted(2)(value) AS lo2,"
        " sumCount(value) AS sc FROM events GROUP BY event_type",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    want = run_sql(
        spark,
        "SELECT event_type, slice(sort_array(collect_list(value)), 1, 2)"
        " AS lo2, named_struct('sum', sum(value), 'count', count(value))"
        " AS sc FROM events GROUP BY event_type",
        sf_dir,
    ).collect()
    assert sorted(map(str, got)) == sorted(map(str, want))


def test_search_and_trycast_batch(spark, sf_dir):
    assert translate(
        "SELECT extractAll(text, '([0-9]+)'), toInt64OrNull(lang) FROM documents"
    ) == (
        "SELECT regexp_extract_all(text, '([0-9]+)', 1),"
        " try_cast(lang AS BIGINT) FROM documents"
    )
    got = run_sql(
        spark,
        "SELECT countIf(multiSearchAny(text, ['spark', 'scan'])) AS n,"
        " toInt64OrZero('12x') AS z, toFloat64OrNull('3.5') AS f"
        " FROM documents",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    want = run_sql(
        spark,
        "SELECT count_if(text LIKE '%spark%' OR text LIKE '%scan%') AS n"
        " FROM documents",
        sf_dir,
    ).collect()[0]["n"]
    assert got["n"] == want and got["n"] > 0
    assert got["z"] == 0 and got["f"] == 3.5


def test_to_decimal64(spark, sf_dir):
    assert translate("SELECT toDecimal64(value, 4) FROM events") == (
        "SELECT CAST(value AS DECIMAL(18, 4)) FROM events"
    )
    got = run_sql(
        spark,
        "SELECT toDecimal64('12.34567', 2) AS d",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]["d"]
    assert str(got) == "12.35"


def test_global_keyword_in_string_literal_preserved():
    # ADVICE r5: the GLOBAL strip used a bare re.sub, corrupting
    # string literals ('prefer GLOBAL IN here' -> 'prefer IN here').
    out = translate("SELECT 'prefer GLOBAL IN here' FROM events")
    assert "'prefer GLOBAL IN here'" in out
    # ... while a real GLOBAL IN outside a literal is still stripped
    out2 = translate(
        "SELECT 'keep GLOBAL IN', count() FROM events "
        "WHERE user_id GLOBAL IN (SELECT user_id FROM events)"
    )
    assert "'keep GLOBAL IN'" in out2
    assert "WHERE user_id IN" in out2


def test_settings_format_inside_string_preserved():
    out = translate("SELECT 'tune SETTINGS max_threads' FROM events")
    assert "SETTINGS max_threads'" in out
    out2 = translate("SELECT 'as FORMAT JSON' FROM events")
    assert "FORMAT JSON'" in out2


def test_array_enumerate_empty_array(spark, sf_dir):
    # ADVICE r5: sequence(1, size(x)) yields [1, 0] for an empty
    # array (Spark's sequence steps -1 when start > stop); ClickHouse
    # yields []. The transform((x, i) -> i + 1) form is empty-safe.
    got = run_sql(
        spark,
        "SELECT arrayEnumerate(array()) AS e0, "
        "arrayEnumerate(array(10, 20, 30)) AS e3",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert list(got["e0"]) == []
    assert list(got["e3"]) == [1, 2, 3]


def test_sample_final_aliased_table_resolves_underlying_name(spark, sf_dir):
    # ADVICE r5: 'FROM events AS e SAMPLE 0.1' resolved the alias,
    # and the suggested sample_keys={'e': ...} then generated SQL
    # reading from the non-existent table 'e'. The lookup now keys on
    # the underlying table; the alias survives as the reference name.
    out = translate(
        "SELECT e.user_id FROM events AS e SAMPLE 0.5",
        sample_keys={"events": "user_id"},
    )
    assert "FROM events WHERE" in out and ") e" in out
    n = run_sql(
        spark,
        "SELECT count() AS n FROM events e SAMPLE 0.5",
        sf_dir,
        dialect="clickhouse",
        sample_keys={"events": "user_id"},
    ).collect()[0]["n"]
    total = run_sql(
        spark, "SELECT count(*) AS n FROM events", sf_dir
    ).collect()[0]["n"]
    assert 0 < n < total
    out_final = translate(
        "SELECT count() FROM orders o FINAL",
        final_keys={"orders": (("o_orderkey",), "o_version")},
    )
    assert "FROM orders" in out_final and ") o" in out_final


def test_array_mutators_and_range(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT arrayCompact(array(1, 1, 2, 2, 1)) AS ac, "
        "arrayPushBack(array(1, 2), 9) AS pb, "
        "arrayPushFront(array(1, 2), 9) AS pf, "
        "arrayPopBack(array(1, 2, 3)) AS ob, "
        "arrayPopFront(array(1, 2, 3)) AS of, "
        "arrayPopBack(array()) AS obe, "
        "range(4) AS r4, range(0) AS r0, range(2, 5) AS r25",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert list(got["ac"]) == [1, 2, 1]
    assert list(got["pb"]) == [1, 2, 9]
    assert list(got["pf"]) == [9, 1, 2]
    assert list(got["ob"]) == [1, 2]
    assert list(got["of"]) == [2, 3]
    assert list(got["obe"]) == []
    assert list(got["r4"]) == [0, 1, 2, 3]
    assert list(got["r0"]) == []
    assert list(got["r25"]) == [2, 3, 4]


def test_group_array_forms(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT user_id, groupArray(event_type) AS ga, "
        "groupArray(2)(event_type) AS ga2, "
        "groupUniqArray(event_type) AS gu "
        "FROM events WHERE user_id = 1 GROUP BY user_id",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert len(got["ga2"]) <= 2
    assert set(got["ga2"]) <= set(got["ga"])
    assert sorted(set(got["ga"])) == sorted(got["gu"])


def test_round_bankers_monday_timeslot(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT roundBankers(2.5) AS rb1, roundBankers(3.5) AS rb2, "
        "roundBankers(2.345, 2) AS rb3, "
        "toMonday(toDateTime('2024-03-07 15:00:00')) AS mon, "
        "timeSlot(toDateTime('2024-03-07 15:44:59')) AS slot",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["rb1"] == 2.0 and got["rb2"] == 4.0  # half-even
    assert float(got["rb3"]) == 2.34
    assert str(got["mon"]) == "2024-03-04"  # Thursday -> that Monday
    assert str(got["slot"]) == "2024-03-07 15:30:00"


def test_age_vs_datediff_semantics(spark, sf_dir):
    # age counts COMPLETE units elapsed; dateDiff counts boundaries
    # crossed: 23:30 -> 00:30 next day is 1 boundary but 0 full days.
    got = run_sql(
        spark,
        "SELECT age('day', toDateTime('2024-03-01 23:30:00'), "
        "toDateTime('2024-03-02 00:30:00')) AS a, "
        "dateDiff('day', toDateTime('2024-03-01 23:30:00'), "
        "toDateTime('2024-03-02 00:30:00')) AS d, "
        "age('hour', toDateTime('2024-03-01 10:00:00'), "
        "toDateTime('2024-03-01 13:59:00')) AS h, "
        "age('month', toDateTime('2024-01-15 00:00:00'), "
        "toDateTime('2024-03-14 00:00:00')) AS m, "
        "age('year', toDateTime('2020-06-01 00:00:00'), "
        "toDateTime('2024-05-30 00:00:00')) AS y",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a"] == 0 and got["d"] == 1
    assert got["h"] == 3
    assert got["m"] == 1  # Jan 15 -> Mar 14 is one complete month
    assert got["y"] == 3


def test_string_search_and_replace_fns(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT positionCaseInsensitive('Hello World', 'WORLD') AS p, "
        "replaceRegexpAll('a1b2c3', '[0-9]', '_') AS rr, "
        "replaceAll('a.b.c', '.', '-') AS ra",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["p"] == 7
    assert got["rr"] == "a_b_c_"
    assert got["ra"] == "a-b-c"


def test_topk_is_a_loud_error():
    with pytest.raises(ValueError, match="topk_heavy_hitters"):
        translate("SELECT topK(5)(event_type) FROM events")


def test_url_function_family(spark, sf_dir):
    url = "'https://paul@www.example.com:8080/a/b?page=1&x=2#frag'"
    got = run_sql(
        spark,
        f"SELECT protocol({url}) AS proto, domain({url}) AS dom, "
        f"domainWithoutWWW({url}) AS dww, topLevelDomain({url}) AS tld, "
        f"path({url}) AS p, pathFull({url}) AS pf, "
        f"queryString({url}) AS qs, fragment({url}) AS fr, "
        f"queryStringAndFragment({url}) AS qsf, "
        f"extractURLParameter({url}, 'page') AS pg, "
        f"extractURLParameter({url}, 'nope') AS miss, "
        f"cutQueryString({url}) AS cq, cutFragment({url}) AS cf, "
        f"cutQueryStringAndFragment({url}) AS cqf, "
        f"netloc({url}) AS nl, port({url}) AS po, "
        f"port('http://x.com/a', 80) AS podef, "
        f"domain('example.com:9000/path') AS bare, "
        f"domain('//cdn.example.org/lib.js') AS protorel",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["proto"] == "https"
    assert got["dom"] == "www.example.com"
    assert got["dww"] == "example.com"
    assert got["tld"] == "com"
    assert got["p"] == "/a/b"
    assert got["pf"] == "/a/b?page=1&x=2#frag"
    assert got["qs"] == "page=1&x=2"
    assert got["fr"] == "frag"
    assert got["qsf"] == "page=1&x=2#frag"
    assert got["pg"] == "1" and got["miss"] == ""
    assert got["cq"] == "https://paul@www.example.com:8080/a/b#frag"
    assert got["cf"] == "https://paul@www.example.com:8080/a/b?page=1&x=2"
    assert got["cqf"] == "https://paul@www.example.com:8080/a/b"
    assert got["nl"] == "paul@www.example.com:8080"
    assert got["po"] == 8080 and got["podef"] == 80
    assert got["bare"] == "example.com"
    assert got["protorel"] == "cdn.example.org"


def test_ipv4_function_family(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT IPv4NumToString(3232235777) AS s, "
        "IPv4StringToNum('192.168.1.1') AS n, "
        "toIPv4('10.0.0.1') AS t, "
        "isIPv4String('10.0.0.1') AS ok, "
        "isIPv4String('256.1.1.1') AS bad_octet, "
        "isIPv4String('1.2.3') AS short, "
        "IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16) AS r",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["s"] == "192.168.1.1"
    assert got["n"] == 3232235777
    assert got["t"] == 167772161
    assert got["ok"] is True
    assert got["bad_octet"] is False and got["short"] is False
    assert got["r"]["lower"] == 3232235520  # 192.168.0.0
    assert got["r"]["upper"] == got["r"]["lower"] + 65535


def test_first_significant_subdomain_is_loud():
    import pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    with pytest.raises(ValueError, match="public-suffix"):
        translate("SELECT firstSignificantSubdomain('https://a.b.com/x')")


def test_block_order_functions_are_loud():
    import pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    for sql, hint in [
        ("SELECT groupArrayMovingSum(3)(value) FROM events", "OVER"),
        ("SELECT groupArrayMovingAvg(value) FROM events", "OVER"),
        ("SELECT neighbor(value, -1) FROM events", "lag"),
        ("SELECT runningAccumulate(st) FROM events", "window"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(sql)


def test_array_fold_and_map_batch(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT arraySum(array(1, 2, 3)) AS s, "
        "arrayAvg(array(2.0, 4.0)) AS av, "
        "arrayProduct(array(2, 3, 4)) AS pr, "
        "arrayMin(array(3, 1, 2)) AS mn, arrayMax(array(3, 1, 2)) AS mx, "
        "arrayConcat(array(1), array(2), array(3)) AS cc, "
        "arrayIntersect(array(1, 2, 3), array(2, 3, 4), array(3)) AS ai, "
        "arrayFirst(x -> x > 1, array(1, 2, 3)) AS fi, "
        "arrayLast(x -> x > 1, array(1, 2, 3)) AS la, "
        "arrayFirstIndex(x -> x > 1, array(1, 2, 3)) AS fidx, "
        "arrayFirstIndex(x -> x > 9, array(1)) AS fnone, "
        "mapKeys(map('a', 1)) AS mk, mapValues(map('a', 1)) AS mv",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["s"] == 6.0 and got["av"] == 3.0 and got["pr"] == 24.0
    assert got["mn"] == 1 and got["mx"] == 3
    assert got["cc"] == [1, 2, 3]
    assert got["ai"] == [3]
    assert got["fi"] == 2 and got["la"] == 3
    assert got["fidx"] == 2 and got["fnone"] == 0
    assert got["mk"] == ["a"] and got["mv"] == [1]


def test_numbers_table_function(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT count() AS n, sum(number) AS s FROM numbers(10)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["n"] == 10 and got["s"] == 45
    got2 = run_sql(
        spark,
        "SELECT sum(number) AS s FROM numbers(5, 3) nn",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got2["s"] == 18  # 5 + 6 + 7


def test_external_table_functions_are_loud():
    import pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    for sql, hint in [
        ("SELECT * FROM remote('host', db.t)", "spark.read"),
        ("SELECT * FROM cluster('c', db.t)", "spark.read"),
        ("SELECT * FROM s3('http://b/x.parquet')", "spark.read"),
        ("SELECT * FROM url('http://x/y.csv', CSV)", "spark.read"),
        ("SELECT * FROM file('data.parquet')", "spark.read"),
        ("SELECT * FROM generateRandom('a Int64')", "seeded hash"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(sql)


def test_query_string_and_fragment_edge_cases(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT queryStringAndFragment('http://x.com/a#frag') AS fr_only, "
        "queryStringAndFragment('http://x.com/a?p=1') AS q_only, "
        "queryStringAndFragment('http://x.com/a') AS neither",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["fr_only"] == "#frag"
    assert got["q_only"] == "p=1"
    assert got["neither"] == ""


def test_array_fold_lambda_form_translates():
    """Single-array lambda forms left the loud list in round 13
    (test_array_fold_lambda_forms has the executed values); only the
    multi-array spelling stays loud."""
    import pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    t = translate("SELECT arraySum(x -> x * 2, array(1, 2)) FROM t")
    assert "transform(array(1, 2), x -> x * 2)" in t
    with pytest.raises(ValueError, match="multiple arrays"):
        translate("SELECT arrayMin((x, y) -> x + y, xs, ys) FROM t")


def test_array_reduce(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT arrayReduce('max', array(1, 5, 3)) AS mx, "
        "arrayReduce('sum', array(1, 2, 3)) AS s, "
        "arrayReduce('avg', array(2, 4)) AS av, "
        "arrayReduce('count', array(7, 8)) AS c, "
        "arrayReduce('uniqExact', array(1, 1, 2)) AS u, "
        "arrayReduce('any', array(9, 8)) AS a",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["mx"] == 5 and got["s"] == 6.0 and got["av"] == 3.0
    assert got["c"] == 3 - 1 and got["u"] == 2 and got["a"] == 9


def test_array_reduce_unknown_agg_is_loud():
    import pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    with pytest.raises(ValueError, match="no translation"):
        translate("SELECT arrayReduce('quantileTiming', xs) FROM t")


# ---------------------------------------------------------------------------
# round-7 advice fixes: stepped range, anchored URL query extraction,
# space-padded comma table lists, NULL-skipping arrayReduce uniq
# ---------------------------------------------------------------------------
def test_range_three_arg_step(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT range(0, 10, 2) AS a, range(10, 0, -3) AS b, "
        "range(0, 10) AS c, range(3) AS d, range(5, 5, 2) AS e",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a"] == [0, 2, 4, 6, 8]
    assert got["b"] == [10, 7, 4, 1]
    assert got["c"] == list(range(10))
    assert got["d"] == [0, 1, 2]
    assert got["e"] == []


def test_querystring_anchored_before_fragment(spark, sf_dir):
    # a '?' INSIDE the fragment is fragment text, not a query string
    got = run_sql(
        spark,
        "SELECT queryString('http://x.com/a#f?x') AS qs_frag, "
        "queryString('http://x.com/a?q=1#f') AS qs_real, "
        "queryStringAndFragment('http://x.com/a#f?x') AS qsf_frag, "
        "queryStringAndFragment('http://x.com/a?q=1#f') AS qsf_real",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["qs_frag"] == ""
    assert got["qs_real"] == "q=1"
    assert got["qsf_frag"] == "#f?x"
    assert got["qsf_real"] == "q=1#f"


def test_sample_final_space_padded_comma_list():
    # 'FROM a , b SAMPLE 0.5' must still hit the explanatory error
    # (the old \b(FROM|JOIN|,) could not match ',' after whitespace and
    # the construct leaked through to an opaque Spark parse error)
    with pytest.raises(ValueError, match="sampling key"):
        translate("SELECT count() FROM orders , events SAMPLE 0.5")
    with pytest.raises(ValueError, match="ORDER BY key"):
        translate("SELECT count() FROM orders , events FINAL")


def test_querystring_anchors_at_first_question_mark(spark, sf_dir):
    # A literal '?' inside a query VALUE is query-string text: CH takes
    # everything after the FIRST '?'. Greedy '^[^#]*' backtracked to
    # the LAST '?' and truncated ('q=1?x=2' came back as 'x=2').
    got = run_sql(
        spark,
        "SELECT queryString('http://x.com/a?q=1?x=2') AS qs, "
        "queryStringAndFragment('http://x.com/a?q=1?x=2#f') AS qsf",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["qs"] == "q=1?x=2"
    assert got["qsf"] == "q=1?x=2#f"


def test_assume_not_null_parenthesizes_argument(spark, sf_dir):
    # an earlier duplicate handler emitted the bare argument, so
    # 'assumeNotNull(a + b) * 2' silently became 'a + b * 2'
    got = run_sql(
        spark,
        "SELECT assumeNotNull(1 + 2) * 2 AS v",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["v"] == 6


def test_quantile_timing_saturates_at_30s(spark, sf_dir):
    # ClickHouse quantileTiming is defined on [0, 30000] ms and counts
    # larger values AS 30000; an unclamped percentile_approx reported
    # the true tail instead of the saturated one.
    sql = translate("SELECT quantileTiming(0.5)(v) FROM t")
    assert "least(v, 30000)" in sql
    got = run_sql(
        spark,
        "SELECT quantileTiming(1)(c) AS sat FROM "
        "(SELECT 99999 AS c UNION ALL SELECT 10)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["sat"] == 30000


def test_sample_offset_form_fails_loudly():
    # 'SAMPLE f OFFSET f2' used to half-rewrite (SAMPLE consumed, the
    # dangling OFFSET left for Spark's parser to choke on)
    with pytest.raises(ValueError, match="OFFSET"):
        translate(
            "SELECT count() FROM events SAMPLE 0.1 OFFSET 0.5",
            sample_keys={"events": "user_id"},
        )
    with pytest.raises(ValueError, match="OFFSET"):
        translate(
            "SELECT count() FROM events FINAL SAMPLE 0.25 OFFSET 0.5",
            final_keys={"events": (("user_id",), "ts")},
            sample_keys={"events": "user_id"},
        )


def test_array_reduce_uniq_skips_nulls(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT arrayReduce('uniq', array(1, NULL, 2, 2)) AS u, "
        "arrayReduce('uniqExact', array(NULL, NULL)) AS ue",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["u"] == 2
    assert got["ue"] == 0


# ---------------------------------------------------------------------------
# round-7: splitByChar/splitByString, combined FINAL SAMPLE, and the
# driver-gated transpiler catalog queries
# ---------------------------------------------------------------------------
def test_split_by_char_and_string(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT splitByChar(' ', 'a b  c ') AS a, "
        "splitByString('::', 'x::y::') AS b, "
        "splitByChar('.', 'a.b') AS c",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a"] == ["a", "b", "", "c", ""]  # empties kept, like CH
    assert got["b"] == ["x", "y", ""]
    assert got["c"] == ["a", "b"]  # '.' \\Q-quoted, not a wildcard


def test_final_sample_combined_form():
    out = translate(
        "SELECT count() FROM events FINAL SAMPLE 0.25",
        sample_keys={"events": "user_id"},
        final_keys={"events": (("user_id", "event_type"), "event_id")},
    )
    # sample predicate must sit INSIDE the latest-row window subquery
    assert "row_number() OVER (PARTITION BY user_id, event_type" in out
    assert "FROM events WHERE (conv(substring(sha2" in out
    assert "SAMPLE" not in out and "FINAL" not in out
    # keyless combined form stays loud on whichever key is missing
    with pytest.raises(ValueError, match="ORDER BY key"):
        translate("SELECT count() FROM events FINAL SAMPLE 0.25",
                  sample_keys={"events": "user_id"})
    with pytest.raises(ValueError, match="sampling key"):
        translate("SELECT count() FROM events FINAL SAMPLE 0.25",
                  final_keys={"events": (("user_id",), "event_id")})


def test_final_sample_alias_not_swallowed():
    # regression: _SAMPLE_PAT used to capture FINAL as a table alias,
    # silently dropping the merge semantics
    out = translate(
        "SELECT count() FROM events AS e FINAL SAMPLE 0.5",
        sample_keys={"events": "user_id"},
        final_keys={"events": (("user_id",), "event_id")},
    )
    assert "__final_rn = 1) e" in out


@pytest.mark.parametrize(
    "name",
    [
        "chsql_limit_by_top_users",
        "chsql_array_join_token_stats",
        "chsql_final_sample_latest_state",
        "chsql_prewhere_totals_by_status",
        "chsql_positional_params_count",
    ],
)
def test_chsql_catalog_queries_parity(spark, sf_dir, name):
    from clickhouse_batcher_spark import catalog
    from tests.parity import assert_parity

    catalog.load_all()
    assert_parity(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# round-7: ClickHouse lookup transform() and parametric-aggregate louds
# ---------------------------------------------------------------------------
def test_transform_lookup_form(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT transform(event_type, ['click', 'view'], ['C', 'V'], '?')"
        " AS m, COUNT(*) AS n FROM events GROUP BY m ORDER BY m",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    keys = [r["m"] for r in got]
    assert "C" in keys and "V" in keys and "?" in keys
    # 3-arg form defaults to x itself
    got3 = run_sql(
        spark,
        "SELECT transform(5, array(1, 2), array(10, 20)) AS a, "
        "transform(2, [1, 2], [10, 20]) AS b",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got3["a"] == 5 and got3["b"] == 20


def test_transform_lambda_passthrough(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT transform(array(1, 2, 3), x -> x * 2) AS a",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a"] == [2, 4, 6]


def test_transform_loud_errors():
    with pytest.raises(ValueError, match="literal from/to"):
        translate("SELECT transform(x, some_col, [1, 2], 0) FROM t")
    with pytest.raises(ValueError, match="same nonempty length"):
        translate("SELECT transform(x, [1, 2], [1], 0) FROM t")


@pytest.mark.parametrize(
    "sql,construct",
    [
        ("SELECT sumMap(k, v) FROM t", "sumMap"),
        ("SELECT minMap(k, v) FROM t", "sumMap/minMap"),
        ("SELECT histogram(10)(x) FROM t", "histogram"),
        ("SELECT groupBitmap(x) FROM t", "groupBitmap"),
    ],
)
def test_parametric_aggregates_are_loud(sql, construct):
    with pytest.raises(ValueError, match="no Spark translation"):
        translate(sql)


def test_to_day_of_week_is_iso(spark, sf_dir):
    # ClickHouse toDayOfWeek is ISO (Monday=1..Sunday=7); Spark's
    # dayofweek is Sunday=1 — the bare name mapping was a silent
    # off-by-one on 6 of 7 days. 2024-01-01 is a Monday.
    got = run_sql(
        spark,
        "SELECT toDayOfWeek(TIMESTAMP'2024-01-01 10:00:00') AS mon, "
        "toDayOfWeek(TIMESTAMP'2024-01-07 10:00:00') AS sun, "
        "toDayOfWeek(TIMESTAMP'2024-01-06 10:00:00', 0) AS sat",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["mon"], got["sun"], got["sat"]) == (1, 7, 6)
    with pytest.raises(ValueError, match="mode != 0"):
        translate("SELECT toDayOfWeek(ts, 1) FROM t")


def test_scalar_tail_utf8_rand_tuple_visitparam(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT lowerUTF8('AbC') AS lo, upperUTF8('AbC') AS up, "
        "tupleElement(tuple(7, 'x'), 1) AS t1, "
        "tupleElement(tuple(7, 'x'), 2) AS t2, "
        "visitParamExtractString('{\"k\": \"v\"}', 'k') AS vs, "
        "visitParamHas('{\"k\": \"v\"}', 'k') AS vh, "
        "visitParamHas('{\"k\": \"v\"}', 'z') AS vn, "
        "rand() AS r",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["lo"], got["up"]) == ("abc", "ABC")
    assert (got["t1"], got["t2"]) == (7, "x")
    assert (got["vs"], got["vh"], got["vn"]) == ("v", True, False)
    # ClickHouse rand() range is UInt32, not [0, 1)
    assert 0 <= got["r"] < 2**32 and isinstance(got["r"], int)
    with pytest.raises(ValueError, match="rand"):
        translate("SELECT rand(1) FROM t")


def test_round8_scalar_batch(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT toISOWeek(TIMESTAMP'2024-01-01 10:00:00') AS w, "
        "toYYYYMMDD(TIMESTAMP'2024-03-05 10:00:00') AS ymd, "
        "toYYYYMMDDhhmmss(TIMESTAMP'2024-03-05 10:02:03') AS ymdhms, "
        "arrayReverseSort(array(2, 5, 1)) AS ars, "
        "positionUTF8('haystack', 'st') AS pos, "
        "base64Decode(base64Encode('ab')) AS b64, "
        "concatWithSeparator('-', 'a', 'b') AS cws, "
        "substringIndex('a.b.c', '.', 2) AS si, "
        "toUInt32OrNull('x') AS badint, toInt8OrZero('x') AS zint, "
        "anyHeavy(7) AS ah, "
        "CAST(TIMESTAMP'2024-01-31 00:00:00' + toIntervalDay(3) "
        "     AS DATE) AS plus3d",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["w"] == 1  # 2024-01-01 is ISO week 1
    assert got["ymd"] == 20240305 and got["ymdhms"] == 20240305100203
    assert got["ars"] == [5, 2, 1]
    assert got["pos"] == 4
    assert got["b64"] == "ab" and got["cws"] == "a-b"
    assert got["si"] == "a.b"
    assert got["badint"] is None and got["zint"] == 0
    assert got["ah"] == 7
    assert str(got["plus3d"]) == "2024-02-03"


def test_distinct_on_translates_as_limit_1_by(spark, sf_dir):
    # ClickHouse documents DISTINCT ON (cols) == LIMIT 1 BY cols
    got = run_sql(
        spark,
        "SELECT DISTINCT ON (user_id) user_id, value FROM events "
        "WHERE user_id < 5 ORDER BY user_id, value DESC",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    assert len(got) == len({r["user_id"] for r in got})
    base = run_sql(
        spark,
        "SELECT user_id, round(max(value), 6) AS value FROM events "
        "WHERE user_id < 5 GROUP BY user_id",
        sf_dir,
    ).collect()
    assert {r["user_id"]: round(r["value"], 6) for r in got} == {
        r["user_id"]: r["value"] for r in base
    }
    with pytest.raises(ValueError, match="subquery"):
        translate("SELECT (SELECT DISTINCT ON (x) x FROM u) FROM t")


def test_semi_anti_join_word_order(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT count() AS n FROM orders "
        "SEMI LEFT JOIN customer ON o_custkey = c_custkey",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    anti = run_sql(
        spark,
        "SELECT count() AS n FROM orders "
        "ANTI LEFT JOIN customer ON o_custkey = c_custkey",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    total = run_sql(
        spark, "SELECT count(*) AS n FROM orders", sf_dir
    ).collect()[0]
    assert got["n"] + anti["n"] == total["n"]
    for bad, frag in [
        ("SELECT a FROM t1 ANY LEFT JOIN t2 USING (a)", "deduplicate"),
        ("SELECT a FROM t1 ASOF JOIN t2 ON t1.ts >= t2.ts",
         "operators.asof"),
        ("SELECT a FROM t1 SEMI RIGHT JOIN t2 USING (a)",
         "swap the table order"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(bad)


def test_ch_type_names_in_casts(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT '7'::UInt32 AS a, 3.9::Nullable(String) AS b, "
        "CAST('8', 'UInt64') AS c, CAST(1, 'Bool') AS d, "
        "untuple(tp) FROM "
        "(SELECT tuple(5, 'y') AS tp)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (7, "3.9", 8, True)
    assert (got["_1"], got["_2"]) == (5, "y")
    with pytest.raises(ValueError, match="alias the struct"):
        translate("SELECT untuple(tuple(1, 2)) FROM t")
    with pytest.raises(ValueError, match="IPv4"):
        translate("SELECT CAST(a, 'IPv4') FROM t")
    # round 12: the statement-leading constant WITH now TRANSLATES
    # (test_constant_with_inlining); only nested scopes stay loud
    assert translate("WITH 5 AS k SELECT k FROM t") == (
        "SELECT (5) FROM t"
    )


def test_quantile_exact_weighted_and_plural_timing(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT quantileExactWeighted(0.5)(v, w) AS m, "
        "quantilesTiming(0.5, 1)(v) AS qt FROM (SELECT * FROM VALUES "
        "(1, 1), (10, 8), (99999, 1) AS t(v, w))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["m"] == 10  # weight-8 value dominates the median
    assert got["qt"][1] == 30000  # timing family saturates at 30 s


def test_quantile_exact_weighted_element_selection(spark, sf_dir):
    """ClickHouse quantileExactWeighted does NOT interpolate: it
    returns the first sorted element whose cumulative weight reaches
    p * total_weight. The crossing-level case (1,w=1),(2,w=1) at
    p=0.5 is 1 in ClickHouse — percentile(x, 0.5, w) would say 1.5
    (the round-7 silent divergence)."""
    got = run_sql(
        spark,
        "SELECT quantileExactWeighted(0.5)(v, w) AS med, "
        "quantileExactWeighted(0)(v, w) AS lo, "
        "quantileExactWeighted(1)(v, w) AS hi "
        "FROM (SELECT * FROM VALUES (1, 1), (2, 1) AS t(v, w))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["med"] == 1  # NOT 1.5 — no interpolation
    assert isinstance(got["med"], int)  # value type preserved
    assert got["lo"] == 1 and got["hi"] == 2
    # Cumulative rule with real weights: total=4, threshold=2 ->
    # cumulative 1:1, 2:3 >= 2 -> 2. NULL value/weight rows are
    # skipped like ClickHouse skips NULL aggregate arguments.
    got = run_sql(
        spark,
        "SELECT quantileExactWeighted(0.5)(v, w) AS med, "
        "count(*) AS n "
        "FROM (SELECT * FROM VALUES (3, 2), (1, 1), (2, 1), "
        "(NULL, 9), (7, NULL) AS t(v, w))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["med"] == 2
    # empty group -> NULL, no element_at(arr, 0) error
    got = run_sql(
        spark,
        "SELECT quantileExactWeighted(0.5)(v, w) AS med "
        "FROM (SELECT * FROM VALUES (1, 1) AS t(v, w)) WHERE v > 99",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["med"] is None


def test_logic_fn_unary_and_zero_arg(spark, sf_dir):
    """ClickHouse and(x)/or(x)/xor(x) is the identity on its single
    argument; the round-7 rewrite spliced a dangling keyword ('AND
    (x)') — an opaque Spark parse error. Zero arguments goes loud."""
    from clickhouse_batcher_spark.plans.chsql import translate

    got = run_sql(
        spark,
        "SELECT and(true) AS a1, or(1 > 2) AS o1, xor(false) AS x1, "
        "and(or(true)) AS nested FROM (SELECT 1 AS d)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a1"] is True and got["o1"] is False
    assert got["x1"] is False and got["nested"] is True
    for fn in ("and", "or", "xor"):
        with pytest.raises(ValueError, match="zero arguments"):
            translate(f"SELECT {fn}() FROM t")


def test_skew_kurt_samp_worked_example(spark, sf_dir):
    """kurtSamp([3,5,9]) is m4/sampleVar^2 = 0.666667 in ClickHouse;
    the round-7 factor ((n-1)/n instead of ((n-1)/n)^2) gave 1.0.
    Same class of bug for skewSamp (power 0.5 instead of 1.5)."""
    got = run_sql(
        spark,
        "SELECT round(skewSamp(v), 6) AS ss, "
        "round(kurtSamp(v), 6) AS ks FROM (SELECT * FROM VALUES "
        "(3.0), (5.0), (9.0) AS t(v))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    vals = [3.0, 5.0, 9.0]
    n = len(vals)
    mu = sum(vals) / n
    m3 = sum((v - mu) ** 3 for v in vals) / n
    m4 = sum((v - mu) ** 4 for v in vals) / n
    samp_var = sum((v - mu) ** 2 for v in vals) / (n - 1)
    assert got["ks"] == round(m4 / samp_var**2, 6) == 0.666667
    assert got["ss"] == round(m3 / samp_var**1.5, 6)


def test_review_fixes_round8(spark, sf_dir):
    # sequenceCount with '.*' must count non-overlapping chains
    # LAZILY (CH resumes after each completed chain): over a,b,a,b
    # '(?1).*(?2)' counts 2 — greedy 'a.*b' would say 1
    got = run_sql(
        spark,
        "SELECT sequenceCount('(?1).*(?2)')(ts, et = 'A', et = 'B') "
        "AS n FROM (SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 10:00:00', 'A'), "
        "(TIMESTAMP'2024-01-01 10:01:00', 'B'), "
        "(TIMESTAMP'2024-01-01 10:02:00', 'A'), "
        "(TIMESTAMP'2024-01-01 10:03:00', 'B') AS t(ts, et))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["n"] == 2
    # suffix cast directly inside a function call (the bare-form
    # regex must not eat the enclosing ')')
    got = run_sql(
        spark,
        "SELECT sum(v::UInt64) AS s FROM (SELECT '3' AS v)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["s"] == 3
    # nested same-name calls rewrite inner-first
    got = run_sql(
        spark,
        "SELECT lowerUTF8(upperUTF8('aB')) AS x, "
        "CAST(CAST('7', 'UInt32') AS STRING) AS y, "
        "visitParamHas('{\"k\": null}', 'k') AS kn",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["x"] == "ab" and got["y"] == "7"
    assert got["kn"] is True  # present-but-null key EXISTS in CH
    # DISTINCT ON: string literals untouched; CTE-prefixed top level
    # translates
    assert "DISTINCT ON" in translate(
        "SELECT 'DISTINCT ON (x)' AS s FROM t"
    )
    got = run_sql(
        spark,
        "WITH c AS (SELECT 1 AS x, 'a' AS y UNION ALL "
        "SELECT 1, 'b' UNION ALL SELECT 2, 'c') "
        "SELECT DISTINCT ON (x) x, y FROM c ORDER BY x, y",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    assert sorted((r["x"], r["y"]) for r in got) == [(1, "a"), (2, "c")]
    # timezone-bearing shapes stay loud
    with pytest.raises(ValueError, match="timezone"):
        translate("SELECT toDayOfWeek(ts, 0, 'Asia/Tokyo') FROM t")
    with pytest.raises(ValueError, match="silently drop"):
        translate("SELECT CAST(x, 'FixedString(8)') FROM t")


def test_round8_louds():
    for sql, frag in [
        ("SELECT welchTTest(x, g) FROM t", "ab_welch_ttest"),
        ("SELECT exponentialMovingAverage(10)(v, t2) FROM t",
         "events_hourly_ema"),
        ("SELECT largestTriangleThreeBuckets(100)(x, y) FROM t",
         "lttb"),
        ("SELECT sparkbar(9)(h, v) FROM t", "sparkbar_hourly"),
        ("SELECT parseDateTimeBestEffort(s) FROM t", "to_timestamp"),
        # toWeek(ts) left this list in round 13 (modes 0/3 translate);
        # the OTHER modes keep the loud contract:
        ("SELECT toWeek(ts, 1) FROM t", "modes 0"),
        ("SELECT arrayReverseSort(x -> x.a, arr) FROM t", "negate"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(sql)


def test_block_order_aggregates_are_loud():
    # boundingRatio left this list in round 12: it now TRANSLATES to
    # its closed form (test_scalar_state_merge_translations).
    for sql, frag in [
        ("SELECT deltaSum(x) FROM t", "delta_sum_by_type"),
        ("SELECT maxIntersections(a, b) FROM t",
         "max_concurrent_intervals"),
        ("SELECT topKWeighted(5)(x, w) FROM t", "topk_heavy_hitters"),
        ("SELECT intHash64(a) FROM t", "hash_bucket"),
        ("SELECT halfMD5(s) FROM t", "hash_bucket"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(sql)


_SEQ_FIXTURE = """
SELECT * FROM VALUES
  ('u1', TIMESTAMP'2024-01-01 10:00:00', 'A'),
  ('u1', TIMESTAMP'2024-01-01 10:10:00', 'B'),
  ('u1', TIMESTAMP'2024-01-01 10:20:00', 'C'),
  ('u2', TIMESTAMP'2024-01-01 09:00:00', 'B'),
  ('u2', TIMESTAMP'2024-01-01 10:00:00', 'A'),
  ('u3', TIMESTAMP'2024-01-01 10:00:00', 'A'),
  ('u3', TIMESTAMP'2024-01-01 12:30:00', 'B'),
  ('u4', TIMESTAMP'2024-01-01 10:00:00', 'A'),
  ('u4', TIMESTAMP'2024-01-01 10:00:00', 'B'),
  ('u5', TIMESTAMP'2024-01-01 10:00:00', 'C')
AS __seq(user_id, ts, et)
"""


def test_window_funnel_translates_default_mode(spark, sf_dir):
    # hand-computed: u1 full A->B->C chain in 20 min (3); u2 has B
    # BEFORE A (1); u3's B is 2.5 h after A, outside the 1 h window
    # (1); u4 has A and B at the SAME ts — default mode allows equal
    # timestamps (2); u5 never fires cond1 (0)
    got = run_sql(
        spark,
        "SELECT user_id, windowFunnel(3600)(ts, et = 'A', et = 'B', "
        f"et = 'C') AS lvl FROM ({_SEQ_FIXTURE}) GROUP BY user_id",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    assert {r["user_id"]: r["lvl"] for r in got} == {
        "u1": 3, "u2": 1, "u3": 1, "u4": 2, "u5": 0,
    }


def test_window_funnel_mode_strings_stay_loud():
    # strict_increase now TRANSLATES (pair-state fold); the remaining
    # modes stay loud
    for mode in ("strict_order", "strict_once", "strict_dedup"):
        with pytest.raises(ValueError, match="mode strings"):
            translate(
                f"SELECT windowFunnel(3600, '{mode}')(ts, a, b) FROM t"
            )


def test_window_funnel_strict_increase_matches_native(spark, sf_dir):
    """The translated strict_increase fold must agree with the native
    windowed operator (operators.chagg2.window_funnel_levels — a
    completely different formulation: next-stage RANGE windows) on the
    real events table: same per-level user histogram over users that
    reached level >= 1."""
    from clickhouse_batcher_spark.operators.chagg2 import (
        _FUNNEL_STAGES,
        _FUNNEL_WINDOW_US,
        window_funnel_levels,
    )

    s1, s2, s3 = _FUNNEL_STAGES
    w_s = _FUNNEL_WINDOW_US // 1_000_000
    translated = run_sql(
        spark,
        f"SELECT lvl AS level, count() AS n_users FROM ("
        f"SELECT user_id, windowFunnel({w_s}, 'strict_increase')(ts, "
        f"event_type = '{s1}', event_type = '{s2}', "
        f"event_type = '{s3}') AS lvl FROM events GROUP BY user_id"
        f") WHERE lvl >= 1 GROUP BY lvl",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    native = window_funnel_levels(spark, sf_dir).collect()
    assert {r["level"]: r["n_users"] for r in translated} == {
        r["level"]: r["n_users"] for r in native
    }
    # strict_increase refuses the equal-timestamp chain the default
    # mode accepts
    got = run_sql(
        spark,
        "SELECT windowFunnel(3600, 'strict_increase')(ts, et = 'A', "
        "et = 'B') AS lvl FROM (SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 10:00:00', 'A'), "
        "(TIMESTAMP'2024-01-01 10:00:00', 'B') AS t(ts, et))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["lvl"] == 1


def test_retention_translates(spark, sf_dir):
    # the anchor condition gates every later flag: u1 saw A,B,C; u2
    # saw B and A (no C); u5 never saw the anchor at all
    got = run_sql(
        spark,
        "SELECT user_id, retention(et = 'A', et = 'B', et = 'C') AS r "
        f"FROM ({_SEQ_FIXTURE}) GROUP BY user_id",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    flags = {r["user_id"]: r["r"] for r in got}
    assert flags["u1"] == [1, 1, 1]
    assert flags["u2"] == [1, 1, 0]
    assert flags["u5"] == [0, 0, 0]


def test_sequence_match_and_count_translate(spark, sf_dir):
    # u1: A then B -> '(?1)(?2)' hits, the reversed pattern does not;
    # u2 is the mirror; u3 has a 2.5 h gap — sequenceMatch has no
    # window, so the pattern still hits
    got = run_sql(
        spark,
        "SELECT user_id, "
        "sequenceMatch('(?1)(?2)')(ts, et = 'A', et = 'B') AS fwd, "
        "sequenceMatch('(?2).*(?1)')(ts, et = 'A', et = 'B') AS rev, "
        "sequenceCount('(?1)')(ts, et = 'A', et = 'B') AS n_a "
        f"FROM ({_SEQ_FIXTURE}) GROUP BY user_id",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    rows = {r["user_id"]: (r["fwd"], r["rev"], r["n_a"]) for r in got}
    assert rows["u1"] == (1, 0, 1)
    assert rows["u2"] == (0, 1, 1)
    assert rows["u3"] == (1, 0, 1)
    assert rows["u5"] == (0, 0, 0)


def test_sequence_match_time_constraints_stay_loud():
    with pytest.raises(ValueError, match="time constraints"):
        translate(
            "SELECT sequenceMatch('(?1)(?t<=3600)(?2)')(ts, a, b) "
            "FROM t"
        )
    with pytest.raises(ValueError, match="condition 3"):
        translate("SELECT sequenceMatch('(?3)')(ts, a, b) FROM t")


# ---------------------------------------------------------------------------
# round-7 scalar/aggregate tail: OrZero variants, null assertions,
# bitCount, uniqUpTo, approx quantile aliases, fixed-minute grids,
# non-portable hash louds
# ---------------------------------------------------------------------------
def test_or_zero_null_bitcount_scalars(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT intDivOrZero(7, 2) AS a, intDivOrZero(7, 0) AS b, "
        "moduloOrZero(7, 3) AS c, moduloOrZero(7, 0) AS d, "
        "ifNull(NULL, 5) AS e, ifNull(3, 5) AS f, "
        "assumeNotNull(9) AS g, toNullable(4) AS h, "
        "bitCount(255) AS i, bitCount(5) AS j",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (3, 0, 1, 0)
    assert (got["e"], got["f"], got["g"], got["h"]) == (5, 3, 9, 4)
    assert (got["i"], got["j"]) == (8, 2)


def test_uniq_up_to_and_quantile_aliases(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT uniqUpTo(3)(event_type) AS u3, "
        "uniqUpTo(100)(event_type) AS u100, "
        "quantileTDigest(0.5)(value) AS qt, "
        "quantileTiming(0.5)(value) AS qm "
        "FROM events",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    # events has 5 types: saturates at k+1 for k=3, exact for k=100
    assert got["u3"] == 4 and got["u100"] == 5
    assert got["qt"] == got["qm"]  # same percentile_approx mapping


def test_fixed_minute_grids(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT toStartOfFifteenMinutes(toDateTime('2024-03-05 10:37:11'))"
        " AS q, toStartOfTenMinutes(toDateTime('2024-03-05 10:37:11')) AS t,"
        " toStartOfFiveMinutes(toDateTime('2024-03-05 10:37:11')) AS f",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert str(got["q"]) == "2024-03-05 10:30:00"
    assert str(got["t"]) == "2024-03-05 10:30:00"
    assert str(got["f"]) == "2024-03-05 10:35:00"


def test_nonportable_hashes_are_loud():
    for fn in ("sipHash64", "cityHash64", "murmurHash3_64"):
        with pytest.raises(ValueError, match="no Spark translation"):
            translate(f"SELECT {fn}(user_id) FROM events")


def test_window_funnel_random_groups_match_reference(spark, sf_dir):
    """Randomized check of the windowFunnel fold: 80 random event
    groups (seeded) in ONE DataFrame vs an independent Python
    reference that does exhaustive chain search (exists t1 <= ... <=
    tk with tk - t1 <= W and level i at t_i) — a different algorithm
    from the translated chain-start fold."""
    import itertools
    import random

    rng = random.Random(20260814)
    n_conds, window_s = 3, 50
    rows, want = [], {}
    for g in range(80):
        n_ev = rng.randint(0, 12)
        evs = [
            (rng.randint(0, 200), rng.randint(1, n_conds))
            for _ in range(n_ev)
        ]
        rows += [(g, t, lvl) for t, lvl in evs]
        # reference: max k such that a non-decreasing chain of levels
        # 1..k fits in the window — brute force over event subsets
        best = 0
        by_level = {
            lv: sorted(t for t, l in evs if l == lv)
            for lv in range(1, n_conds + 1)
        }
        for k in range(n_conds, 0, -1):
            found = False
            for chain in itertools.product(
                *(by_level[lv] for lv in range(1, k + 1))
            ):
                if all(
                    chain[i] <= chain[i + 1] for i in range(k - 1)
                ) and chain[k - 1] - chain[0] <= window_s:
                    found = True
                    break
            if found:
                best = k
                break
        want[g] = best
    df = spark.createDataFrame(
        [(g, t, lvl) for g, t, lvl in rows] or [(0, 0, 0)],
        "g INT, t INT, lvl INT",
    )
    df.createOrReplaceTempView("__wf_rand")
    got = {
        r["g"]: r["lvl"]
        for r in spark.sql(
            translate(
                f"SELECT g, windowFunnel({window_s})("
                "CAST(timestamp_seconds(t) AS TIMESTAMP), "
                "lvl = 1, lvl = 2, lvl = 3) AS lvl "
                "FROM __wf_rand GROUP BY g"
            )
        ).collect()
    }
    for g, exp in want.items():
        assert got.get(g, 0) == exp, (g, got.get(g), exp)


# Every ClickHouse-ONLY construct below must either REWRITE (string
# changes) or go LOUD (ValueError) — silent UNCHANGED pass-through is
# a latent Spark parse error or, worse, a silent semantic divergence
# (the probe that found toDayOfWeek's week-start off-by-one, rand()'s
# range mismatch, and the SAMPLE..OFFSET half-rewrite). Extend this
# list whenever a new CH name is handled.
_CH_ONLY_PROBES = [
    "SELECT countIf(a > 1), sumIf(v, a), avgIf(v, a) FROM t",
    "SELECT uniq(x), uniqExact(x), uniqTheta(x), uniqHLL12(x) FROM t",
    "SELECT argMax(a, b), argMin(a, b), anyLast(x), anyHeavy(x) FROM t",
    "SELECT quantile(0.5)(x), quantileExact(0.5)(x) FROM t",
    "SELECT quantileTiming(0.9)(x), quantileExactWeighted(0.5)(x, w) FROM t",
    "SELECT windowFunnel(60)(ts, a, b) FROM t",
    "SELECT retention(a, b), sequenceMatch('(?1)')(ts, a) FROM t",
    "SELECT sumMap(k, v) FROM t",
    "SELECT topK(3)(x) FROM t",
    "SELECT deltaSum(x) FROM t",
    "SELECT has(arr, 1), hasAny(arr, [1]), indexOf(arr, 1) FROM t",
    "SELECT arrayMap(x -> x, arr), arrayFilter(x -> x, arr) FROM t",
    "SELECT arrayJoin(arr), arraySlice(arr, 1, 2) FROM t",
    "SELECT arrayReverseSort(arr), arrayStringConcat(arr, ',') FROM t",
    "SELECT splitByChar(',', s), splitByString(', ', s) FROM t",
    "SELECT lengthUTF8(s), lowerUTF8(s), positionUTF8(s, 'a') FROM t",
    "SELECT toDayOfWeek(ts), toISOWeek(ts), toWeek(ts) FROM t",
    "SELECT toYYYYMMDD(ts), toStartOfHour(ts), toUnixTimestamp(ts) FROM t",
    "SELECT toIntervalDay(1) + ts, addDays(ts, 1) FROM t",
    "SELECT toUInt32(s), toUInt32OrNull(s), toInt64OrZero(s) FROM t",
    "SELECT toDateTime(s), toDate(s), formatDateTime(ts, '%Y') FROM t",
    "SELECT rand() FROM t",
    "SELECT sipHash64(s), cityHash64(s), intHash64(a), halfMD5(s) FROM t",
    "SELECT JSONExtractString(j, 'k'), visitParamHas(j, 'k') FROM t",
    "SELECT tuple(a, b), tupleElement(tp, 1), untuple(tp) FROM t",
    "SELECT base64Encode(s), concatWithSeparator('-', a, b) FROM t",
    "SELECT multiIf(a, 1, 2), ifNull(a, 0), assumeNotNull(a) FROM t",
    "SELECT empty(s), notEmpty(s), match(s, 'x'), extractAll(s, 'x') FROM t",
    "SELECT domain(u), queryString(u), cutQueryString(u) FROM t",
    "SELECT count() FROM t SAMPLE 0.5",
    "SELECT count() FROM t FINAL",
    "SELECT a FROM t ORDER BY a LIMIT 2 BY a",
    "SELECT DISTINCT ON (a) a FROM t ORDER BY a",
    "SELECT a FROM t1 ANY LEFT JOIN t2 USING (a)",
    "SELECT a FROM t1 ASOF JOIN t2 ON t1.ts >= t2.ts",
    "SELECT a FROM t PREWHERE b > 1",
    "SELECT a, count() FROM t GROUP BY a WITH TOTALS",
    "SELECT a::UInt32, CAST(a, 'UInt32') FROM t",
    "SELECT * FROM numbers(10)",
    "SELECT * FROM remote('h', db.t)",
    "SELECT welchTTest(x, g) FROM t",
    "SELECT exponentialMovingAverage(10)(v, t2) FROM t",
    "SELECT parseDateTimeBestEffort(s) FROM t",
    "SELECT histogram(5)(x) FROM t",
    "SELECT dictGet('d', 'attr', k) FROM t",
    "SELECT sumDistinct(x), countDistinct(x) FROM t",
    "SELECT medianIf(v, c), stddevPopIf(v, c), groupArrayIf(x, c) FROM t",
    "SELECT uniqState(x), sumMerge(s) FROM t",
    "SELECT sumForEach(arrs) FROM t",
    "SELECT L2Distance(a, b), cosineDistance(a, b), L2Norm(a) FROM t",
    "SELECT editDistance(s1, s2), hasToken(s, 'tok') FROM t",
    "SELECT mapContains(m, 'k'), mapUpdate(m1, m2), mapApply((k,v) -> (k,v), m) FROM t",
    "SELECT arrayRotateLeft(arr, 2), arrayResize(arr, 5, 0), arrayAUC(s2, l) FROM t",
    "SELECT monthName(d), timeDiff(a, b), now64() FROM t",
    # batches 9-11
    "SELECT leftPadUTF8(s, 5), rightPadUTF8(s, 5) FROM t",
    "SELECT dateSub(MONTH, 1, ts), timestampSub(DAY, 1, ts) FROM t",
    "SELECT addDate(ts, INTERVAL 1 DAY), subDate(ts, INTERVAL 1 DAY) FROM t",
    "SELECT toTime(ts), toStartOfMillisecond(ts) FROM t",
    "SELECT and(a, b, c), or(a, b, c), xor(a, b) FROM t",
    "SELECT arrayCumSumNonNegative(arr), arrayShingles(arr, 2) FROM t",
    "SELECT toUnixTimestamp64Milli(ts), fromUnixTimestamp64Milli(m) FROM t",
    "SELECT timeSlots(ts, 3600), bitTestAll(x, 1, 2), bitTestAny(x, 1) FROM t",
    "SELECT emptyArrayInt64(), emptyArrayString() FROM t",
    "SELECT isZeroOrNull(x), indexHint(x > 1) FROM t",
    "SELECT mapAdd(m1, m2), mapSubtract(m1, m2) FROM t",
    "SELECT accurateCast(x, 'UInt32'), toIntervalQuarter(2) FROM t",
    "SELECT toStartOfWeek(ts), toStartOfWeek(ts, 1) FROM t",
    "SELECT ngramDistance(a, b) FROM t",
    "SELECT arrayFill(x -> x, arr), groupArrayInsertAt(x, i) FROM t",
    "SELECT byteSize(x), kostikConsistentHash(x, 4) FROM t",
    "SELECT x FROM t QUALIFY rn = 1",
    "SELECT x FROM t LIMIT 5, 10",
    "SELECT * FROM t INTO OUTFILE 'f.csv'",
    "SELECT 1 FROM a PASTE JOIN b",
    # batch 12
    "SELECT cramersV(a, b), theilsU(a, b), rankCorr(a, b) FROM t",
    "SELECT multiSearchFirstPosition(s, ['a']), multiSearchFirstIndex(s, ['a']) FROM t",
    "SELECT countMatchesCaseInsensitive(s, 'x'), sumWithOverflow(x) FROM t",
    "SELECT corrStable(a, b), covarPopStable(a, b), covarSampStable(a, b) FROM t",
    "SELECT nonNegativeDerivative(v, ts) OVER (ORDER BY ts) FROM t",
    "SELECT stochasticLinearRegression(x, y), categoricalInformationValue(a, l) FROM t",
    "SELECT maxMappedArrays(k, v), multiFuzzyMatchAny(s, 2, ['ab']) FROM t",
    "SELECT toFixedString(s, 8), reinterpretAsUInt32(s) FROM t",
    "SELECT lagInFrame(x) OVER (ORDER BY ts), leadInFrame(x) OVER (ORDER BY ts) FROM t",
    # batch 13
    "SELECT splitByWhitespace(s), ngrams(s, 3), initcapUTF8(s) FROM t",
    "SELECT L2SquaredDistance(a, b), tokens(s) FROM t",
    "SELECT geoToH3(lon, lat, 9), geohashEncode(lon, lat) FROM t",
    "SELECT normalizeUTF8NFC(s), toValidUTF8(s), punycodeEncode(s) FROM t",
    "SELECT generateULID(), splitByNonAlpha(s) FROM t",
]


@pytest.mark.parametrize("sql", _CH_ONLY_PROBES)
def test_ch_only_constructs_never_pass_through(sql):
    try:
        out = translate(sql)
    except ValueError:
        return  # loud is a valid outcome
    assert out != sql, f"silent pass-through: {sql!r}"


def test_combinator_families(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT sumDistinct(v) AS sd, countDistinct(v) AS cd, "
        "medianIf(v, v > 1) AS mi, groupArrayIf(v, v > 2) AS ga "
        "FROM (SELECT * FROM VALUES (1), (2), (2), (3) AS t(v))",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["sd"] == 6 and got["cd"] == 3
    assert got["mi"] == 2.0  # median of 2, 2, 3
    assert sorted(got["ga"]) == [3]
    with pytest.raises(ValueError, match="State/-Merge"):
        translate("SELECT uniqState(x) FROM t")
    with pytest.raises(ValueError, match="posexplode"):
        translate("SELECT sumForEach(arrs) FROM t")


def test_vector_distance_family(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT round(L2Distance(array(1.0, 2.0), array(4.0, 6.0)), 6) AS l2, "
        "round(L1Distance(array(1.0, 2.0), array(4.0, 6.0)), 6) AS l1, "
        "round(LinfDistance(array(1.0, 2.0), array(4.0, 6.0)), 6) AS li, "
        "round(dotProduct(array(1.0, 2.0), array(3.0, 4.0)), 6) AS dp, "
        "round(L2Norm(array(3.0, 4.0)), 6) AS n2, "
        "round(cosineDistance(array(1.0, 0.0), array(0.0, 1.0)), 6) AS cd",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["l2"], got["l1"], got["li"]) == (5.0, 7.0, 4.0)
    assert (got["dp"], got["n2"], got["cd"]) == (11.0, 5.0, 1.0)


def test_string_map_array_tail(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT editDistance('kitten', 'sitting') AS ed, "
        "hasToken('a tok42 b', 'tok42') AS ht, "
        "hasToken('atok42b', 'tok42') AS hn, "
        "mapContains(map('k', 1), 'k') AS mc, "
        "mapUpdate(map('a', 1, 'b', 2), map('b', 9)) AS mu, "
        "arrayRotateLeft(array(1, 2, 3, 4), 1) AS rl, "
        "arrayRotateRight(array(1, 2, 3, 4), 1) AS rr, "
        "arrayResize(array(1, 2, 3), 5, 0) AS rz, "
        "arrayResize(array(1, 2, 3), 2, 0) AS rs, "
        "arrayResize(array(1, 2, 3), -2, 0) AS rneg, "
        "arrayResize(array(1, 2, 3), -5, 9) AS rpadl, "
        "monthName(DATE'2024-03-05') AS mn, "
        "timeDiff(TIMESTAMP'2024-01-01 00:00:00', "
        "         TIMESTAMP'2024-01-01 00:01:30') AS td",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["ed"] == 3
    assert got["ht"] is True and got["hn"] is False
    assert got["mc"] is True
    assert dict(got["mu"]) == {"a": 1, "b": 9}
    assert got["rl"] == [2, 3, 4, 1] and got["rr"] == [4, 1, 2, 3]
    assert got["rz"] == [1, 2, 3, 0, 0] and got["rs"] == [1, 2]
    # negative n resizes from the LEFT (ClickHouse semantics)
    assert got["rneg"] == [2, 3] and got["rpadl"] == [9, 9, 1, 2, 3]
    assert got["mn"] == "March" and got["td"] == 90


def test_json_url_component_family(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT JSONExtractKeys('{\"b\": 1, \"a\": 2}') AS ks, "
        "JSONLength('[1, 2, 3]') AS la, "
        "JSONLength('{\"a\": 1, \"b\": 2}') AS lo, "
        "encodeURLComponent('a b*c~d') AS enc, "
        "decodeURLComponent('a%20b+c') AS dec",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert sorted(got["ks"]) == ["a", "b"]
    assert (got["la"], got["lo"]) == (3, 2)
    # RFC 3986: space -> %20, '*' encoded, '~' kept
    assert got["enc"] == "a%20b%2Ac~d"
    # CH decode does NOT treat '+' as space
    assert got["dec"] == "a b+c"
    with pytest.raises(ValueError, match="sparkbar_hourly"):
        translate("SELECT bar(x, 0, 100, 20) FROM t")
    with pytest.raises(ValueError, match="JSONExtractRaw first"):
        translate("SELECT JSONLength(j, 'k') FROM t")


def test_no_duplicate_rewrite_registrations():
    """A second same-kind registration of the same function name is
    dead code — the first consumes every occurrence — and has twice
    hidden a real fix behind it (the parenthesized assumeNotNull, the
    exact encodeURLComponent). Curried + plain pairs of one name are
    legitimate (the curried scanner skips non-curried call sites)."""
    import collections
    import re
    from pathlib import Path

    import clickhouse_batcher_spark.plans.chsql as chsql

    src = Path(chsql.__file__).read_text()
    regs = re.findall(
        r'(_rewrite_(?:calls|curried(?:_fn)?))\(\s*\n?\s*'
        r'(?:out|sql)?,?\s*\n?\s*"(\w+)"',
        src,
    )
    kinds = [
        (n, "curried" if "curried" in kind else "calls")
        for kind, n in regs
    ]
    dupes = {
        kn: c for kn, c in collections.Counter(kinds).items() if c > 1
    }
    assert not dupes, f"dead duplicate rewrite handlers: {dupes}"


def test_probe_batch4_scalars(spark, sf_dir):
    """Round-7 probe batch 4: multi-pattern search, first-occurrence
    replace, date constructors, relative-time nums, bit/exp scalars —
    every value hand-checked against ClickHouse semantics."""
    got = run_sql(
        spark,
        "SELECT multiMatchAny('abc', ['^b', 'c$']) AS mm1, "
        "multiMatchAny('abc', ['q', 'z']) AS mm0, "
        "multiMatchAnyCaseInsensitive('ABC', ['b']) AS mmi, "
        "multiSearchAnyCaseInsensitive('aBc', ['AB']) AS msi, "
        "countMatches('a1b22c', '\\\\d+') AS cm, "
        "replaceOne('aaa', 'a', 'b') AS r1, "
        "replaceOne('xyz', 'q', 'b') AS rmiss, "
        "ifEmpty('', 'd') AS ie, "
        "ifEmpty('x', 'd') AS inx, "
        "CAST(toDateTime64('2020-01-02 03:04:05', 3) AS STRING) AS t64, "
        "CAST(makeDate(2020, 5, 3) AS STRING) AS md, "
        "CAST(makeDate(2020, 32) AS STRING) AS mdoy, "
        "CAST(makeDateTime(2020, 1, 2, 3, 4, 5) AS STRING) AS mdt, "
        "CAST(toLastDayOfMonth(toDate('2020-02-05')) AS STRING) AS ld, "
        "toRelativeYearNum(toDate('2020-03-01')) AS ry, "
        "toRelativeMonthNum(toDate('2020-03-01')) AS rm, "
        "toRelativeDayNum(toDate('1970-01-11')) AS rd, "
        "toRelativeHourNum(toDateTime('1970-01-02 05:00:00')) AS rh, "
        "isFinite(1.0) AS fin, "
        "isFinite(CAST('Infinity' AS DOUBLE)) AS fininf, "
        "isInfinite(CAST('-Infinity' AS DOUBLE)) AS isinf, "
        "bitTest(5, 0) AS bt1, bitTest(5, 1) AS bt0, "
        "exp2(3) AS e2, exp10(2) AS e10, "
        "intExp2(10) AS ie2, intExp10(18) AS ie10, "
        "accurateCastOrNull('12', 'UInt32') AS acn, "
        "accurateCastOrNull('xx', 'UInt32') AS acnull, "
        "format('{} and {}', 'a', 'b') AS fmt, "
        "format('100%{}', 'x') AS fpc, "
        "arrayEnumerateDense([10, 20, 10]) AS aed, "
        "arrayEnumerateUniq([10, 20, 10, 10]) AS aeu",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["mm1"] is True and got["mm0"] is False
    assert got["mmi"] is True and got["msi"] is True
    assert got["cm"] == 2
    assert got["r1"] == "baa" and got["rmiss"] == "xyz"
    assert got["ie"] == "d" and got["inx"] == "x"
    assert got["t64"] == "2020-01-02 03:04:05"
    assert got["md"] == "2020-05-03" and got["mdoy"] == "2020-02-01"
    assert got["mdt"] == "2020-01-02 03:04:05"
    assert got["ld"] == "2020-02-29"
    assert got["ry"] == 2020 and got["rm"] == 2020 * 12 + 3
    assert got["rd"] == 10 and got["rh"] == 29
    assert got["fin"] is True and got["fininf"] is False
    assert got["isinf"] is True
    assert got["bt1"] == 1 and got["bt0"] == 0
    assert got["e2"] == 8.0 and got["e10"] == 100.0
    assert got["ie2"] == 1024 and got["ie10"] == 10**18
    assert got["acn"] == 12 and got["acnull"] is None
    assert got["fmt"] == "a and b" and got["fpc"] == "100%x"
    assert got["aed"] == [1, 2, 1] and got["aeu"] == [1, 1, 2, 3]


def test_probe_batch4_aggregates(spark, sf_dir):
    """skew/kurt family (Spark skewness is population, kurtosis is
    excess — verified by the exact adjustment algebra), regression
    struct, bit aggregates."""
    got = run_sql(
        spark,
        "SELECT round(skewPop(v), 6) AS sp, "
        "round(skewSamp(v), 6) AS ss, "
        "round(kurtPop(v), 6) AS kp, "
        "round(kurtSamp(v), 6) AS ks, "
        "simpleLinearRegression(x, v).k AS slope, "
        "simpleLinearRegression(x, v).b AS icept, "
        "groupBitAnd(i) AS ba, groupBitOr(i) AS bo, groupBitXor(i) AS bx "
        "FROM (SELECT 1.0 AS x, 3.0 AS v, 5 AS i "
        "      UNION ALL SELECT 2.0, 5.0, 7 "
        "      UNION ALL SELECT 3.0, 9.0, 12)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]

    vals = [3.0, 5.0, 9.0]
    n = len(vals)
    mu = sum(vals) / n
    m2 = sum((v - mu) ** 2 for v in vals) / n
    m3 = sum((v - mu) ** 3 for v in vals) / n
    m4 = sum((v - mu) ** 4 for v in vals) / n
    # ClickHouse Samp variants divide the POPULATION moment by the
    # SAMPLE variance to the moment's power (first principles, not the
    # translation's own formula): skewSamp = m3/sampleVar^1.5,
    # kurtSamp = m4/sampleVar^2, sampleVar = m2*n/(n-1). For [3,5,9]
    # kurtSamp is 0.666667 (the round-7 factor gave 1.0).
    samp_var = m2 * n / (n - 1)
    assert got["sp"] == round(m3 / m2**1.5, 6)
    assert got["ss"] == round(m3 / samp_var**1.5, 6)
    assert got["kp"] == round(m4 / m2**2, 6)
    assert got["ks"] == round(m4 / samp_var**2, 6)
    assert got["ks"] == round(2.0 / 3.0, 6)  # pin the worked example
    # least-squares fit of v on x by hand
    xs = [1.0, 2.0, 3.0]
    mx = sum(xs) / n
    k = sum((a - mx) * (b - mu) for a, b in zip(xs, vals)) / sum(
        (a - mx) ** 2 for a in xs
    )
    assert abs(got["slope"] - k) < 1e-12
    assert abs(got["icept"] - (mu - k * mx)) < 1e-12
    assert got["ba"] == 5 & 7 & 12
    assert got["bo"] == 5 | 7 | 12
    assert got["bx"] == 5 ^ 7 ^ 12


def test_probe_batch4_louds():
    """Block-order, divergent, or untranslatable constructs from probe
    batch 4 raise explanatory errors instead of passing through."""
    for sql, frag in [
        ("SELECT runningDifference(x) FROM t", "lag"),
        ("SELECT formatReadableSize(n) FROM t", "presentation"),
        # entropy(x) left this list in round 13: translated as the
        # run-length fold over the sorted group (test_entropy_values);
        # the multi-column tuple form is still loud:
        ("SELECT entropy(x, y) FROM t", "tuple"),
        ("SELECT quantileExactLow(0.5)(x) FROM t", "ELEMENTS"),
        ("SELECT IPv6NumToString(x) FROM t", "IPv6"),
        ("SELECT toTypeName(x) FROM t", "typeof"),
        ("SELECT emptyArrayToSingle(a) FROM t", "default"),
        # gcd/lcm left this list in round 12: translated as the
        # bounded-Euclid fold (test_gcd_lcm_values).
        ("SELECT erf(x) FROM t", "erf"),
        ("SELECT replaceRegexpOne(s, 'a', 'b') FROM t", "EVERY match"),
        ("SELECT format('{0} {1}', a, b) FROM t", "indexed"),
        ("SELECT makeDateTime(2020, 1, 2, 3, 4, 5, 'UTC')", "6-arg"),
        ("SELECT toDateTime64(s, 3, 'UTC') FROM t", "timezone"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(sql)


def test_probe_batch5_scalars(spark, sf_dir):
    """Round-7 probe batch 5: arrayFold, window aliases, GK quantile,
    date tail, map/constructor scalars."""
    got = run_sql(
        spark,
        "SELECT arrayFold((acc, x) -> acc + x, [1, 2, 3], "
        "               CAST(0 AS BIGINT)) AS af, "
        "CAST(toStartOfSecond(toDateTime('2020-01-01 01:02:03')) "
        "     AS STRING) AS ss, "
        "toMillisecond(TIMESTAMP'2020-01-01 00:00:00.123') AS ms, "
        "toDaysSinceYearZero(toDate('1970-01-01')) AS dz, "
        "mapFromArrays([1, 2], ['a', 'b'])[1] AS mfa, "
        "quantileGK(100, 0.5)(event_id) AS gk2, "
        "quantileGK(0.5)(event_id) AS gk1, "
        "countDistinctIf(event_type, event_id > 0) AS cdi, "
        "singleValueOrNull(42) AS svn, "
        "sumKahan(value) AS sk "
        "FROM events",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["af"] == 6
    assert got["ss"] == "2020-01-01 01:02:03"
    assert got["ms"] == 123
    # proleptic Gregorian: epoch is day 719528 counted from year zero
    assert got["dz"] == 719528
    assert got["mfa"] == "a"
    assert got["gk2"] is not None and got["gk1"] is not None
    assert got["cdi"] >= 1
    assert got["svn"] is None  # many rows -> not a single value
    assert got["sk"] is not None


def test_probe_batch5_window_aliases(spark, sf_dir):
    """lagInFrame/leadInFrame/denseRank/percentRank/firstValue/
    lastValue translate to the Spark window builtins."""
    rows = run_sql(
        spark,
        "SELECT user_id, event_id, "
        "lagInFrame(event_id) OVER w AS lg, "
        "leadInFrame(event_id) OVER w AS ld, "
        "denseRank() OVER w AS dr, "
        "firstValue(event_id) OVER w AS fv "
        "FROM events WHERE user_id = 1 "
        "WINDOW w AS (ORDER BY event_id) ORDER BY event_id LIMIT 3",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    if len(rows) >= 2:
        assert rows[0]["lg"] is None
        assert rows[1]["lg"] == rows[0]["event_id"]
        assert rows[0]["ld"] == rows[1]["event_id"]
        assert rows[0]["fv"] == rows[0]["event_id"]
        assert [r["dr"] for r in rows] == list(range(1, len(rows) + 1))


def test_probe_batch5_louds():
    for sql, frag in [
        ("SELECT CAST(('a', 1) AS Tuple(String, Int64))", "STRUCT"),
        # toYearWeek default left this list in round 13 (modes 0/3
        # translate); non-translatable modes stay loud:
        ("SELECT toYearWeek(now(), 2)", "modes 0"),
        ("SELECT greatCircleDistance(0, 0, 1, 1)", "haversine"),
        ("SELECT pointInPolygon((0.5, 0.5), [(0, 0), (1, 0)])",
         "haversine"),
        ("SELECT kolmogorovSmirnovTest(x, g) FROM t", "chagg2"),
        ("SELECT quantileInterpolatedWeighted(0.5)(x, w) FROM t",
         "quantileExactWeighted"),
        ("SELECT groupArrayLast(3)(x) FROM t", "block order"),
        ("SELECT groupArraySample(3)(x) FROM t", "reservoir"),
        ("SELECT randConstant()", "per-row"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(sql)


def test_probe_batch5_rand_distributions():
    """randNormal/randUniform translate to mean/stddev- and
    range-shifted Spark builtins (distribution-preserving)."""
    assert translate("SELECT randNormal(10, 2)") == (
        "SELECT ((10) + (2) * randn())"
    )
    assert translate("SELECT randUniform(5, 7)") == (
        "SELECT ((5) + ((7) - (5)) * rand())"
    )


def test_probe_batch6_scalars(spark, sf_dir):
    """Round-7 probe batch 6: binary-digest hashes (ClickHouse MD5/
    SHA* return BINARY — hex(MD5(x)) must round-trip), decimal widths,
    fixed bucketing tables, misc scalars."""
    got = run_sql(
        spark,
        "SELECT hex(MD5('abc')) AS h5, "
        "length(SHA256('abc')) AS l256, "
        "hex(SHA1('abc')) AS h1, "
        "CAST(toDecimal32('1.5', 2) AS STRING) AS d32, "
        "CAST(toDecimal128('1.5', 10) AS STRING) AS d128, "
        "toDecimal32OrNull('xx', 2) AS d32n, "
        "CAST(toDecimal64OrZero('xx', 3) AS STRING) AS d64z, "
        "CAST(toDate32('2020-01-01') AS STRING) AS dd, "
        "toBool('true') AS tb, "
        "char(65, 66, 67) AS ch3, "
        "tryBase64Decode('YQ==') AS b64, "
        "tryBase64Decode('!!bad!!') AS b64f, "
        "ifNotFinite(7.0, 42.0) AS inf1, "
        "materialize(5) AS mz, identity(6) AS idn, ignore(123) AS ig, "
        "roundToExp2(100) AS re2, roundDuration(95) AS rdur, "
        "roundAge(16) AS rage, "
        "arrayJaccardIndex([1, 2], [2, 3]) AS ajc, "
        "arrayUnion([1, 2], [2, 3]) AS aun",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["h5"] == "900150983CD24FB0D6963F7D28E17F72"
    assert got["l256"] == 32
    assert got["h1"] == "A9993E364706816ABA3E25717850C26C9CD0D89D"
    assert got["d32"] == "1.50" and got["d128"] == "1.5000000000"
    assert got["d32n"] is None and got["d64z"] == "0.000"
    assert got["dd"] == "2020-01-01" and got["tb"] is True
    assert got["ch3"] == "ABC"
    assert got["b64"] == "a" and got["b64f"] == ""
    assert got["inf1"] == 7.0
    assert (got["mz"], got["idn"], got["ig"]) == (5, 6, 0)
    assert got["re2"] == 64 and got["rdur"] == 60 and got["rage"] == 17
    assert abs(got["ajc"] - 1 / 3) < 1e-12
    assert got["aun"] == [1, 2, 3]


def test_probe_batch6_ornull_combinators(spark, sf_dir):
    """-OrNull keeps Spark's NULL-on-empty; -OrDefault coalesces to
    the type default — checked on empty and nonempty groups."""
    got = run_sql(
        spark,
        "SELECT sumOrNull(x) AS sn, sumOrDefault(x) AS sd, "
        "minOrNull(x) AS mn, avgOrDefault(x) AS ad "
        "FROM (SELECT CAST(1 AS DOUBLE) AS x WHERE false)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["sn"] is None and got["sd"] == 0
    assert got["mn"] is None and got["ad"] == 0
    got = run_sql(
        spark,
        "SELECT sumOrNull(value) AS sn, anyOrNull(event_type) AS an "
        "FROM events",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["sn"] is not None and got["an"] is not None


def test_probe_batch6_louds():
    for sql, frag in [
        ("SELECT xxHash64(s) FROM t", "xxHash"),
        ("SELECT rowNumberInBlock() FROM t", "row_number"),
        ("SELECT hostName()", "server"),
        ("SELECT toTimezone(ts, 'UTC') FROM t", "timezone"),
        ("SELECT base58Encode(s) FROM t", "base64"),
        ("SELECT bitmapBuild([1, 2])", "collect_set"),
        ("SELECT UUIDStringToNum(u) FROM t", "16-byte"),
        ("SELECT toDecimal256(x, 10) FROM t", "38 digits"),
        ("SELECT sumResample(0, 10, 1)(x, k) FROM t", "Resample"),
        ("SELECT arrayRandomSample(a, 2) FROM t", "RNG"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(sql)


def test_probe_batch7_json_and_dates(spark, sf_dir):
    """Round-7 probe batch 7: simpleJSON aliases, JSONHas/UInt,
    toJSONString/isValidJSON, Modified Julian Day, symmetric diff."""
    got = run_sql(
        spark,
        "SELECT JSONHas('{\"a\": 1}', 'a') AS jh1, "
        "JSONHas('{\"a\": 1}', 'b') AS jh0, "
        "simpleJSONHas('{\"a\": 1}', 'a') AS sh, "
        "simpleJSONExtractString('{\"a\": \"x\"}', 'a') AS ss, "
        "JSONExtractUInt('{\"a\": 12}', 'a') AS ju, "
        "toJSONString(map('a', 1)) AS js, "
        "isValidJSON('{\"a\": 1}') AS v1, "
        "isValidJSON('{bad') AS v0, "
        "isValidJSON('null') AS vn, "
        "toModifiedJulianDay('2020-01-01') AS mjd, "
        "CAST(fromModifiedJulianDay(58849) AS STRING) AS mjr, "
        "arraySymmetricDifference([1, 2], [2, 3]) AS sd",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["jh1"] is True and got["jh0"] is False and got["sh"] is True
    assert got["ss"] == "x" and got["ju"] == 12
    assert got["js"] == '{"a":1}'
    assert got["v1"] is True and got["v0"] is False and got["vn"] is True
    assert got["mjd"] == 58849 and got["mjr"] == "2020-01-01"
    assert got["sd"] == [1, 3]


def test_probe_batch7_star_except_passthrough(spark, sf_dir):
    """ClickHouse's * EXCEPT (col) is valid Spark 3.4+ star syntax —
    it must pass through and run."""
    row = run_sql(
        spark,
        "SELECT * EXCEPT (props, ts) FROM events LIMIT 1",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert "props" not in row.asDict() and "ts" not in row.asDict()
    assert "event_id" in row.asDict()


def test_probe_batch7_louds():
    for sql, frag in [
        ("SELECT * APPLY (sum) FROM t", "schema"),
        ("SELECT * REPLACE (x + 1 AS x) FROM t", "EXCEPT"),
        ("SELECT COLUMNS('^c') FROM t", "regex"),
        ("SELECT JSONType(j, 'k') FROM t", "introspection"),
        ("SELECT JSONExtractArrayRaw(j, 'k') FROM t", "introspection"),
        ("SELECT JSONHas(j, 'a', 1, 'b') FROM t", "nested path"),
        ("SELECT stem('en', 'running')", "NLP"),
        ("SELECT detectLanguage(s) FROM t", "langid_predict"),
        ("SELECT jaroWinklerSimilarity(a, b) FROM t", "fuzzy"),
        ("SELECT byteHammingDistance(a, b) FROM t", "levenshtein"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(sql)


def test_probe_batch8_multi_array_hofs(spark, sf_dir):
    """Multi-array higher-order forms: the old 1-array emission bound
    the second lambda parameter to Spark's element INDEX (silent
    wrong results) — now zip_with-based and value-checked."""
    got = run_sql(
        spark,
        "SELECT arrayMap((x, y) -> x + y, [1, 2], [10, 20]) AS am, "
        "arrayFilter((x, y) -> x > y, [1, 5, 2], [2, 3, 9]) AS af, "
        "arrayExists((x, y) -> x > y, [1, 2], [2, 1]) AS ae, "
        "arrayAll((x, y) -> x >= y, [2, 3], [2, 1]) AS aa, "
        "arrayCount((x, y) -> x = y, [1, 2, 3], [1, 9, 3]) AS ac, "
        "arrayFirst((x, y) -> y > 1, [7, 8, 9], [0, 2, 3]) AS afi, "
        "arrayLast((x, y) -> y > 1, [7, 8, 9], [0, 2, 3]) AS al, "
        "arrayFirstIndex((x, y) -> y > 1, [7, 8, 9], [0, 2, 3]) AS ax",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["am"] == [11, 22]
    assert got["af"] == [5]
    assert got["ae"] is True and got["aa"] is True
    assert got["ac"] == 2
    assert (got["afi"], got["al"], got["ax"]) == (8, 9, 2)
    with pytest.raises(ValueError, match="3\\+ arrays"):
        translate("SELECT arrayMap((x,y,z) -> x, [1], [2], [3])")


def test_probe_batch8_brackets_and_subscripts(spark, sf_dir):
    """ClickHouse [..] array literals become array(..); integer
    subscripts become element_at (ClickHouse is 1-BASED and supports
    negative indices — Spark's [] is 0-based, the silent off-by-one
    these rewrites kill). String literals and string-key map access
    pass through."""
    got = run_sql(
        spark,
        "SELECT [1, 2, 3] AS lit, [[1], [2]] AS nested, "
        "['a,b', 'c'] AS strs, '[keep]' AS s, "
        "element_at([10, 20, 30], 1) AS ea",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert list(got["lit"]) == [1, 2, 3]
    assert [list(x) for x in got["nested"]] == [[1], [2]]
    assert list(got["strs"]) == ["a,b", "c"]
    assert got["s"] == "[keep]" and got["ea"] == 10
    # 1-based and negative subscripts on a real column
    rows = run_sql(
        spark,
        "SELECT toks[1] AS first, toks[-1] AS last, toks AS all "
        "FROM (SELECT splitByChar(' ', 'a b c') AS toks)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert rows["first"] == "a" and rows["last"] == "c"
    assert list(rows["all"]) == ["a", "b", "c"]


def test_probe_batch8_scalars(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT plus(1, 2) AS pl, minus(1, 2) AS mi, "
        "multiply(2, 3) AS mu, divide(7, 2) AS dv, negate(5) AS ng, "
        "splitByRegexp('\\\\d', 'a1b2c') AS sr, "
        "arrayWithConstant(3, 'x') AS awc, "
        "widthBucket(5.0, 0.0, 10.0, 5) AS wb, "
        "hasSubstr([1, 2, 3, 4], [2, 3]) AS hs1, "
        "hasSubstr([1, 2, 3, 4], [2, 4]) AS hs0, "
        "hasSubstr([1, 2], []) AS hse, "
        "quantilesGK(100, 0.25, 0.75)(event_id) AS qgk "
        "FROM events",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["pl"], got["mi"], got["mu"], got["ng"]) == (3, -1, 6, -5)
    assert got["dv"] == 3.5
    assert list(got["sr"]) == ["a", "b", "c"]
    assert list(got["awc"]) == ["x", "x", "x"]
    assert got["wb"] == 3
    assert got["hs1"] is True and got["hs0"] is False and got["hse"] is True
    assert len(got["qgk"]) == 2


def test_probe_batch9_date_arith_and_pads(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT dateAdd(toDateTime('2024-01-01 00:00:00'), INTERVAL 3 DAY)"
        " AS da2, "
        "dateSub(MONTH, 1, toDateTime('2024-03-15 00:00:00')) AS ds3, "
        "addDate(toDateTime('2024-01-01 00:00:00'), INTERVAL 2 HOUR)"
        " AS ad, "
        "subDate(toDateTime('2024-01-01 00:00:00'), INTERVAL 2 HOUR)"
        " AS sd, "
        "timestampSub(MINUTE, 30, toDateTime('2024-01-01 01:00:00'))"
        " AS tss, "
        "toTime(toDateTime('2024-03-15 07:08:09')) AS tt, "
        "leftPadUTF8('x', 4, '*') AS lp, rightPadUTF8('x', 3, '*') AS rp",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert str(got["da2"]) == "2024-01-04 00:00:00"
    assert str(got["ds3"]) == "2024-02-15 00:00:00"
    assert str(got["ad"]) == "2024-01-01 02:00:00"
    assert str(got["sd"]) == "2023-12-31 22:00:00"
    assert str(got["tss"]) == "2024-01-01 00:30:00"
    # ClickHouse toTime anchors the date part at 1970-01-02 by contract
    assert str(got["tt"]) == "1970-01-02 07:08:09"
    assert got["lp"] == "***x" and got["rp"] == "x**"


def test_probe_batch9_logic_fns_and_cumsum(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT and(true, true, false) AS a3, or(false, false, true)"
        " AS o3, xor(true, false) AS x2, xor(true, true, true) AS x3, "
        "xor(true, NULL) AS xn, "
        "arrayCumSumNonNegative([1, 1, -4, 1]) AS nn, "
        "arrayCumSum([1, 1, -4, 1]) AS cs",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a3"] is False and got["o3"] is True
    assert got["x2"] is True and got["x3"] is True and got["xn"] is None
    assert list(got["nn"]) == [1.0, 2.0, 0.0, 1.0]
    assert list(got["cs"]) == [1.0, 2.0, -2.0, -1.0]


def test_probe_batch9_keyword_and_or_untouched(spark, sf_dir):
    """The and()/or() function rewrites must NOT disturb ordinary
    keyword usage followed by a parenthesized expression — and the
    translation must stay a fixpoint either way."""
    from clickhouse_batcher_spark.plans.chsql import translate

    for q in (
        "SELECT 1 AS r WHERE true AND (1 > 0)",
        "SELECT 1 AS r WHERE (true) and ((1 > 0))",
        "SELECT CASE WHEN true OR (false) THEN 1 ELSE 0 END AS r",
    ):
        t = translate(q)
        assert translate(t) == t
        assert spark.sql(t).collect()[0]["r"] == 1


def test_probe_batch10_week_start_and_subsecond(spark, sf_dir):
    got = run_sql(
        spark,
        # 2024-03-15 is a Friday: CH default mode 0 = Sunday start
        "SELECT toStartOfWeek(toDateTime('2024-03-15 07:08:09')) AS w0, "
        "toStartOfWeek(toDateTime('2024-03-10 01:00:00')) AS w0s, "
        "toStartOfWeek(toDateTime('2024-03-15 07:08:09'), 1) AS w1, "
        "toStartOfMillisecond(toDateTime('2024-01-01 00:00:00')) AS ms, "
        "toUnixTimestamp64Milli(toDateTime('1970-01-01 00:00:01')) AS um, "
        "fromUnixTimestamp64Milli(1500) AS fm",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert str(got["w0"]) == "2024-03-10"    # back to Sunday
    assert str(got["w0s"]) == "2024-03-10"   # Sunday stays
    assert str(got["w1"]) == "2024-03-11"    # ISO Monday mode
    assert str(got["ms"]) == "2024-01-01 00:00:00"
    assert got["um"] == 1000
    assert str(got["fm"]) == "1970-01-01 00:00:01.500000"


def test_probe_batch10_week_mode_2_is_loud():
    import pytest as _pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    with _pytest.raises(ValueError, match="toStartOfWeek"):
        translate("SELECT toStartOfWeek(ts, 2) FROM t")


def test_probe_batch10_bits_arrays_maps(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT bitTestAll(5, 0, 2) AS ba1, bitTestAll(5, 0, 1) AS ba0, "
        "bitTestAny(5, 1, 3) AS bn0, bitTestAny(5, 1, 2) AS bn1, "
        "emptyArrayInt64() AS ea, "
        "arrayShingles([1, 2, 3, 4], 3) AS sh, "
        "arrayShingles([1, 2], 5) AS she, "
        "mapAdd(map('a', 1, 'b', 2), map('b', 3, 'c', 4)) AS ma, "
        "mapSubtract(map('a', 2), map('a', 2, 'b', 1)) AS ms, "
        "isZeroOrNull(0) AS z1, isZeroOrNull(NULL) AS z2, "
        "isZeroOrNull(3) AS z0, "
        "regexpExtract('a12b', '(\\\\d+)', 1) AS re, "
        "accurateCast('42', 'UInt32') AS ac, "
        "timeSlots(toDateTime('2024-01-01 00:10:00'), 600, 300) AS tsl",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["ba1"], got["ba0"], got["bn0"], got["bn1"]) == (1, 0, 0, 1)
    assert list(got["ea"]) == []
    assert [list(x) for x in got["sh"]] == [[1, 2, 3], [2, 3, 4]]
    assert list(got["she"]) == []
    assert dict(got["ma"]) == {"a": 1, "b": 5, "c": 4}
    # zero-valued keys are KEPT (mapSubtract doc example) — only
    # sumMap drops zeros
    assert dict(got["ms"]) == {"a": 0, "b": -1}
    assert (got["z1"], got["z2"], got["z0"]) == (True, True, False)
    assert got["re"] == "12" and got["ac"] == 42
    assert len(got["tsl"]) == 3  # 00:10, 00:15, 00:20


def test_probe_batch10_louds():
    import pytest as _pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    for q, frag in (
        ("SELECT ngramDistance(a, b) FROM t", "ngramDistance"),
        # arrayFill/arrayReverseFill left this list in round 13:
        # translated as the carry fold (test_array_fill_values); the
        # split pair and multi-array conditions are still loud:
        ("SELECT arraySplit(x -> x > 0, a) FROM t", "arraySplit"),
        ("SELECT arrayFill((x, y) -> x > y, a, b) FROM t", "zip"),
        ("SELECT groupArrayInsertAt(x, i) FROM t", "groupArrayInsertAt"),
        ("SELECT proportionsZTest(1, 2, 3, 4, 0.9, 'u')", "z-test"),
        # corrMatrix left this list in round 13: translated as the
        # pairwise-corr nested array (test_matrix_aggregates).
        ("SELECT byteSize(x) FROM t", "introspection"),
        ("SELECT bitSlice(s, 1, 4) FROM t", "bitSlice"),
        ("SELECT kostikConsistentHash(x, 4) FROM t", "kostik"),
        ("SELECT toStartOfNanosecond(ts) FROM t", "Nanosecond"),
    ):
        with _pytest.raises(ValueError, match=frag):
            translate(q)


def test_probe_batch11_qualify_and_limit_offset(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id)"
        " AS rn FROM (SELECT user_id, count() AS n FROM events GROUP BY"
        " user_id) QUALIFY rn <= 3 ORDER BY rn",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    assert [r["rn"] for r in got] == [1, 2, 3]
    assert got[0]["n"] >= got[1]["n"] >= got[2]["n"]
    lim = run_sql(
        spark,
        "SELECT user_id FROM (SELECT DISTINCT user_id FROM events)"
        " ORDER BY user_id LIMIT 2, 3",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    assert [r["user_id"] for r in lim] == [2, 3, 4]  # offset 2, count 3


def test_probe_batch11_louds():
    import pytest as _pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    for q, frag in (
        (
            "SELECT x FROM t QUALIFY row_number() OVER (ORDER BY x) = 1",
            "QUALIFY with an inline window",
        ),
        ("SELECT * FROM t INTO OUTFILE 'o.csv'", "INTO OUTFILE"),
        ("SELECT 1 FROM a PASTE JOIN b", "PASTE JOIN"),
    ):
        with _pytest.raises(ValueError, match=frag):
            translate(q)


def test_probe_batch12_multisearch_and_stable(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT multiSearchFirstPosition('hello world', ['wor', 'ell'])"
        " AS p1, "
        "multiSearchFirstPosition('hello', ['xx']) AS p0, "
        # leftmost OCCURRENCE wins, not needle order
        "multiSearchFirstIndex('hello world', ['wor', 'ell']) AS i2, "
        "multiSearchFirstIndex('hello world', ['zzz', 'wor']) AS iz, "
        "multiSearchFirstIndex('hello', ['a']) AS i0, "
        "countMatchesCaseInsensitive('aAaA', 'a') AS cm, "
        "sumWithOverflow(n) AS so, corrStable(n, n) AS cs "
        "FROM (SELECT CAST(1 AS BIGINT) AS n UNION ALL SELECT 2)",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert (got["p1"], got["p0"]) == (2, 0)
    assert (got["i2"], got["iz"], got["i0"]) == (2, 2, 0)
    assert got["cm"] == 4 and got["so"] == 3
    assert abs(got["cs"] - 1.0) < 1e-9


def test_probe_batch12_louds():
    import pytest as _pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    for q, frag in (
        ("SELECT cramersV(a, b) FROM t", "first-class"),
        ("SELECT rankCorr(a, b) FROM t", "events_rank_corr"),
        (
            "SELECT nonNegativeDerivative(v, ts) OVER (ORDER BY ts) FROM t",
            "nonNegativeDerivative",
        ),
        ("SELECT categoricalInformationValue(a, l) FROM t",
         "props_information_value"),
        ("SELECT stochasticLinearRegression(x, y) FROM t", "SGD"),
        ("SELECT maxMappedArrays(k, v) FROM t", "MappedArrays"),
        ("SELECT multiFuzzyMatchAny(s, 2, ['ab']) FROM t", "hyperscan"),
        ("SELECT toFixedString(s, 8) FROM t", "FixedString"),
        ("SELECT reinterpretAsUInt32(s) FROM t", "reinterpret"),
        ("SELECT getSetting('max_threads')", "introspection"),
    ):
        with _pytest.raises(ValueError, match=frag):
            translate(q)


def test_logic_fn_keyword_tuple_in_untouched(spark, sf_dir):
    """Regression: 'x AND (a, b) IN (...)' is the AND keyword followed
    by a TUPLE — the variadic and()/or() rewrite must not consume the
    conjunction (it did when the only guard was the argument count)."""
    from clickhouse_batcher_spark.plans.chsql import translate

    q = (
        "SELECT count() AS r FROM events WHERE user_id >= 0"
        " AND (user_id, event_type) IN ((CAST(1 AS BIGINT), 'click'))"
    )
    t = translate(q)
    assert "AND (user_id, event_type) IN" in t
    assert translate(t) == t
    got = run_sql(spark, q, sf_dir, dialect="clickhouse").collect()[0]["r"]
    direct = spark.sql(
        f"SELECT count(*) AS r FROM parquet.`{sf_dir}/events.parquet`"
        " WHERE user_id = 1 AND event_type = 'click'"
    ).collect()[0]["r"]
    assert got == direct and got > 0


def test_to_start_of_week_tz_is_loud():
    import pytest as _pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    with _pytest.raises(ValueError, match="timezone"):
        translate("SELECT toStartOfWeek(ts, 0, 'Asia/Tokyo') FROM t")


def test_timeslots_expression_size(spark, sf_dir):
    """Regression: a non-atomic slot-size expression must bind as one
    operand of DIV/* (it was interpolated unparenthesized)."""
    got = run_sql(
        spark,
        "SELECT timeSlots(toDateTime('2024-01-01 00:10:00'), 600,"
        " 200 + 100) AS r",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]["r"]
    assert [str(x) for x in got] == [
        "2024-01-01 00:10:00",
        "2024-01-01 00:15:00",
        "2024-01-01 00:20:00",
    ]


def test_probe_batch13_strings_and_vectors(spark, sf_dir):
    got = run_sql(
        spark,
        "SELECT splitByWhitespace('a  b c') AS sw, "
        "ngrams('abcd', 3) AS ng, ngrams('ab', 5) AS nge, "
        "initcapUTF8('hello world') AS ic, "
        "round(L2SquaredDistance(array(1.0, 2.0), array(4.0, 6.0)), 6)"
        " AS l2s",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert list(got["sw"]) == ["a", "b", "c"]
    assert list(got["ng"]) == ["abc", "bcd"] and list(got["nge"]) == []
    assert got["ic"] == "Hello World"
    assert got["l2s"] == 25.0


def test_probe_batch13_louds():
    import pytest as _pytest

    from clickhouse_batcher_spark.plans.chsql import translate

    for q, frag in (
        ("SELECT tokens(s) FROM t", "tokenizer"),
        ("SELECT splitByNonAlpha(s) FROM t", "tokenizer"),
        ("SELECT geoToH3(a, b, 9) FROM t", "geo family"),
        ("SELECT h3ToGeo(h) FROM t", "geo family"),
        ("SELECT normalizeUTF8NFC(s) FROM t", "normalization"),
        ("SELECT toValidUTF8(s) FROM t", "toValidUTF8"),
        ("SELECT punycodeEncode(s) FROM t", "punycode"),
        ("SELECT generateULID() FROM t", "reproducible"),
        ("SELECT normalizeQuery(s) FROM t", "fingerprinting"),
    ):
        with _pytest.raises(ValueError, match=frag):
            translate(q)


def test_funnel_windowed_matches_fold_on_fixture(spark, sf_dir):
    """funnel_windowed=True (RANGE-window cascade, VERDICT r7 task 5)
    must agree with the exact fold on the hand-computed fixture —
    including u4's equal-timestamp chain (default mode allows ties)
    and u5's no-anchor 0."""
    q = (
        "SELECT user_id, windowFunnel(3600)(ts, et = 'A', et = 'B', "
        f"et = 'C') AS lvl FROM ({_SEQ_FIXTURE}) GROUP BY user_id"
    )
    fold = {
        r["user_id"]: r["lvl"]
        for r in run_sql(spark, q, sf_dir, dialect="clickhouse").collect()
    }
    windowed = {
        r["user_id"]: r["lvl"]
        for r in run_sql(
            spark, q, sf_dir, dialect="clickhouse", funnel_windowed=True
        ).collect()
    }
    assert windowed == fold == {
        "u1": 3, "u2": 1, "u3": 1, "u4": 2, "u5": 0,
    }
    # and the rewrite really did take the windowed path
    from clickhouse_batcher_spark.plans.chsql import translate

    t = translate(q, funnel_windowed=True)
    assert "RANGE BETWEEN CURRENT ROW" in t and "collect_list" not in t
    assert translate(t, funnel_windowed=True) == t  # fixpoint


def test_funnel_windowed_random_groups_match_fold(spark, sf_dir):
    """Default-mode equivalence proof, checked empirically: 60 seeded
    random groups, cascade vs fold — the fold already matches an
    exhaustive chain search (test_window_funnel_random_groups_match_
    reference), so agreement here closes cascade == exhaustive too."""
    import random

    rng = random.Random(20260815)
    rows = []
    for g in range(60):
        for _ in range(rng.randint(0, 14)):
            rows.append((g, rng.randint(0, 150), rng.randint(1, 4)))
    df = spark.createDataFrame(rows or [(0, 0, 0)], "g INT, t INT, lvl INT")
    df.createOrReplaceTempView("__wfw_rand")
    q = (
        "SELECT g, windowFunnel(40)("
        "CAST(timestamp_seconds(t) AS TIMESTAMP), "
        "lvl = 1, lvl = 2, lvl = 3, lvl = 4) AS lvl "
        "FROM __wfw_rand GROUP BY g"
    )
    fold = {r["g"]: r["lvl"] for r in spark.sql(translate(q)).collect()}
    win = {
        r["g"]: r["lvl"]
        for r in spark.sql(translate(q, funnel_windowed=True)).collect()
    }
    assert win == fold


def test_funnel_windowed_skewed_group_and_where(spark, sf_dir):
    """The scale motivation: one user owning most of the events (the
    fold would collect its whole history on one task). Same answers
    from both forms, WHERE and a subquery source handled (the source's
    own WHERE must not confuse the clause split), strict_increase
    supported."""
    import random

    rng = random.Random(8)
    rows = [("whale", t, rng.randint(1, 3)) for t in
            rng.sample(range(100000), 3000)]
    rows += [(f"u{i}", rng.randint(0, 100000), rng.randint(1, 3))
             for i in range(50) for _ in range(rng.randint(1, 4))]
    spark.createDataFrame(
        rows, "uid STRING, t INT, lvl INT"
    ).createOrReplaceTempView("__wfw_skew")
    q = (
        "SELECT uid, windowFunnel(600, 'strict_increase')("
        "CAST(timestamp_seconds(t) AS TIMESTAMP), "
        "lvl = 1, lvl = 2, lvl = 3) AS lvl "
        "FROM (SELECT * FROM __wfw_skew WHERE lvl >= 1) "
        "WHERE t >= 0 GROUP BY uid"
    )
    fold = {r["uid"]: r["lvl"] for r in spark.sql(translate(q)).collect()}
    win = {
        r["uid"]: r["lvl"]
        for r in spark.sql(translate(q, funnel_windowed=True)).collect()
    }
    # strict_increase: the cascade's per-anchor earliest-successor
    # chain can only ever EXCEED the fold's greedy state (documented
    # corner: CH's unconditional state overwrite). Equality holds on
    # non-adversarial data; never below.
    assert set(win) == set(fold)
    for u in fold:
        assert win[u] >= fold[u], (u, win[u], fold[u])
    assert sum(1 for u in fold if win[u] != fold[u]) == 0


def test_funnel_windowed_loud_shapes():
    from clickhouse_batcher_spark.plans.chsql import translate

    for q, frag in (
        ("SELECT windowFunnel(60)(ts, a, b) AS l, "
         "windowFunnel(60)(ts, b, a) AS l2 FROM t GROUP BY g",
         "exactly one"),
        ("SELECT g, windowFunnel(60)(ts, a, b) AS l FROM t "
         "GROUP BY g HAVING l > 1", "HAVING"),
        ("SELECT g, count() AS n, windowFunnel(60)(ts, a, b) AS l "
         "FROM t GROUP BY g", "select item"),
        ("SELECT windowFunnel(60)(ts, a, b) AS l FROM t", "shape"),
        ("SELECT g, windowFunnel(60)(ts, a, b) FROM t GROUP BY g",
         "aliased"),
        ("SELECT g + 1, windowFunnel(60)(ts, a, b) AS l FROM t "
         "GROUP BY g + 1", "plain-column"),
    ):
        with pytest.raises(ValueError, match=frag):
            translate(q, funnel_windowed=True)
    # no windowFunnel at all: the flag is a no-op
    assert translate(
        "SELECT count() AS n FROM t", funnel_windowed=True
    ) == translate("SELECT count() AS n FROM t")


def test_differential_corpus_spark_side(spark, sf_dir):
    """The differential corpus (tests/test_chsql_differential.py)
    compares against real ClickHouse only when a docker server is up —
    but its SPARK side must hold in plain CI: every entry translates
    (or is legitimately pure ANSI) and executes. A corpus entry that
    stops translating or emits unparseable SQL breaks here, server or
    not."""
    from tests.test_chsql_differential import DIFFERENTIAL_CORPUS

    assert len(DIFFERENTIAL_CORPUS) >= 50
    for sql in DIFFERENTIAL_CORPUS:
        translated = translate(sql)
        assert translate(translated) == translated, sql  # fixpoint
        rows = spark.sql(translated).collect()
        assert rows, f"no rows from {sql!r}"


def test_funnel_windowed_plan_shape(spark, sf_dir):
    """The scale hint must emit a scale-shaped plan: no cartesian
    product, no broadcast nested loop — successor maps join on keys."""
    q = (
        "SELECT user_id, windowFunnel(21600)(ts, event_type = 'view', "
        "event_type = 'click', event_type = 'purchase') AS lvl "
        "FROM events GROUP BY user_id"
    )
    df = run_sql(spark, q, sf_dir, dialect="clickhouse",
                 funnel_windowed=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_probe_list_translations_are_fixpoints():
    """Systematic fixpoint sweep (round 8): for EVERY probe in the
    no-silent-pass-through list that translates, a second translate()
    over the output must be byte-identical. The differential corpus
    found three violations (digest re-wrap, range-TVF re-consumption,
    2-arg datediff); this closes the class over the whole probe list
    (rand()'s range-map was the fourth, caught by this very test)."""
    for q in _CH_ONLY_PROBES:
        try:
            t = translate(q)
        except ValueError:
            continue  # loud-by-design probes have no output to check
        assert translate(t) == t, f"not a fixpoint: {q!r}\n  -> {t!r}"


def test_differential_harness_machinery():
    """The docker-gated differential harness must not bit-rot while no
    server is around: drive _ch_rows against a stdlib fake serving
    canned ClickHouse JSONCompact, and pin _norm's engine-neutral
    forms (bool->int, datetime/date strings, float rounding, nested
    lists, Decimal)."""
    import datetime
    import decimal
    import http.server
    import json as _json
    import threading

    import tests.test_chsql_differential as diff

    captured = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            captured["sql"] = self.rfile.read(n).decode()
            captured["path"] = self.path
            body = _json.dumps(
                {"data": [[1, "2024-03-10", [1, 2]], [0, None, []]]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    old = diff.CH_URL
    try:
        diff.CH_URL = f"http://127.0.0.1:{srv.server_address[1]}"
        rows = diff._ch_rows("SELECT 1")
    finally:
        diff.CH_URL = old
        srv.shutdown()
    assert rows == [[1, "2024-03-10", [1, 2]], [0, None, []]]
    assert captured["sql"] == "SELECT 1"
    # the two settings the harness depends on must be in the URL
    assert "default_format=JSONCompact" in captured["path"]
    assert "output_format_json_quote_64bit_integers=0" in captured["path"]

    n = diff._norm
    assert n(True) == 1 and n(False) == 0
    assert n(datetime.datetime(2024, 3, 15, 7, 8, 9)) == "2024-03-15 07:08:09"
    assert n(datetime.date(2024, 3, 10)) == "2024-03-10"
    assert n(decimal.Decimal("1.5")) == 1.5
    assert n(0.1 + 0.2) == round(0.30000000000000004, 9) == 0.3
    assert n(float("nan")) == "nan"
    assert n([True, [datetime.date(2024, 1, 1)]]) == [1, ["2024-01-01"]]
    assert n("2024-01-01 00:00:01.000000") == "2024-01-01 00:00:01"


def test_cast_as_form_ch_type_names(spark, sf_dir):
    """CAST(x AS Int64) — the AS form with ClickHouse type names —
    maps through the same table as the fn-form CAST(x, 'Int64')
    (round-8 differential-corpus find: it previously reached Spark's
    parser verbatim). Spark's own names and unknown/parameterized
    types pass through untouched."""
    got = run_sql(
        spark,
        "SELECT CAST(1 AS Int64) AS a, CAST(2.9 AS UInt8) AS b, "
        "CAST('1.5' AS Float64) AS c, CAST(7 AS String) AS d, "
        "CAST(1 AS Nullable(Int64)) AS e, CAST(3 AS BIGINT) AS f",
        sf_dir,
        dialect="clickhouse",
    ).collect()[0]
    assert got["a"] == 1 and isinstance(got["a"], int)
    assert got["b"] == 2  # integer cast truncates on both engines
    assert got["c"] == 1.5 and got["d"] == "7"
    assert got["e"] == 1 and got["f"] == 3
    assert translate("SELECT CAST(x AS DOUBLE) FROM t") == (
        "SELECT CAST(x AS DOUBLE) FROM t"
    )


# --- round-12 promotions: scalar -State/-Merge and boundingRatio ----


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT sumState(x) FROM t", "SELECT sum(x) FROM t"),
        ("SELECT sumMerge(s) FROM t", "SELECT sum(s) FROM t"),
        ("SELECT minState(x) FROM t", "SELECT min(x) FROM t"),
        ("SELECT maxMerge(mx) FROM t", "SELECT max(mx) FROM t"),
        ("SELECT countState() FROM t", "SELECT count(*) FROM t"),
        ("SELECT countState(x) FROM t", "SELECT count(x) FROM t"),
        (
            "SELECT countMerge(c) FROM t",
            "SELECT CAST(sum(c) AS BIGINT) FROM t",
        ),
        (
            "SELECT avgState(x) FROM t",
            "SELECT named_struct('s', sum(x), 'c', count(x)) FROM t",
        ),
        (
            "SELECT avgMerge(av) FROM t",
            "SELECT (CAST(sum((av).s) AS DOUBLE) / "
            "CAST(sum((av).c) AS DOUBLE)) FROM t",
        ),
        (
            "SELECT boundingRatio(x, y) FROM t",
            "SELECT ((max_by(y, x) - min_by(y, x)) / "
            "(max(x) - min(x))) FROM t",
        ),
    ],
)
def test_scalar_state_merge_translations(ch, expected):
    """The round-12 promotions: scalar partial-aggregate states are
    portable algebra, so the -State/-Merge pairs translate exactly;
    boundingRatio lowers to its closed form (the hint its loud error
    used to give)."""
    assert translate(ch) == expected


@pytest.mark.parametrize(
    "ch",
    [
        "SELECT uniqState(x) FROM t",
        "SELECT uniqMerge(u) FROM t",
        "SELECT quantileState(0.5)(x) FROM t",
        "SELECT groupUniqArrayState(x) FROM t",
        "SELECT topKMerge(t) FROM t",
        "SELECT sumSimpleState(x) FROM t",  # SimpleState stays loud
    ],
)
def test_sketch_states_stay_loud(ch):
    """Only the SCALAR pairs are promoted: sketch-backed states keep
    engine-internal binary formats and must still fail loudly."""
    with pytest.raises(ValueError, match="no Spark translation"):
        translate(ch)


def test_state_merge_two_level_equals_direct(spark, sf_dir):
    """The AggregatingMergeTree idiom end-to-end: folding per-user
    partial states per day must equal the direct one-level aggregate
    — the algebraic contract the promotion rests on."""
    two_level = run_sql(
        spark,
        """
        SELECT day, toFloat64(sumMerge(s)) AS total,
               countMerge(c) AS n, avgMerge(av) AS mean
        FROM (
          SELECT toStartOfDay(ts) AS day, user_id,
                 sumState(toDecimal64(value, 2)) AS s,
                 countState() AS c,
                 avgState(toDecimal64(value, 2)) AS av
          FROM events GROUP BY day, user_id
        ) GROUP BY day
        """,
        sf_dir,
        dialect="clickhouse",
    )
    direct = run_sql(
        spark,
        """
        SELECT toStartOfDay(ts) AS day,
               toFloat64(sum(toDecimal64(value, 2))) AS total,
               count() AS n,
               CAST(sum(toDecimal64(value, 2)) AS Float64)
                 / CAST(count() AS Float64) AS mean
        FROM events GROUP BY day
        """,
        sf_dir,
        dialect="clickhouse",
    )
    a = {r["day"]: (r["total"], r["n"], r["mean"]) for r in two_level.collect()}
    b = {r["day"]: (r["total"], r["n"], r["mean"]) for r in direct.collect()}
    assert a == b and len(a) > 5


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "WITH 100 AS k SELECT value / k AS v FROM events",
            "SELECT value / (100) AS v FROM events",
        ),
        (
            "WITH 100 AS k, 0.15 AS rate SELECT value * rate AS v, "
            "k AS cap FROM events WHERE value > k",
            "SELECT value * (0.15) AS v, (100) AS cap FROM events "
            "WHERE value > (100)",
        ),
        (
            "WITH -5 AS lo SELECT count() FROM events WHERE value > lo",
            "SELECT count(*) FROM events WHERE value > (-5)",
        ),
        (
            # mixed list keeps the subquery-CTE item
            "WITH 3 AS k, t AS (SELECT user_id, count() AS n FROM "
            "events GROUP BY user_id) SELECT user_id FROM t WHERE n > k",
            "WITH t AS (SELECT user_id, count(*) AS n FROM events "
            "GROUP BY user_id) SELECT user_id FROM t WHERE n > (3)",
        ),
        (
            # the WITH alias takes precedence over an inner column of
            # the same name (ClickHouse's own resolution order); the
            # inner AS-definition is untouched
            "WITH 10 AS k SELECT k FROM (SELECT 1 AS k) x",
            "SELECT (10) FROM (SELECT 1 AS k) x",
        ),
        (
            # string literal, used inside a translated call
            "WITH '2024-01-01' AS d SELECT count() FROM events "
            "WHERE toDate(ts) >= toDate(d)",
            "SELECT count(*) FROM events WHERE CAST(ts AS DATE) >= "
            "CAST(('2024-01-01') AS DATE)",
        ),
    ],
)
def test_constant_with_inlining(ch, expected):
    """Round-12 promotion: the statement-leading ClickHouse scalar
    WITH inlines its literal at every alias use."""
    assert translate(ch) == expected


def test_constant_with_nested_scope_stays_loud():
    with pytest.raises(ValueError, match="nested scope"):
        translate("SELECT * FROM (WITH 5 AS k SELECT k) x")


def test_limit_by_offset_forms():
    """r13 promotion: both ClickHouse offset spellings translate to
    the rank range off+1..off+n; the historical single-bound text is
    byte-stable for the off=0 form."""
    base = "SELECT user_id, value FROM events ORDER BY value DESC "
    plain = translate(base + "LIMIT 3 BY user_id")
    assert "WHERE __limit_by_rn <= 3 ORDER BY" in plain
    comma = translate(base + "LIMIT 2, 3 BY user_id")
    kw = translate(base + "LIMIT 3 OFFSET 2 BY user_id")
    assert comma == kw
    assert "WHERE __limit_by_rn > 2 AND __limit_by_rn <= 5" in comma
    # determinism contract unchanged: no ORDER BY stays loud
    with pytest.raises(ValueError, match="nondeterministic"):
        translate("SELECT user_id FROM events LIMIT 2, 3 BY user_id")


def test_limit_by_offset_executes(spark, sf_dir):
    """Page 2 (offset form) == rows 4..6 of the unpaged per-group
    ranking, end-to-end through run_sql."""
    full = run_sql(
        spark,
        "SELECT event_type, user_id, count() AS n FROM events "
        "GROUP BY event_type, user_id "
        "ORDER BY n DESC, user_id LIMIT 6 BY event_type",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    paged = run_sql(
        spark,
        "SELECT event_type, user_id, count() AS n FROM events "
        "GROUP BY event_type, user_id "
        "ORDER BY n DESC, user_id LIMIT 3, 3 BY event_type",
        sf_dir,
        dialect="clickhouse",
    ).collect()
    per_group: dict = {}
    for r in full:
        per_group.setdefault(r["event_type"], []).append(
            (r["user_id"], r["n"])
        )
    want = {
        (t, u, n)
        for t, rows in per_group.items()
        for u, n in rows[3:6]
    }
    got = {(r["event_type"], r["user_id"], r["n"]) for r in paged}
    assert got == want and got


@pytest.mark.parametrize(
    "expr,want",
    [
        # mode 0 (default): Sunday-start, week 1 = first Sunday
        ("toWeek(toDate('2024-01-01'))", 0),  # Monday before first Sunday
        ("toWeek(toDate('2024-01-07'))", 1),  # the first Sunday
        ("toWeek(toDate('2023-01-01'))", 1),  # Jan 1 IS a Sunday
        ("toWeek(toDate('2024-12-31'))", 52),
        # mode 3 == ISO
        ("toWeek(toDate('2024-06-15'), 3)", 24),
        ("toWeek(toDate('2023-01-01'), 3)", 52),  # ISO: 2022-W52
        # toYearWeek mode 0: week-0 days belong to the PREVIOUS year
        # (the MySQL YEARWEEK docs' own example)
        ("toYearWeek(toDate('1987-01-01'))", 198652),
        ("toYearWeek(toDate('2024-01-07'))", 202401),
        ("toYearWeek(toDate('2023-01-01'))", 202301),
        # toYearWeek mode 3: year flips with the ISO week
        ("toYearWeek(toDate('2023-01-01'), 3)", 202252),
        ("toYearWeek(toDate('2024-06-15'), 3)", 202424),
    ],
)
def test_week_numbering_promotions(spark, expr, want):
    """r13 promotion: toWeek/toYearWeek modes 0 (ClickHouse default)
    and 3 (ISO), executed — values hand-checked against the MySQL
    WEEK/YEARWEEK tables ClickHouse documents itself against."""
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0]["r"]
    assert got == want, expr


def test_extract_groups_promotion(spark):
    """r13 promotion: extractGroups with a LITERAL pattern expands to
    one regexp_extract per statically counted capture group, with the
    RLIKE guard giving ClickHouse's empty array on no match."""
    t = translate(
        r"SELECT extractGroups(s, '(\\d+)-(\\w+)') AS g FROM t"
    )
    assert t.count("regexp_extract") == 2 and "RLIKE" in t
    # NB: '\\d' is the PORTABLE spelling — both ClickHouse and Spark
    # consume one backslash level in string literals ('\d' would reach
    # Spark's regex engine as plain 'd')
    got = spark.sql(
        translate(
            r"SELECT extractGroups('order-123-ABC', '(\\d+)-([A-Z]+)') "
            r"AS a, extractGroups('nope', '(\\d+)') AS b, "
            r"extractGroups('k=v', '(?:k)=(\\w+)') AS c"
        )
    ).collect()[0]
    assert got["a"] == ["123", "ABC"]
    assert got["b"] == []  # no match -> empty array, not ['']
    assert got["c"] == ["v"]  # (?:..) is not a capture group


def test_extract_groups_stays_loud_outside_scope():
    for bad, frag in [
        ("SELECT extractGroups(s, p) FROM t", "non-literal"),
        (r"SELECT extractGroups(s, '(?P<a>x)') FROM t", "NAMED"),
        ("SELECT extractGroups(s, 'abc') FROM t", "capture group"),
    ]:
        with pytest.raises(ValueError, match=frag):
            translate(bad)


def test_week_other_modes_and_tz_stay_loud():
    for bad in (
        "SELECT toWeek(toDate('2024-01-01'), 1)",
        "SELECT toWeek(toDate('2024-01-01'), 0, 'UTC')",
        "SELECT toYearWeek(toDate('2024-01-01'), 2)",
        "SELECT toYearWeek(toDate('2024-01-01'), 3, 'UTC')",
    ):
        with pytest.raises(ValueError):
            translate(bad)


def test_constant_with_use_inside_nested_scope_stays_loud():
    """r12 ADVICE (medium): an alias USE inside a nested SELECT scope
    could capture a same-named real column of the inner source (and
    ClickHouse's old/new analyzers resolve it differently) — loud, in
    both the kept-CTE-body and derived-table positions."""
    with pytest.raises(ValueError, match="nested SELECT scope"):
        translate(
            "WITH 10 AS k, t AS (SELECT k FROM src) SELECT * FROM t"
        )
    with pytest.raises(ValueError, match="nested SELECT scope"):
        translate(
            "WITH 10 AS k SELECT v FROM "
            "(SELECT value + k AS v FROM events) x"
        )
    # plain parenthesized expressions are the SAME scope: substitute
    assert translate(
        "WITH 2 AS k SELECT (value + k) * k AS v FROM events"
    ) == "SELECT (value + (2)) * (2) AS v FROM events"


@pytest.mark.parametrize(
    "ch,want",
    [
        ("SELECT gcd(12, 18) AS r", 6),
        ("SELECT gcd(0, 7) AS r", 7),
        ("SELECT gcd(0, 0) AS r", 0),
        ("SELECT gcd(-12, 18) AS r", 6),
        # consecutive Fibonacci numbers: the 64-bit worst case for
        # Euclid step count — proves the fixed 96-step fold suffices
        ("SELECT gcd(7540113804746346429, 4660046610375530309) AS r", 1),
        ("SELECT lcm(4, 6) AS r", 12),
        ("SELECT lcm(0, 5) AS r", 0),
        ("SELECT lcm(-4, 6) AS r", 12),
    ],
)
def test_gcd_lcm_values(spark, sf_dir, ch, want):
    """Round-12 promotion: gcd/lcm as a bounded-Euclid aggregate()
    fold — values pinned against DuckDB's builtins (same cases sit in
    the differential corpus)."""
    got = run_sql(spark, ch, sf_dir, dialect="clickhouse").collect()[0]["r"]
    assert got == want
    import duckdb

    assert duckdb.sql(ch.replace(" AS r", "")).fetchone()[0] == want


def test_gcd_lcm_randomized_against_math(spark, sf_dir):
    """100 seeded random int64 pairs (mixed signs, zeros, powers of
    two, near-64-bit magnitudes) through the translated gcd/lcm in ONE
    Spark query, checked against Python's math.gcd/lcm ground truth
    (abs convention on both sides — the convention the translation
    documents and DuckDB shares)."""
    import math
    import random

    rng = random.Random(12)
    pairs = [(0, 0), (0, 9), (9, 0), (1, 1), (-1, 1),
             (2**62, 2**31), (7540113804746346429, 4660046610375530309)]
    while len(pairs) < 100:
        mag = rng.choice([10, 10**6, 10**12, 2**60])
        a = rng.randint(-mag, mag)
        b = rng.randint(-mag, mag)
        pairs.append((a, b))
    # lcm can overflow int64 for huge co-prime pairs — keep the lcm
    # column only where the true lcm fits (the translation's contract
    # is ClickHouse/DuckDB overflow behavior, not arbitrary precision)
    sel = []
    want = []
    for i, (a, b) in enumerate(pairs):
        sel.append(f"gcd({a}, {b}) AS g{i}")
        want.append(("g" + str(i), math.gcd(a, b)))
        l = abs(a * b) // math.gcd(a, b) if a and b else 0
        if l < 2**63:
            sel.append(f"lcm({a}, {b}) AS l{i}")
            want.append(("l" + str(i), l))
    row = run_sql(
        spark, "SELECT " + ", ".join(sel), sf_dir, dialect="clickhouse"
    ).collect()[0]
    for col, expected in want:
        assert row[col] == expected, (col, row[col], expected)


@pytest.mark.parametrize(
    "name", ["k", "rate", "K2", "_x", "cap_y"],
)
def test_constant_with_substitution_boundaries(name):
    """The alias substitution must hit plain uses only: string
    literals, qualified references, AS-definition positions, and
    parameter markers keep the identifier."""
    ch = (
        f"WITH 7 AS {name} SELECT {name}, '{name}' AS s, "
        f"t.{name} AS q, value AS {name}2, count() AS {name} "
        f"FROM t WHERE value > {name}"
    )
    got = translate(ch)
    assert f"'{name}'" in got            # string literal untouched
    assert f"t.{name} AS q" in got       # qualified ref untouched
    assert f"AS {name}" in got           # output alias untouched
    assert f"value AS {name}2" in got    # longer identifier untouched
    assert got.startswith("SELECT (7), ")
    assert got.endswith("WHERE value > (7)")


@pytest.mark.parametrize(
    "expr,want",
    [
        # Microsoft's own PERCENTILE.INC documentation example
        ("quantileExactInclusive(0.3)", 1.9),
        # percentile_cont quartiles of {1,2,3,4}
        ("quantileExactInclusive(0.25)", 1.75),
        ("quantileExactInclusive(0.75)", 3.25),
        # PERCENTILE.EXC / R6: h = p*(n+1) = 1.25 -> 1 + 0.25*(2-1)
        ("quantileExactExclusive(0.25)", 1.25),
        ("quantileExactExclusive(0.5)", 2.5),
        # R6 end clamps: n < 1 -> min, n >= size -> max
        ("quantileExactExclusive(0.01)", 1.0),
        ("quantileExactExclusive(0.99)", 4.0),
    ],
)
def test_quantile_exact_inclusive_exclusive_values(spark, expr, want):
    """r13 promotion: the interpolating half of the exact-quantile
    family. quantileExactInclusive == PERCENTILE.INC == Spark's
    percentile() (Hyndman-Fan R7); quantileExactExclusive ==
    PERCENTILE.EXC (R6 closed form over the sorted group). Values
    pinned to the publicly documented Excel cases."""
    src = (
        "(SELECT 1.0 AS v UNION ALL SELECT 2.0 "
        "UNION ALL SELECT 3.0 UNION ALL SELECT 4.0)"
    )
    got = spark.sql(
        translate(f"SELECT {expr}(v) AS r FROM {src}")
    ).collect()[0]["r"]
    assert got == pytest.approx(want, abs=1e-12), expr


def test_quantile_exact_exclusive_microsoft_example(spark):
    """PERCENTILE.EXC({1,2,3,6,6,6,7,8,9}, 0.25) = 2.5 — the worked
    example in Microsoft's PERCENTILE.EXC documentation."""
    src = "(" + " UNION ALL ".join(
        f"SELECT {x}.0 AS v" for x in (1, 2, 3, 6, 6, 6, 7, 8, 9)
    ) + ")"
    got = spark.sql(
        translate(
            f"SELECT quantileExactExclusive(0.25)(v) AS r FROM {src}"
        )
    ).collect()[0]["r"]
    assert got == pytest.approx(2.5, abs=1e-12)


def test_quantiles_exact_inclusive_exclusive_plural(spark):
    """Plural forms: multi-level -> array (percentile's native array
    form for Inclusive, per-level R6 closed forms for Exclusive);
    a single level follows the family's scalar convention
    (quantiles(p)(x) emits the scalar too)."""
    src = (
        "(SELECT 1.0 AS v UNION ALL SELECT 2.0 "
        "UNION ALL SELECT 3.0 UNION ALL SELECT 4.0)"
    )
    got = spark.sql(
        translate(
            "SELECT quantilesExactInclusive(0.25, 0.75)(v) AS qi, "
            "quantilesExactExclusive(0.25, 0.5)(v) AS qe, "
            "quantilesExactExclusive(0.5)(v) AS qe1 "
            f"FROM {src}"
        )
    ).collect()[0]
    assert got["qi"] == pytest.approx([1.75, 3.25], abs=1e-12)
    assert got["qe"] == pytest.approx([1.25, 2.5], abs=1e-12)
    assert got["qe1"] == pytest.approx(2.5, abs=1e-12)


def test_quantile_exact_exclusive_null_handling(spark):
    """NULL arguments are skipped (ClickHouse skips NULL aggregate
    args); an all-NULL group yields NULL — the sibling translations'
    convention where ClickHouse's exact family errors on empty."""
    got = spark.sql(
        translate(
            "SELECT quantileExactExclusive(0.5)(v) AS r, "
            "quantileExactInclusive(0.5)(v) AS ri FROM "
            "(SELECT 1.0 AS v UNION ALL SELECT CAST(NULL AS DOUBLE) "
            "UNION ALL SELECT 3.0)"
        )
    ).collect()[0]
    assert got["r"] == pytest.approx(2.0, abs=1e-12)
    assert got["ri"] == pytest.approx(2.0, abs=1e-12)
    allnull = spark.sql(
        translate(
            "SELECT quantileExactExclusive(0.5)"
            "(CAST(NULL AS DOUBLE)) AS r FROM (SELECT 1 AS d)"
        )
    ).collect()[0]["r"]
    assert allnull is None


def test_quantile_exact_low_high_stay_loud():
    """Low/High pick exact elements under an index convention this
    translator cannot verify without a live server — loud, in both
    singular and (newly caught) plural spellings."""
    for bad in (
        "SELECT quantileExactLow(0.5)(x) FROM t",
        "SELECT quantileExactHigh(0.5)(x) FROM t",
        "SELECT quantilesExactLow(0.25, 0.75)(x) FROM t",
        "SELECT quantilesExactHigh(0.25, 0.75)(x) FROM t",
    ):
        with pytest.raises(ValueError, match="ELEMENTS"):
            translate(bad)


def test_matrix_aggregates(spark):
    """r13 promotion: corrMatrix/covarSampMatrix/covarPopMatrix as
    nested array literals of the pairwise streaming aggregates —
    values checked against DuckDB's independent corr/covar_samp/
    covar_pop implementations (round-9 float normalization, the
    differential corpus's discipline)."""
    import duckdb

    src = (
        "(SELECT 1.0 AS x, 2.0 AS y, 5.0 AS z UNION ALL "
        "SELECT 2.0, 4.0, 3.0 UNION ALL "
        "SELECT 3.0, 6.0, 4.0 UNION ALL SELECT 4.0, 8.0, 1.0)"
    )
    t = translate(
        f"SELECT corrMatrix(x, y, z) AS cm, "
        f"covarSampMatrix(x, z) AS cs, "
        f"covarPopMatrix(x, z) AS cp FROM {src}"
    )
    assert "array(array(corr(x, x)" in t
    got = spark.sql(t).collect()[0]

    def norm(m):
        return [[round(v, 9) for v in row] for row in m]

    def duck(fn, cols):
        rows = []
        for a in cols:
            row = []
            for b in cols:
                row.append(
                    duckdb.sql(
                        f"SELECT {fn}({a}, {b}) FROM {src}"
                    ).fetchone()[0]
                )
            rows.append(row)
        return norm(rows)

    assert norm(got["cm"]) == duck("corr", ["x", "y", "z"])
    assert norm(got["cs"]) == duck("covar_samp", ["x", "z"])
    assert norm(got["cp"]) == duck("covar_pop", ["x", "z"])
    # the perfectly linear pair pins the exact entries
    assert norm(got["cm"])[0][1] == 1.0
    assert norm(got["cp"])[0][0] == 1.25  # var_pop of 1..4


def test_entropy_values(spark):
    """r13 promotion: entropy(x) — Shannon entropy (bits) of the
    group's value distribution via the run-length fold over the
    sorted group. Checked against DuckDB's independent entropy()
    aggregate (same log2 definition) at the round-9 float
    normalization, plus the hand formula and edge conventions."""
    import math

    import duckdb

    src = (
        "(SELECT 'a' AS v UNION ALL SELECT 'a' UNION ALL "
        "SELECT 'b' UNION ALL SELECT 'c' UNION ALL SELECT 'c' "
        "UNION ALL SELECT 'c')"
    )
    got = spark.sql(
        translate(f"SELECT entropy(v) AS r FROM {src}")
    ).collect()[0]["r"]
    duck = duckdb.sql(f"SELECT entropy(v) FROM {src}").fetchone()[0]
    hand = -(
        2 / 6 * math.log2(2 / 6)
        + 1 / 6 * math.log2(1 / 6)
        + 3 / 6 * math.log2(3 / 6)
    )
    assert round(got, 9) == round(duck, 9) == round(hand, 9)
    # numeric column, larger group, uniform distribution -> 2 bits
    r3 = spark.sql(
        translate(
            "SELECT entropy(n % 4) AS r FROM "
            "(SELECT explode(sequence(1, 100)) AS n)"
        )
    ).collect()[0]["r"]
    assert round(r3, 9) == 2.0
    # single-run group is exactly 0; all-NULL group -> NULL;
    # NULL args skipped
    row = spark.sql(
        translate(
            "SELECT entropy(x) AS a, entropy(y) AS b, "
            "entropy(z) AS c FROM "
            "(SELECT 5 AS x, CAST(NULL AS DOUBLE) AS y, 1.0 AS z "
            "UNION ALL SELECT 5, NULL, NULL "
            "UNION ALL SELECT 5, NULL, 2.0)"
        )
    ).collect()[0]
    assert row["a"] == 0.0
    assert row["b"] is None
    assert round(row["c"], 9) == 1.0  # NULL skipped: two equal-p values


def test_entropy_multi_column_stays_loud():
    with pytest.raises(ValueError, match="tuple"):
        translate("SELECT entropy(a, b) FROM t")


def test_array_fill_values(spark):
    """r13 promotion: arrayFill/arrayReverseFill as carry folds.
    The first case IS the ClickHouse documentation's own example —
    its [12, NULL, NULL] -> [12, 12, 12] run pins that consecutive
    gaps carry the ALREADY-replaced value, which the fold reproduces
    by construction. First/last element is never replaced (trailing
    NULLs survive the reverse form)."""
    row = spark.sql(
        translate(
            "SELECT arrayFill(x -> isNotNull(x), "
            "[1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL])"
            " AS f, "
            "arrayReverseFill(x -> isNotNull(x), "
            "[1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL])"
            " AS rf, "
            "arrayFill(x -> x > 2, [5, 1, 2, 7]) AS g, "
            "arrayFill(x -> x > 0, CAST(array() AS ARRAY<INT>)) AS e"
        )
    ).collect()[0]
    assert row["f"] == [1, 1, 3, 11, 12, 12, 12, 5, 6, 14, 14, 14]
    assert row["rf"] == [1, 3, 3, 11, 12, 5, 5, 5, 6, 14, None, None]
    assert row["g"] == [5, 5, 5, 7]
    assert row["e"] == []


def test_postfix_subscripts_one_based(spark):
    """r13 live find: call-result and array-literal integer
    subscripts previously passed through RAW, and Spark's [] is
    0-BASED where ClickHouse's is 1-based — groupArray(x)[1] silently
    returned the SECOND element. The postfix pass wraps them in
    element_at like the ident pass always did; chains, negatives, and
    parenthesized heads included. String-key map access stays raw."""
    t = translate("SELECT groupArray(x)[1] AS f FROM t")
    assert "element_at(collect_list(x), 1)" in t
    assert "[1]" not in t
    row = spark.sql(
        translate(
            "SELECT [10, 20, 30][1] AS lit1, [10, 20, 30][-1] AS ll, "
            "arraySort(groupArray(v))[1] AS first_sorted, "
            "arraySort(groupArray(v))[2] AS second_sorted, "
            "splitByChar('-', 'a-b-c')[1] AS head, "
            "[[1, 2], [3, 4]][2][1] AS chained FROM "
            "(SELECT 3 AS v UNION ALL SELECT 1 UNION ALL SELECT 2)"
        )
    ).collect()[0]
    assert row["lit1"] == 10  # 1-based: the FIRST element
    assert row["ll"] == 30
    assert row["first_sorted"] == 1 and row["second_sorted"] == 2
    assert row["head"] == "a"
    assert row["chained"] == 3
    # string-key map access is key-based in both dialects: untouched
    assert "m['k']" in translate("SELECT m['k'] FROM t")


def test_expression_subscripts_one_based(spark):
    """The generalized pass also covers EXPRESSION indices (a[i],
    arr[n - 1], groupArray(x)[n]) — previously raw, hence 0-based.
    element_at is 1-based on arrays and key-based on maps, so every
    head/index combination is correct; keyword-adjacent brackets
    (IN [1, 2]) and pure string keys stay untouched."""
    t = translate("SELECT a[i] FROM t")
    assert t == "SELECT element_at(a, i) FROM t"
    t = translate("SELECT a[b[i]] FROM t")
    assert t == "SELECT element_at(a, element_at(b, i)) FROM t"
    assert "IN array(1, 2)" in translate("SELECT x IN [1, 2] FROM t")
    row = spark.sql(
        translate(
            "SELECT [10, 20, 30][n] AS a, "
            "arraySort(groupArray(v))[n] AS b, "
            "[5, 6, 7][n + 1] AS c FROM "
            "(SELECT 3 AS v, 1 AS n UNION ALL SELECT 1, 1 "
            "UNION ALL SELECT 2, 1) GROUP BY n"
        )
    ).collect()[0]
    assert row["a"] == 10  # 1-based with a column index
    assert row["b"] == 1
    assert row["c"] == 6


def test_greatest_least_null_propagation(spark):
    """r13 probe find: ClickHouse greatest/least NULL-PROPAGATE (any
    NULL argument -> NULL, the ordinary-function convention) where
    Spark's builtins SKIP NULLs — same name, silently different
    results. The end-of-pipeline guard wraps user calls AND emitted
    fragments (value-equivalent for literal/count bounds; a FIX for
    quantileTiming, whose raw least(x, 30000) counted a NULL input
    as 30000 where ClickHouse skips NULL rows); skip_if_prefix keeps
    re-translation a fixpoint."""
    row = spark.sql(
        translate(
            "SELECT greatest(1, NULL) AS g, least(2, NULL) AS l, "
            "greatest(1, 2, 3) AS g3, least(7, 5, 9) AS l3"
        )
    ).collect()[0]
    assert row["g"] is None and row["l"] is None
    assert row["g3"] == 3 and row["l3"] == 5
    # quantileTiming's clamp is wrapped too: NULL inputs now SKIPPED
    # (CH semantics) instead of clamped to a counted 30000
    t = translate(
        "SELECT quantileTiming(0.5)(value) AS qt FROM "
        "(SELECT 99.0 AS value UNION ALL SELECT CAST(NULL AS DOUBLE))"
    )
    assert translate(t) == t  # fixpoint with the wrap in place
    assert float(spark.sql(t).collect()[0]["qt"]) == 99.0


def test_extract_groupless_whole_match(spark):
    """r13 probe find: ClickHouse's 2-arg extract returns the WHOLE
    match when the literal pattern has no capture groups — the old
    unconditional group-1 index made Spark throw 'group count is 0'.
    Group-ful patterns keep the first subpattern; no match -> ''."""
    row = spark.sql(
        translate(
            r"SELECT extract('abc123', '\\d+') AS whole, "
            r"extract('abc123', '([a-z]+)(\\d+)') AS grp, "
            r"extract('nope', '\\d+') AS miss"
        )
    ).collect()[0]
    assert row["whole"] == "123"
    assert row["grp"] == "abc"  # first subpattern, CH semantics
    assert row["miss"] == ""
    # standard SQL EXTRACT(unit FROM ts) still passes through
    assert "extract(YEAR FROM" in translate(
        "SELECT extract(YEAR FROM ts) FROM events"
    )


def test_length_byte_semantics(spark):
    """r13 probe find: ClickHouse length(s) counts BYTES ('not
    characters or Unicode code points' — its docs' own emphasis);
    Spark's length counts characters. length now lowers to
    octet_length; lengthUTF8/char_length stay char-wise."""
    row = spark.sql(
        translate(
            "SELECT length('héllo') AS b, lengthUTF8('héllo') AS c, "
            "length('abc') AS a, empty('') AS e, "
            "countSubstrings('ababab', 'ab') AS n"
        )
    ).collect()[0]
    assert row["b"] == 6  # é is 2 bytes in UTF-8
    assert row["c"] == 5
    assert row["a"] == 3
    assert row["e"] is True and row["n"] == 3


def test_position_start_and_array_count_truthy(spark):
    """r13 probe finds: (1) 3-arg position(haystack, needle, start)
    previously passed through raw into Spark's REVERSED
    (needle, haystack, start) roles — a silent swap; it now lowers
    to locate like the 2-arg form (both dialects' start is a 1-based
    char index). (2) 1-arg arrayCount counts TRUTHY elements
    (non-zero, non-NULL) in ClickHouse; it went loud with the wrong
    multi-array message before."""
    row = spark.sql(
        translate(
            "SELECT position('haystack', 'a', 3) AS p, "
            "position('haystack', 'hay') AS p2, "
            "arrayCount([1, 0, 2, NULL]) AS c, "
            "arrayCount(x -> x > 1, [1, 2, 3]) AS cl"
        )
    ).collect()[0]
    assert row["p"] == 6  # the SECOND 'a', searching from char 3
    assert row["p2"] == 1
    assert row["c"] == 2  # 1 and 2 are truthy; 0 and NULL are not
    assert row["cl"] == 2


def test_timezone_rendering_forms_stay_loud():
    """now(tz) / toString(x, tz) render in an explicit server
    timezone — Spark timestamps are zoneless, so dropping the
    argument (the old behavior) silently shifted values."""
    for bad in (
        "SELECT now('UTC')",
        "SELECT toString(ts, 'UTC') FROM t",
        "SELECT toDate(ts, 'UTC') FROM t",
    ):
        with pytest.raises(ValueError):
            translate(bad)


def test_array_fold_lambda_forms(spark):
    """r13 promotion: the fold family's 2-arg higher-order forms
    (arrayMin/Max/Sum/Avg/Product(lambda, arr)) map the lambda first
    via transform() — previously loud. arrayAvg divides by the SAME
    transformed source, not size(<lambda>); multi-array lambdas stay
    loud; the tz-bearing toUnixTimestamp joins the loud family."""
    row = spark.sql(
        translate(
            "SELECT arrayMin(x -> -x, [1, 2]) AS m, "
            "arraySum(x -> x * 2, [1, 2]) AS s, "
            "arrayAvg(x -> x * 2, [1, 2, 3]) AS a, "
            "arrayProduct(x -> x + 1, [1, 2]) AS p"
        )
    ).collect()[0]
    assert row["m"] == -2
    assert row["s"] == 6.0
    assert row["a"] == 4.0
    assert row["p"] == 6.0
    with pytest.raises(ValueError, match="multiple arrays"):
        translate("SELECT arraySum((x, y) -> x + y, a, b) FROM t")
    with pytest.raises(ValueError, match="timezone"):
        translate("SELECT toUnixTimestamp(ts, 'UTC') FROM t")
