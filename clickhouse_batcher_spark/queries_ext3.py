"""Fourth coverage batch: weighted source mixing, range-frame windows,
ntile bucketing, correlated-subquery shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import dec
from clickhouse_batcher_spark.operators.sampling import _sql_bucket
from clickhouse_batcher_spark.tables import load_table

# Per-source sampling weights for the training-mix query: source ->
# percent of that source's docs to keep. Deterministic hash-bucket
# membership (operators/sampling.py), so the mix is reproducible and
# the per-source proportions are exact functions of the data.
MIX_WEIGHTS = {"src0": 100, "src1": 80, "src2": 60, "src3": 40, "src4": 20}


@query(
    "training_mix_by_source",
    oracle=" UNION ALL ".join(
        f"""
        SELECT doc_id, source, lang FROM documents
        WHERE source = '{src}' AND {_sql_bucket("doc_id", salt="mix")} < {pct}
        """
        for src, pct in MIX_WEIGHTS.items()
    ),
)
def training_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: each source contributes a deterministic
    hash-selected fraction — the curriculum/source-weighting step of a
    training-data pipeline. One scan, per-row predicate, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit("mix"), F.col("doc_id").cast("string")), 256),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    weight_expr = None
    for src, pct in MIX_WEIGHTS.items():
        cond = (F.col("source") == src) & (bucket < pct)
        weight_expr = cond if weight_expr is None else (weight_expr | cond)
    return docs.filter(weight_expr).select("doc_id", "source", "lang")


@query(
    "events_range_window_30min",
    oracle="""
    SELECT event_id, user_id,
      CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (
        PARTITION BY user_id ORDER BY date_trunc('second', CAST(ts AS TIMESTAMP))
        RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS rolling_30m_value,
      CAST(COUNT(*) OVER (
        PARTITION BY user_id ORDER BY date_trunc('second', CAST(ts AS TIMESTAMP))
        RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS rolling_30m_events
    FROM events
    """,
)
def events_range_window_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame (RANGE BETWEEN INTERVAL): Spark's
    rangeBetween is numeric, so the frame runs over epoch seconds —
    which TRUNCATES sub-second precision. The oracle must order over
    second-truncated timestamps too, or events exactly 30min+epsilon
    apart land inside Spark's frame but outside the oracle's (bit us
    at sf0.1: 0.001%% of rows). Decimal sums keep the rolling values
    exact under any evaluation order."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-30 * 60, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(dec("value")).over(w).cast("double").alias("rolling_30m_value"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("rolling_30m_events"),
    )


@query(
    "orders_ntile_quartiles",
    oracle="""
    SELECT o_orderkey,
      CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
        AS price_quartile
    FROM orders
    """,
)
def orders_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact ntile(4), scale-first.

    ``F.ntile`` over an unpartitioned window single-partitions the
    whole table (WindowExec's "Moving all data to a single partition"
    warning — the r3 parity log showed it). Instead: the exact global
    row index of the two-level ordered scan (``with_global_index``),
    then ntile's bucket arithmetic applied as
    a column expression — SQL-standard semantics: with n rows and b
    buckets, the first n%b buckets get n/b+1 rows, the rest n/b —
    reproduced bit-exactly so the DuckDB ntile oracle still matches.
    """
    from clickhouse_batcher_spark.functions import with_global_index

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    idx = with_global_index(orders, ["o_totalprice", "o_orderkey"])
    total = orders.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    bucket = F.expr(
        """
        CASE WHEN _gidx < (_n % 4) * ((_n div 4) + 1)
             THEN _gidx div ((_n div 4) + 1) + 1
             ELSE (_n % 4) + (_gidx - (_n % 4) * ((_n div 4) + 1)) div (_n div 4) + 1
        END
        """
    )
    return (
        idx.crossJoin(F.broadcast(total))
        .select("o_orderkey", bucket.cast("bigint").alias("price_quartile"))
    )


@query(
    "orders_above_customer_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated by hand into the
    aggregate-join Catalyst would produce: per-customer exact average
    joined back (broadcast — the aggregate is one row per customer)."""
    orders = load_table(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("avg_price")
    )
    return (
        orders.join(F.broadcast(avgs), orders.o_custkey == avgs.k)
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# End-to-end cleaned-corpus pipeline: quality filters -> exact dedup ->
# deterministic split -> per-split/lang counts. The composed form of
# the individual operators, as one declarative plan (Catalyst fuses
# the filters into the scan; the only shuffle is the dedup groupBy).
# ---------------------------------------------------------------------------
MIN_TOKENS = 20
MAX_SHORT_RATIO = 0.4


@query(
    "cleaned_corpus_summary",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
        len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))
          AS n_tokens,
        CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'),
                                          t -> t <> ''), x -> length(x) <= 2))
             AS DOUBLE)
          / CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')) AS DOUBLE) AS short_ratio
      FROM documents
    ), quality AS (
      SELECT * FROM scored
      WHERE n_tokens >= {MIN_TOKENS} AND short_ratio <= {MAX_SHORT_RATIO}
    ), deduped AS (
      SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang FROM quality
      GROUP BY sha256(text)
    ), split AS (
      SELECT doc_id, lang,
        CASE WHEN {_sql_bucket("doc_id", salt="split")} < 10 THEN 'test'
             WHEN {_sql_bucket("doc_id", salt="split")} < 20 THEN 'val'
             ELSE 'train' END AS split
      FROM deduped
    )
    SELECT split, lang, COUNT(*) AS n_docs FROM split GROUP BY split, lang
    """,
)
def cleaned_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_batcher_spark.functions import tokens
    from clickhouse_batcher_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks)
    short_ratio = (
        F.size(F.filter(toks, lambda x: F.length(x) <= 2)).cast("double")
        / n_tokens.cast("double")
    )
    quality = docs.filter(
        (n_tokens >= MIN_TOKENS) & (short_ratio <= MAX_SHORT_RATIO)
    )
    deduped = (
        quality.groupBy(F.sha2(F.col("text"), 256))
        .agg(F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang"))
        .select("doc_id", "lang")
    )
    split = train_val_test_split(deduped, "doc_id")
    return split.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# Statistical moments from exact decimal power sums: mean/variance/
# stddev derived in double from order-independent exact sums — the
# only formulation where a distributed engine and a single-threaded
# oracle agree bit-for-bit (naive sum-of-doubles variance is neither
# order-stable nor shuffle-stable).
# ---------------------------------------------------------------------------
@query(
    "value_moments_by_type",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
      s1 / CAST(n AS DOUBLE) AS mean_value,
      (s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_value,
      sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
        AS stddev_value
    FROM s
    """,
)
def value_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    s = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
    )
    n_d = F.col("n").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n_d) / (F.col("n") - 1).cast(
        "double"
    )
    return s.select(
        "event_type",
        "n",
        (F.col("s1") / n_d).alias("mean_value"),
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
    )


# ---------------------------------------------------------------------------
# Latest-record-per-key: the dominant warehouse dedup pattern (keep the
# newest event per user per day). Total order via (ts, event_id).
# ---------------------------------------------------------------------------
@query(
    "latest_event_per_user_day",
    oracle="""
    SELECT user_id, day, event_id, event_type, value FROM (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def latest_event_per_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id", day).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.select(
            "user_id",
            day.alias("day"),
            "event_id",
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Period-over-period: day-over-day change per event type (lag window).
# First day per type has NULL previous -> NULL pct_change (both
# engines agree; NULL doubles canonicalize identically). The division
# is one IEEE op over exact integer counts.
# ---------------------------------------------------------------------------
@query(
    "events_day_over_day",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, cnt,
      lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev_cnt,
      CASE WHEN lag(cnt) OVER (PARTITION BY event_type ORDER BY day) > 0
        THEN CAST(cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY day)
                  AS DOUBLE)
             / CAST(lag(cnt) OVER (PARTITION BY event_type ORDER BY day)
                    AS DOUBLE)
        ELSE NULL END AS pct_change
    FROM d
    """,
)
def events_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    d = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("cnt").over(w)
    pct = F.when(
        prev > 0,
        (F.col("cnt") - prev).cast("double") / prev.cast("double"),
    ).otherwise(F.lit(None).cast("double"))
    return d.select(
        "day", "event_type", "cnt", prev.alias("prev_cnt"), pct.alias("pct_change")
    )
