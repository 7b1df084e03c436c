"""Cohort retention analysis (the product-analytics retention matrix).

Users are grouped by the ISO week of their first event (the cohort);
each later week they remain active contributes to that cohort's
retention curve. Both engines truncate weeks to ISO Monday, so the
matrix keys agree exactly; retention is one IEEE division of two
exact integers.

Plan shape: one groupBy(user) for first-activity, one distinct over
(user, week), a user-keyed join (same hash partitioning reused), and
a final groupBy on the (cohort_week, activity_week) matrix key —
every shuffle is keyed, no cross join, matrix cardinality is weeks²
regardless of event count. At 100 TB the user-level frames are
user-cardinality-bounded (orders of magnitude below events); AQE
picks broadcast for the cohort-size join since the matrix side is
weeks²-tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.tables import load_table


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1),
    act AS (SELECT DISTINCT user_id, week AS activity_week FROM e),
    mat AS (
      SELECT c.cohort_week, a.activity_week,
             CAST(count(*) AS BIGINT) AS n_active
      FROM act a JOIN cohort c ON a.user_id = c.user_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
           FROM cohort GROUP BY 1)
    SELECT m.cohort_week, m.activity_week, m.n_active, s.cohort_size,
           CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS retention
    FROM mat m JOIN sz s ON m.cohort_week = s.cohort_week
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort x activity-week retention matrix."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    )
    cohort = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = e.select("user_id", F.col("week").alias("activity_week")).distinct()
    mat = (
        act.join(cohort, "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sz = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return mat.join(sz, "cohort_week").select(
        "cohort_week",
        "activity_week",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation (round-5 third session): the classic
# recency/frequency/monetary customer quartiles. One orders aggregate
# per customer, then three deterministic quartile assignments via the
# exact two-level global index over (metric, custkey) — the unique
# tiebreak makes the segments hash-stable, unlike ntile over bare
# metrics, and the range-shuffled index keeps every pass parallel.
# ---------------------------------------------------------------------------


@query(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
        MAX(CAST(o_orderdate AS DATE)) AS last_order,
        COUNT(*) AS freq,
        CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(27,6)))
             AS DOUBLE) AS monetary
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT custkey, last_order, freq, monetary,
        ((ROW_NUMBER() OVER (ORDER BY last_order, custkey) - 1) * 4)
          // COUNT(*) OVER () + 1 AS r_q,
        ((ROW_NUMBER() OVER (ORDER BY freq, custkey) - 1) * 4)
          // COUNT(*) OVER () + 1 AS f_q,
        ((ROW_NUMBER() OVER (ORDER BY monetary, custkey) - 1) * 4)
          // COUNT(*) OVER () + 1 AS m_q
      FROM base
    )
    SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
      CAST(m_q AS INT) AS m_q,
      CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
        || CAST(m_q AS VARCHAR) AS segment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(MIN(custkey) AS BIGINT) AS sample_custkey
    FROM ranked GROUP BY r_q, f_q, m_q
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into 4x4x4 recency/frequency/monetary
    quartile segments (the classical CRM slicing), reported as segment
    sizes. Quartile = (global_index * 4) div n + 1 over
    (metric, custkey) — balanced quartiles with a deterministic
    tiebreak, so the assignment is engine-independent; monetary sums
    are decimal-exact first.

    Each metric's rank is the exact global index of the two-level
    ordered scan (``with_global_index``) over |customers| aggregate
    rows, never a single-partition Window.orderBy.
    """
    from clickhouse_batcher_spark.functions import with_global_index

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(27,6)"))
        .cast("double")
        .alias("monetary"),
    )
    nrow = base.agg(F.count(F.lit(1)).alias("_n"))
    # ONE ordered scan for all three ranks: stack each customer's three
    # metrics as (mid, val, custkey) rows — the orderings are embedded
    # injectively in a shared double `val` (date -> epoch days, count
    # -> exact small integer, monetary is already the double the
    # quartile ranks) — and take ONE global
    # index over (mid, val, custkey). With mid leading the sort key,
    # the index restricted to metric `mid` is `mid * n + rank-within-
    # metric`, so each quartile is ((gidx - mid*n) * 4) div n + 1 —
    # identical to the per-metric pass by construction. A conditional
    # aggregate on custkey folds the three rows back to one.
    metrics = (("r_q", 0), ("f_q", 1), ("m_q", 2))
    stack = base.select(
        "custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("mid"),
                    F.datediff("last_order", F.lit("1970-01-01"))
                    .cast("double")
                    .alias("val"),
                ),
                F.struct(
                    F.lit(1).alias("mid"),
                    F.col("freq").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit(2).alias("mid"),
                    F.col("monetary").alias("val"),
                ),
            )
        ).alias("m"),
    ).select("custkey", "m.mid", "m.val")
    idx = with_global_index(
        stack,
        [F.col("mid"), F.col("val"), F.col("custkey")],
        index_name="_g",
    )
    q = idx.crossJoin(F.broadcast(nrow)).select(
        "custkey",
        "mid",
        (
            ((F.col("_g") - F.col("mid") * F.col("_n")) * 4 / F.col("_n"))
            .cast("int")
            + 1
        ).alias("q"),
    )
    ranked = q.groupBy("custkey").agg(
        *[
            F.max(F.when(F.col("mid") == mid, F.col("q"))).alias(name)
            for name, mid in metrics
        ]
    )
    return ranked.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min("custkey").cast("bigint").alias("sample_custkey"),
    ).select(
        "r_q",
        "f_q",
        "m_q",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("segment"),
        "n_customers",
        "sample_custkey",
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier user survival (round-8): the right-censored lifetime
# curve the retention matrix above approximates in weekly buckets.
# Duration = whole hours between a user's first and last event
# (exact integer microsecond arithmetic — engines disagree on
# calendar date_diff boundary counting, so durations divide epoch
# micros); users whose last event falls within KM_CENSOR_HOURS of the
# corpus end are right-censored (still alive), everyone else churns
# at their duration. The product-limit estimator runs as
# exp(cumulative sum of ln(1 - d_i/n_i)): each ln term is rounded to
# 6 and summed as DECIMAL (the repo's order-free transcendental
# convention), the exp is rounded to 6, and the d_i == n_i row (a
# true zero the log-space form cannot represent) is handled by a
# cumulative hit-zero flag.
#
# Scale: one per-user min/max aggregate, one duration histogram
# (map-side combinable), then windows over the histogram frame —
# bounded by the observation window in hours (a collection-time
# constant, not a data-volume quantity). The 1-row corpus-end frame
# broadcasts (whitelisted BNLJ).
# ---------------------------------------------------------------------------

KM_CENSOR_HOURS = 6
_US_PER_HOUR = 3_600_000_000


@query(
    "user_survival_km",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    u AS (
      SELECT user_id, min(ts) AS f, max(ts) AS l FROM ev GROUP BY user_id
    ),
    obs AS (SELECT max(ts) AS e FROM ev),
    d AS (
      SELECT user_id,
        (epoch_us(l) - epoch_us(f)) // {_US_PER_HOUR} AS dur_h,
        CASE WHEN (epoch_us(obs.e) - epoch_us(l))
                  <= {KM_CENSOR_HOURS} * {_US_PER_HOUR}
             THEN 0 ELSE 1 END AS churned
      FROM u CROSS JOIN obs
    ),
    h AS (
      SELECT dur_h, CAST(count(*) AS BIGINT) AS n_all,
             CAST(SUM(churned) AS BIGINT) AS n_churned
      FROM d GROUP BY dur_h
    ),
    r AS (
      SELECT dur_h, n_all, n_churned,
        CAST(SUM(n_all) OVER () AS BIGINT)
          - CAST(COALESCE(SUM(n_all) OVER (
              ORDER BY dur_h
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS n_risk
      FROM h
    ),
    s AS (
      SELECT dur_h, n_risk, n_churned,
        CAST(SUM(CASE WHEN n_churned < n_risk THEN
            CAST(round(ln(1.0 - CAST(n_churned AS DOUBLE)
                              / CAST(n_risk AS DOUBLE)), 6)
                 AS DECIMAL(27,6))
          ELSE CAST(0 AS DECIMAL(27,6)) END)
          OVER (ORDER BY dur_h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DECIMAL(27,6)) AS cum_lp,
        MAX(CASE WHEN n_churned >= n_risk THEN 1 ELSE 0 END)
          OVER (ORDER BY dur_h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS hit_zero
      FROM r
    )
    SELECT CAST(dur_h AS BIGINT) AS duration_h, n_risk, n_churned,
      CASE WHEN hit_zero = 1 THEN 0.0
           ELSE round(exp(CAST(cum_lp AS DOUBLE)), 6) END AS survival
    FROM s WHERE n_churned > 0
    """,
)
def user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-limit (Kaplan-Meier) survival over user lifetimes with
    right censoring at the corpus end: one row per churn time —
    at-risk count, churn count, and S(t)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    obs = ev.agg(F.max("ts").alias("e"))
    # explicit integer div — a cast-after-float-divide would round
    dur = F.expr(f"(unix_micros(l) - unix_micros(f)) div {_US_PER_HOUR}")
    churned = F.when(
        (F.unix_micros("e") - F.unix_micros("l"))
        <= KM_CENSOR_HOURS * _US_PER_HOUR,
        0,
    ).otherwise(1)
    d = u.crossJoin(F.broadcast(obs)).select(
        dur.alias("dur_h"), churned.alias("churned")
    )
    h = d.groupBy("dur_h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("churned").cast("bigint").alias("n_churned"),
    )
    w_all = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "dur_h",
        "n_churned",
        (
            F.sum("n_all").over(w_all).cast("bigint")
            - F.coalesce(F.sum("n_all").over(w_prev), F.lit(0)).cast(
                "bigint"
            )
        ).alias("n_risk"),
    )
    term = F.when(
        F.col("n_churned") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_churned").cast("double")
                / F.col("n_risk").cast("double")
            ),
            6,
        ).cast("decimal(27,6)"),
    ).otherwise(F.lit(0).cast("decimal(27,6)"))
    s = r.select(
        "dur_h",
        "n_risk",
        "n_churned",
        F.sum(term).over(w_cum).cast("decimal(27,6)").alias("cum_lp"),
        F.max(
            F.when(F.col("n_churned") >= F.col("n_risk"), 1).otherwise(0)
        )
        .over(w_cum)
        .alias("hit_zero"),
    )
    return s.filter(F.col("n_churned") > 0).select(
        F.col("dur_h").cast("bigint").alias("duration_h"),
        "n_risk",
        "n_churned",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_lp").cast("double")), 6))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# User lifecycle stages (new / active / lapsed / churned)
# ---------------------------------------------------------------------------
LIFECYCLE_NEW_DAYS = 7     # first seen within N days of corpus end
LIFECYCLE_LAPSED_DAYS = 14 # last seen N..CHURN days before corpus end
LIFECYCLE_CHURN_DAYS = 30  # last seen > N days before corpus end


@query(
    "user_lifecycle_stages",
    oracle=f"""
    WITH bounds AS (
      SELECT MAX(CAST(ts AS TIMESTAMP)) AS tmax FROM events
    ),
    per_user AS (
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)))
             AS BIGINT) AS active_days,
        datediff('day', date_trunc('day', MAX(CAST(ts AS TIMESTAMP))),
                 date_trunc('day', (SELECT tmax FROM bounds)))
          AS recency_days,
        datediff('day', date_trunc('day', MIN(CAST(ts AS TIMESTAMP))),
                 date_trunc('day', (SELECT tmax FROM bounds)))
          AS tenure_days
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, active_days,
      CAST(recency_days AS BIGINT) AS recency_days,
      CAST(tenure_days AS BIGINT) AS tenure_days,
      CASE
        WHEN tenure_days < {LIFECYCLE_NEW_DAYS} THEN 'new'
        WHEN recency_days > {LIFECYCLE_CHURN_DAYS} THEN 'churned'
        WHEN recency_days > {LIFECYCLE_LAPSED_DAYS} THEN 'lapsed'
        ELSE 'active'
      END AS stage
    FROM per_user
    """,
)
def user_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: event volume, distinct active days, recency and
    tenure in whole days from the corpus end, and the lifecycle stage
    (new / active / lapsed / churned on fixed day thresholds) — the
    segmentation behind retention dashboards and churn-targeting, and
    the categorical input the RFM segmentation lacks (RFM ranks,
    this one labels against absolute recency).

    Day arithmetic happens on date-truncated timestamps, so both
    engines count calendar-day boundaries, not 24 h intervals. The
    corpus-end anchor is one 1-row aggregate (broadcast scalar); the
    per-user frame is one combinable aggregate."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    tmax = events.agg(F.max("ts")).collect()[0][0]  # 1-row anchor
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct(F.date_trunc("day", "ts"))
        .cast("bigint")
        .alias("active_days"),
        F.datediff(
            F.date_trunc("day", F.lit(tmax)),
            F.date_trunc("day", F.max("ts")),
        )
        .cast("bigint")
        .alias("recency_days"),
        F.datediff(
            F.date_trunc("day", F.lit(tmax)),
            F.date_trunc("day", F.min("ts")),
        )
        .cast("bigint")
        .alias("tenure_days"),
    )
    stage = (
        F.when(F.col("tenure_days") < LIFECYCLE_NEW_DAYS, "new")
        .when(F.col("recency_days") > LIFECYCLE_CHURN_DAYS, "churned")
        .when(F.col("recency_days") > LIFECYCLE_LAPSED_DAYS, "lapsed")
        .otherwise("active")
    )
    return per_user.select(
        "user_id",
        "n_events",
        "active_days",
        "recency_days",
        "tenure_days",
        stage.alias("stage"),
    )
