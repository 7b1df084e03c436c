"""ClickHouse statistical-aggregate parity, batch 2: rankCorr,
cramersV, groupBitAnd/Or/Xor, simpleLinearRegression, sumMap,
studentTTest/welchTTest, mannWhitneyUTest.

The reference delegates querying to a ClickHouse server
(`hashes.go:70-83` issues only INSERT/SELECT/DELETE; SURVEY.md §2.2),
so ClickHouse's statistical aggregate surface is part of what its
users run today. Each analogue here is a pure relational composition
— no UDFs — built on the repo-wide determinism contract: integer/rank
arithmetic stays exact (2×avg-rank is an integer), float terms round
to fixed decimals before an exact DECIMAL sum, and final doubles come
from one deterministic conversion, so every query is hash-exact vs
its DuckDB oracle.

Scale notes (100 TB):

- Rank-based ops (rankCorr, mannWhitneyU) never window over raw rows:
  ranks are derived on the DISTINCT-value frame (cumulative counts),
  then equi-joined back — the ordered pass touches |distinct values|
  rows per group, not |rows|.
- Contingency/moment ops (cramersV, linreg, t-test) are one or two
  map-side-combinable groupBys; nothing materializes per-row state.
- sumMap pre-aggregates (user, key) BEFORE collecting per-user maps,
  so collect_list holds ≤|key-universe| entries per user, not one per
  event.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.tables import load_table

_DEC38 = "decimal(18,0)"
_DEC27 = "decimal(27,6)"

_TTEST_A = "click"
_TTEST_B = "view"


def _k_col() -> F.Column:
    """The numeric payload inside events.props ('{"k": <int>}')."""
    return F.get_json_object("props", "$.k").cast("bigint")


_K_SQL = "CAST(json_extract_string(props, '$.k') AS BIGINT)"


def _rank2_frame(df: DataFrame, part: str, value: str) -> DataFrame:
    """Per (part, distinct value): twice the pooled average rank.

    avg_rank(v) = (#smaller) + (count(v)+1)/2, so
    2*avg_rank(v) = 2*cum_before + count(v) + 1 — an exact integer.
    The window runs over the distinct-value frame only.
    """
    agg = df.groupBy(part, value).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy(part)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return agg.select(
        part,
        value,
        (
            F.coalesce(F.sum("c").over(w), F.lit(0)) * 2 + F.col("c") + 1
        ).alias("r2"),
    )


@query(
    "events_rank_corr",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value, {_K_SQL} AS k FROM events
    ), rv AS (
      SELECT event_type, value,
        2 * COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1 AS r2
      FROM (SELECT event_type, value, COUNT(*) AS c
            FROM base GROUP BY 1, 2)
    ), rk AS (
      SELECT event_type, k,
        2 * COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY k
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1 AS r2
      FROM (SELECT event_type, k, COUNT(*) AS c
            FROM base GROUP BY 1, 2)
    ), joined AS (
      SELECT base.event_type,
             CAST(rv.r2 AS DECIMAL(18,0)) AS x,
             CAST(rk.r2 AS DECIMAL(18,0)) AS y
      FROM base
      JOIN rv ON rv.event_type = base.event_type AND rv.value = base.value
      JOIN rk ON rk.event_type = base.event_type AND rk.k = base.k
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        CAST(SUM(x * x) AS DOUBLE) AS sxx,
        CAST(SUM(y * y) AS DOUBLE) AS syy,
        CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM joined GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      round((n * sxy - sx * sy)
            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        AS spearman_rho
    FROM s
    """,
)
def events_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``rankCorr(x, y)`` analog: Spearman rank correlation
    between a row's value and its props payload, per event type — the
    monotone-association screen (Pearson `event_type_value_correlation`
    is its linear sibling).

    Ties take the pooled average rank, exactly as rankCorr does; all
    rank sums stay in DECIMAL(18,0) (2×avg-rank is an integer), and
    the final Pearson-over-ranks formula is evaluated in DOUBLE from
    identical decimal inputs on both engines, rounded once.
    """
    base = load_table(spark, sf_dir, "events").select(
        "event_type", "value", _k_col().alias("k")
    )
    rv = _rank2_frame(base, "event_type", "value").select(
        F.col("event_type").alias("et_v"),
        F.col("value").alias("v_v"),
        F.col("r2").alias("r2x"),
    )
    rk = _rank2_frame(base, "event_type", "k").select(
        F.col("event_type").alias("et_k"),
        F.col("k").alias("k_k"),
        F.col("r2").alias("r2y"),
    )
    joined = (
        base.join(
            rv,
            (F.col("event_type") == F.col("et_v"))
            & (F.col("value") == F.col("v_v")),
        )
        .join(
            rk,
            (F.col("event_type") == F.col("et_k"))
            & (F.col("k") == F.col("k_k")),
        )
        .select(
            "event_type",
            F.col("r2x").cast(_DEC38).alias("x"),
            F.col("r2y").cast(_DEC38).alias("y"),
        )
    )
    s = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    rho = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(rho, 6).alias("spearman_rho"),
    )


@query(
    "events_cramers_v",
    oracle=f"""
    WITH obs AS (
      SELECT event_type AS a, {_K_SQL} // 10 AS b, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), ra AS (SELECT a, SUM(o) AS ra_tot FROM obs GROUP BY 1),
    cb AS (SELECT b, SUM(o) AS cb_tot FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    terms AS (
      SELECT CAST(round(
          (CAST(o AS DOUBLE)
             - CAST(ra_tot AS DOUBLE) * CAST(cb_tot AS DOUBLE)
               / CAST(n AS DOUBLE))
          * (CAST(o AS DOUBLE)
             - CAST(ra_tot AS DOUBLE) * CAST(cb_tot AS DOUBLE)
               / CAST(n AS DOUBLE))
          / (CAST(ra_tot AS DOUBLE) * CAST(cb_tot AS DOUBLE)
             / CAST(n AS DOUBLE)), 6) AS DECIMAL(27,6)) AS t
      FROM obs JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
      CAST((SELECT COUNT(*) - 1 FROM ra) AS BIGINT)
        * CAST((SELECT COUNT(*) - 1 FROM cb) AS BIGINT) AS dof,
      CAST(SUM(t) AS DOUBLE) AS chi2,
      round(sqrt(CAST(SUM(t) AS DOUBLE)
                 / (CAST((SELECT n FROM tot) AS DOUBLE)
                    * least((SELECT COUNT(*) - 1 FROM ra),
                            (SELECT COUNT(*) - 1 FROM cb)))), 6)
        AS cramers_v,
      round(sqrt(CAST(SUM(t) AS DOUBLE)
                 / (CAST(SUM(t) AS DOUBLE)
                    + CAST((SELECT n FROM tot) AS DOUBLE))), 6)
        AS contingency_coeff,
      round(sqrt(
        greatest(0.0,
          CAST(SUM(t) AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE)
          - CAST((SELECT COUNT(*) - 1 FROM ra) AS DOUBLE)
            * CAST((SELECT COUNT(*) - 1 FROM cb) AS DOUBLE)
            / (CAST((SELECT n FROM tot) AS DOUBLE) - 1))
        / least(
            CAST((SELECT COUNT(*) FROM ra) AS DOUBLE)
              - (CAST((SELECT COUNT(*) - 1 FROM ra) AS DOUBLE)
                 * CAST((SELECT COUNT(*) - 1 FROM ra) AS DOUBLE))
                / (CAST((SELECT n FROM tot) AS DOUBLE) - 1) - 1,
            CAST((SELECT COUNT(*) FROM cb) AS DOUBLE)
              - (CAST((SELECT COUNT(*) - 1 FROM cb) AS DOUBLE)
                 * CAST((SELECT COUNT(*) - 1 FROM cb) AS DOUBLE))
                / (CAST((SELECT n FROM tot) AS DOUBLE) - 1) - 1)), 6)
        AS cramers_v_corrected
    FROM terms
    """,
)
def events_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``cramersV(a, b)`` analog: association strength
    between event type and the props-payload decile — the categorical
    counterpart of `event_type_value_correlation`.

    One contingency groupBy feeds everything; marginals are two tiny
    re-aggregations broadcast back, each chi-square term rounds to 6
    decimals and sums exactly as DECIMAL, and the closing sqrt runs in
    DOUBLE on identical inputs. The contingency frame is |a|×|b| rows
    regardless of input size — the 100-TB cost is one map-side
    combinable shuffle on (a, b).
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("a"),
        F.floor(_k_col() / 10).alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").alias("ra_tot"))
    cb = obs.groupBy("b").agg(F.sum("o").alias("cb_tot"))
    tot = (
        obs.agg(F.sum("o").alias("n"), F.count(F.lit(1)).alias("cells"))
        .crossJoin(F.broadcast(ra.agg(F.count(F.lit(1)).alias("n_a"))))
        .crossJoin(F.broadcast(cb.agg(F.count(F.lit(1)).alias("n_b"))))
    )
    exp = (
        F.col("ra_tot").cast("double")
        * F.col("cb_tot").cast("double")
        / F.col("n").cast("double")
    )
    d = F.col("o").cast("double") - exp
    term = F.round(d * d / exp, 6).cast(_DEC27)
    terms = (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            term.alias("t"), "n", "n_a", "n_b"
        )
    )
    chi2 = F.sum("t").cast("double")
    agg = terms.groupBy("n", "n_a", "n_b").agg(chi2.alias("chi2"))
    nd = F.col("n").cast("double")
    ra_d = (F.col("n_a") - 1).cast("double")  # row dof
    cb_d = (F.col("n_b") - 1).cast("double")  # col dof
    # Bergsma bias correction: phi2+ = max(0, phi2 - dof_r*dof_c/(n-1)),
    # category counts shrink the same way.
    phi2c = F.greatest(
        F.lit(0.0), F.col("chi2") / nd - ra_d * cb_d / (nd - 1)
    )
    r_c = F.col("n_a").cast("double") - ra_d * ra_d / (nd - 1)
    c_c = F.col("n_b").cast("double") - cb_d * cb_d / (nd - 1)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("n_a") - 1) * (F.col("n_b") - 1))
        .cast("bigint")
        .alias("dof"),
        "chi2",
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    nd
                    * F.least(F.col("n_a") - 1, F.col("n_b") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("chi2") + nd)), 6
        ).alias("contingency_coeff"),
        F.round(
            F.sqrt(phi2c / F.least(r_c - 1, c_c - 1)), 6
        ).alias("cramers_v_corrected"),
    )


@query(
    "events_bit_aggregates",
    oracle="""
    SELECT event_type,
      CAST(bit_and(user_id) AS BIGINT) AS band,
      CAST(bit_or(user_id) AS BIGINT) AS bor,
      CAST(bit_xor(user_id) AS BIGINT) AS bxor,
      COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupBitAnd/groupBitOr/groupBitXor`` analogs over
    the user-id bits per event type (bitmask-rollup pattern: which id
    bits are universal / present / odd-parity).

    Spark's native bit_and/bit_or/bit_xor aggregates are commutative
    and associative — map-side combinable, partition-order
    independent, exact; a single shuffle on the group key.
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.bit_and("user_id").cast("bigint").alias("band"),
            F.bit_or("user_id").cast("bigint").alias("bor"),
            F.bit_xor("user_id").cast("bigint").alias("bxor"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "events_linreg_by_type",
    oracle=f"""
    WITH base AS (
      SELECT event_type, CAST({_K_SQL} AS DECIMAL(18,0)) AS x,
             value AS y
      FROM events
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(x) AS DOUBLE) AS sx,
        CAST(SUM(x * x) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(round(y, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(round(CAST(x AS DOUBLE) * y, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS sxy
      FROM base GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        AS intercept
    FROM s
    """,
)
def events_linreg_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``simpleLinearRegression(x, y)`` analog: least-
    squares slope/intercept of value against the props payload, per
    event type.

    The moment sums are the whole computation: integer x-moments stay
    DECIMAL(18,0)-exact, float cross-moments round each term to 6
    decimals and sum as DECIMAL — so both engines feed IDENTICAL
    numbers into the closed-form solution, evaluated once in DOUBLE.
    One map-side-combinable groupBy; nothing else.
    """
    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        _k_col().cast(_DEC38).alias("x"),
        F.col("value").alias("y"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.round(F.col("y"), 6).cast(_DEC27)).cast("double").alias("sy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("y"), 6).cast(_DEC27)
        )
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy = F.col("sy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@query(
    "user_type_sum_map",
    oracle="""
    WITH kv AS (
      SELECT user_id, event_type,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS s
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
      array_to_string(list(event_type ORDER BY event_type), ',') AS keys,
      array_to_string(
        list(printf('%.6f', s) ORDER BY event_type), ',') AS sums,
      COUNT(*) AS n_keys
    FROM kv GROUP BY user_id
    """,
)
def user_type_sum_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap`` analog: per user, the key-sorted map of
    event-type -> exact value sum, emitted as parallel key/sum strings
    (the repo's array-free hash-compare convention; the map itself is
    `map_from_entries` away).

    sumMap's semantics are exactly groupBy(user, key) THEN a per-user
    gather — pre-aggregating first bounds the collected state to the
    key universe (5 types), not the user's event count. Values render
    via printf('%.6f') on doubles derived from identical exact
    decimals, so the strings match cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    kv = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.round("value", 6).cast(_DEC27)).cast("double").alias("s")
    )
    pair = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("event_type"),
                F.format_string("%.6f", F.col("s")).alias("sv"),
            )
        )
    )
    return kv.groupBy("user_id").agg(
        F.concat_ws(",", F.transform(pair, lambda p: p["event_type"])).alias(
            "keys"
        ),
        F.concat_ws(",", F.transform(pair, lambda p: p["sv"])).alias("sums"),
        F.count(F.lit(1)).alias("n_keys"),
    )


@query(
    "ab_welch_ttest",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sv,
        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS sq
      FROM events WHERE event_type IN ('{_TTEST_A}', '{_TTEST_B}')
      GROUP BY 1
    ), m AS (
      SELECT event_type, n, sv / n AS mean,
             (sq - sv * sv / n) / (n - 1) AS var
      FROM s
    )
    SELECT a.event_type AS variant_a, b.event_type AS variant_b,
      CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      round(a.mean - b.mean, 6) AS mean_diff,
      round((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6)
        AS t_stat,
      round((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)
            / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
               + (b.var / b.n) * (b.var / b.n) / (b.n - 1)), 6)
        AS welch_df
    FROM m a JOIN m b
      ON a.event_type = '{_TTEST_A}' AND b.event_type = '{_TTEST_B}'
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``welchTTest(x, g)`` analog (``studentTTest``'s
    unequal-variance form): Welch's t statistic and degrees of freedom
    comparing the value distributions of two event-type variants — the
    A/B-test primitive.

    Everything reduces to per-variant (n, Σv, Σv²) from one filtered
    groupBy with rounded-decimal-exact sums; the 2×2 join of the
    2-row moment frame and the closed-form t/df are driver-trivial.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_TTEST_A, _TTEST_B)
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round("value", 6).cast(_DEC27)).cast("double").alias("sv"),
        F.sum(F.round(F.col("value") * F.col("value"), 6).cast(_DEC27))
        .cast("double")
        .alias("sq"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sv") / F.col("n")).alias("mean"),
        (
            (F.col("sq") - F.col("sv") * F.col("sv") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = m.filter(F.col("event_type") == _TTEST_A).select(
        F.col("event_type").alias("variant_a"),
        F.col("n").alias("n_a_d"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.filter(F.col("event_type") == _TTEST_B).select(
        F.col("event_type").alias("variant_b"),
        F.col("n").alias("n_b_d"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a_d")
    se_b = F.col("var_b") / F.col("n_b_d")
    return a.crossJoin(F.broadcast(b)).select(
        "variant_a",
        "variant_b",
        F.col("n_a_d").cast("bigint").alias("n_a"),
        F.col("n_b_d").cast("bigint").alias("n_b"),
        F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b), 6
        ).alias("t_stat"),
        F.round(
            F.pow(se_a + se_b, F.lit(2))
            / (
                F.pow(se_a, F.lit(2)) / (F.col("n_a_d") - 1)
                + F.pow(se_b, F.lit(2)) / (F.col("n_b_d") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


@query(
    "ab_mann_whitney_u",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{_TTEST_A}', '{_TTEST_B}')
    ), rv AS (
      SELECT value,
        2 * COALESCE(SUM(c) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1 AS r2
      FROM (SELECT value, COUNT(*) AS c FROM base GROUP BY 1)
    ), s AS (
      SELECT base.event_type,
        CAST(COUNT(*) AS DECIMAL(18,0)) AS n,
        SUM(CAST(r2 AS DECIMAL(18,0))) AS r2sum
      FROM base JOIN rv ON rv.value = base.value
      GROUP BY 1
    )
    SELECT a.event_type AS variant_a, b.event_type AS variant_b,
      CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      CAST(a.r2sum - a.n * (a.n + 1) AS DOUBLE) / 2 AS u_a,
      CAST(b.r2sum - b.n * (b.n + 1) AS DOUBLE) / 2 AS u_b,
      round((CAST(a.r2sum - a.n * (a.n + 1) AS DOUBLE) / 2
             - CAST(a.n * b.n AS DOUBLE) / 2)
            / sqrt(CAST(a.n * b.n AS DOUBLE)
                   * (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) + 1)
                   / 12), 6) AS z_approx
    FROM s a JOIN s b
      ON a.event_type = '{_TTEST_A}' AND b.event_type = '{_TTEST_B}'
    """,
)
def ab_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``mannWhitneyUTest(x, g)`` analog: the rank-sum U
    statistics (both directions) and the normal-approximation z score
    for the two A/B variants — the nonparametric companion to
    `ab_welch_ttest`.

    Pooled average ranks come from the distinct-value cumulative-count
    frame (2×avg-rank integers, DECIMAL-exact sums; the same rank
    machinery as `events_rank_corr`), so U_a + U_b = n_a*n_b exactly.
    The z denominator omits the tie correction — documented
    approximation, identical on both engines.

    Scale note: the pooled rank window has no partition key (one
    global ordered pass over DISTINCT values). Bounded here by value
    cardinality; at 100 TB with near-continuous values, bin values
    first (`value_histogram_quantiles` shape) or add the two-level
    cumulative trick (per-range partials + prefix offsets) — the U
    formula is unchanged.
    """
    base = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_TTEST_A, _TTEST_B)
    ).select("event_type", "value")
    agg = base.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    rv = agg.select(
        F.col("value").alias("v"),
        (
            F.coalesce(F.sum("c").over(w), F.lit(0)) * 2 + F.col("c") + 1
        ).alias("r2"),
    )
    s = (
        base.join(rv, F.col("value") == F.col("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(_DEC38).alias("n"),
            F.sum(F.col("r2").cast(_DEC38)).alias("r2sum"),
        )
    )
    a = s.filter(F.col("event_type") == _TTEST_A).select(
        F.col("event_type").alias("variant_a"),
        F.col("n").alias("na"),
        F.col("r2sum").alias("ra"),
    )
    b = s.filter(F.col("event_type") == _TTEST_B).select(
        F.col("event_type").alias("variant_b"),
        F.col("n").alias("nb"),
        F.col("r2sum").alias("rb"),
    )
    u_a = (
        F.col("ra") - F.col("na") * (F.col("na") + 1)
    ).cast("double") / 2
    u_b = (
        F.col("rb") - F.col("nb") * (F.col("nb") + 1)
    ).cast("double") / 2
    nab = (F.col("na") * F.col("nb")).cast("double")
    return a.crossJoin(F.broadcast(b)).select(
        "variant_a",
        "variant_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        u_a.alias("u_a"),
        u_b.alias("u_b"),
        F.round(
            (u_a - nab / 2)
            / F.sqrt(
                nab
                * (F.col("na").cast("double") + F.col("nb").cast("double") + 1)
                / 12
            ),
            6,
        ).alias("z_approx"),
    )


@query(
    "events_skew_kurt_by_type",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS s2,
        CAST(SUM(CAST(round(value * value * value, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS s3,
        CAST(SUM(CAST(round(value * value * value * value, 6)
                      AS DECIMAL(27,6))) AS DOUBLE) AS s4
      FROM events GROUP BY 1
    ), m AS (
      SELECT event_type, n, s1 / n AS mu,
        s2 / n - (s1 / n) * (s1 / n) AS m2,
        s3 / n - 3 * (s1 / n) * (s2 / n)
          + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        s4 / n - 4 * (s1 / n) * (s3 / n)
          + 6 * (s1 / n) * (s1 / n) * (s2 / n)
          - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      round(m3 / sqrt(m2 * m2 * m2), 6) AS skew_pop,
      round(m4 / (m2 * m2), 6) AS kurt_pop
    FROM m
    """,
)
def events_skew_kurt_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``skewPop`` / ``kurtPop`` analogs: population
    skewness and kurtosis of value per event type — the distribution-
    shape screens (symmetric? heavy-tailed?) beyond
    `value_moments_by_type`'s mean/stddev.

    Spark's built-in skewness()/kurtosis() use a different running
    formulation than DuckDB's, so for hash parity the moments come
    from rounded-decimal-exact power sums (S1..S4) and the SAME
    closed-form expansion is evaluated in DOUBLE on both engines —
    one map-side-combinable groupBy either way.
    """
    v = F.col("value")
    s = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round(v, 6).cast(_DEC27)).cast("double").alias("s1"),
        F.sum(F.round(v * v, 6).cast(_DEC27)).cast("double").alias("s2"),
        F.sum(F.round(v * v * v, 6).cast(_DEC27)).cast("double").alias("s3"),
        F.sum(F.round(v * v * v * v, 6).cast(_DEC27))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skew_pop"),
        F.round(m4 / (m2 * m2), 6).alias("kurt_pop"),
    )


@query(
    "events_theils_u",
    oracle=f"""
    WITH obs AS (
      SELECT event_type AS a, {_K_SQL} // 10 AS b, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), ra AS (SELECT a, SUM(o) AS ra_tot FROM obs GROUP BY 1),
    cb AS (SELECT b, SUM(o) AS cb_tot FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    ha AS (
      SELECT CAST(SUM(CAST(round(
          -1.0 * (CAST(ra_tot AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(ra_tot AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(27,6))) AS DOUBLE) AS h_a
      FROM ra CROSS JOIN tot
    ), hab AS (
      SELECT CAST(SUM(CAST(round(
          -1.0 * (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(o AS DOUBLE) / CAST(cb_tot AS DOUBLE)), 6)
        AS DECIMAL(27,6))) AS DOUBLE) AS h_ab
      FROM obs JOIN cb USING (b) CROSS JOIN tot
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
      round(h_a, 6) AS h_a, round(h_ab, 6) AS h_a_given_b,
      round((h_a - h_ab) / h_a, 6) AS theils_u
    FROM ha CROSS JOIN hab
    """,
)
def events_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``theilsU(a, b)`` analog: the uncertainty
    coefficient U(event_type | props-decile) — how much knowing the
    payload bucket reduces event-type entropy. Asymmetric, unlike
    `events_cramers_v`, and shares its contingency frame.

    H(A) and H(A|B) are rounded-decimal-exact entropy sums over the
    marginal / joint count frames; the ratio is one double division.
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("a"),
        F.floor(_k_col() / 10).alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").alias("ra_tot"))
    cb = obs.groupBy("b").agg(F.sum("o").alias("cb_tot"))
    tot = obs.agg(F.sum("o").alias("n"))
    pa = F.col("ra_tot").cast("double") / F.col("n").cast("double")
    ha = (
        ra.crossJoin(F.broadcast(tot))
        .select(F.round(F.lit(-1.0) * pa * F.log(pa), 6).cast(_DEC27).alias("t"))
        .agg(F.sum("t").cast("double").alias("h_a"))
    )
    po = F.col("o").cast("double") / F.col("n").cast("double")
    pc = F.col("o").cast("double") / F.col("cb_tot").cast("double")
    hab = (
        obs.join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .select(F.round(F.lit(-1.0) * po * F.log(pc), 6).cast(_DEC27).alias("t"))
        .agg(F.sum("t").cast("double").alias("h_ab"))
    )
    return (
        tot.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hab))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("h_a"), 6).alias("h_a"),
            F.round(F.col("h_ab"), 6).alias("h_a_given_b"),
            F.round(
                (F.col("h_a") - F.col("h_ab")) / F.col("h_a"), 6
            ).alias("theils_u"),
        )
    )


_SEQ_A = "click"
_SEQ_B = "purchase"


@query(
    "sequence_count_per_user",
    oracle=f"""
    WITH ab AS (
      SELECT user_id, ts, event_id,
        CASE WHEN event_type = '{_SEQ_A}' THEN 1 ELSE 0 END AS is_a,
        CASE WHEN event_type = '{_SEQ_B}' THEN 1 ELSE 0 END AS is_b
      FROM events
      WHERE event_type IN ('{_SEQ_A}', '{_SEQ_B}')
    ), c AS (
      SELECT user_id, is_a, is_b,
        SUM(is_b - is_a) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS excess
      FROM ab
    )
    SELECT user_id,
      CAST(SUM(is_a) AS BIGINT) AS n_a,
      CAST(SUM(is_b) AS BIGINT) AS n_b,
      CAST(SUM(is_b) - GREATEST(MAX(excess), 0) AS BIGINT) AS n_matches
    FROM c GROUP BY user_id
    """,
)
def sequence_count_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1)(?2)')(ts, A, B)`` analog: the
    number of NON-OVERLAPPING '{_SEQ_A}' -> '{_SEQ_B}' occurrences per
    user (each event consumed by at most one match), the repeatable-
    funnel counter beyond `sequence_match_counts`' existence bit.

    Greedy earliest-match counting is sequential, but the matched
    count has a closed relational form — the parenthesis-matching
    identity: matched = total_B - max(0, max over prefixes of
    (cum_B - cum_A)) in (ts, event_id) order. One filtered scan, one
    per-user window over just the A/B events, one aggregate; exact
    integers throughout.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_SEQ_A, _SEQ_B)
    )
    is_a = F.when(F.col("event_type") == _SEQ_A, 1).otherwise(0)
    is_b = F.when(F.col("event_type") == _SEQ_B, 1).otherwise(0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = ev.select(
        "user_id",
        is_a.alias("is_a"),
        is_b.alias("is_b"),
        F.sum(is_b - is_a).over(w).alias("excess"),
    )
    return c.groupBy("user_id").agg(
        F.sum("is_a").cast("bigint").alias("n_a"),
        F.sum("is_b").cast("bigint").alias("n_b"),
        (F.sum("is_b") - F.greatest(F.max("excess"), F.lit(0)))
        .cast("bigint")
        .alias("n_matches"),
    )


_FUNNEL_STAGES = ("view", "click", "purchase")
_FUNNEL_WINDOW_US = 6 * 3600 * 1_000_000  # 6 hours


@query(
    "window_funnel_levels",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsm,
        CASE event_type WHEN '{_FUNNEL_STAGES[0]}' THEN 1
                        WHEN '{_FUNNEL_STAGES[1]}' THEN 2
                        ELSE 3 END AS stage
      FROM events
      WHERE event_type IN ('{_FUNNEL_STAGES[0]}', '{_FUNNEL_STAGES[1]}',
                           '{_FUNNEL_STAGES[2]}')
    ), nxt AS (
      SELECT user_id, tsm, stage,
        MIN(CASE WHEN stage = 2 THEN tsm END) OVER (
          PARTITION BY user_id ORDER BY tsm
          RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n2,
        MIN(CASE WHEN stage = 3 THEN tsm END) OVER (
          PARTITION BY user_id ORDER BY tsm
          RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n3
      FROM ev
    ), s2map AS (
      SELECT user_id, tsm, MIN(n3) AS n3
      FROM nxt WHERE stage = 2 GROUP BY 1, 2
    ), levels AS (
      SELECT s.user_id,
        CASE
          WHEN s.n2 IS NOT NULL
               AND s.n2 - s.tsm <= {_FUNNEL_WINDOW_US}
               AND m.n3 IS NOT NULL
               AND m.n3 - s.tsm <= {_FUNNEL_WINDOW_US} THEN 3
          WHEN s.n2 IS NOT NULL
               AND s.n2 - s.tsm <= {_FUNNEL_WINDOW_US} THEN 2
          ELSE 1
        END AS lvl
      FROM (SELECT * FROM nxt WHERE stage = 1) s
      LEFT JOIN s2map m ON m.user_id = s.user_id AND m.tsm = s.n2
    ), per_user AS (
      SELECT user_id, MAX(lvl) AS level FROM levels GROUP BY 1
    )
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY level
    """,
)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(W, 'strict_increase')(ts, c1, c2,
    c3)`` analog: per user, the deepest view -> click -> purchase
    chain with strictly increasing timestamps completing within a
    6-hour window, reported as users per max level.

    The greedy chain step "first stage-k event strictly after t" is a
    RANGE window (1 FOLLOWING .. UNBOUNDED on epoch-micros), not a
    self-join: each event learns its next-stage successor in one pass,
    starts join their matched stage-2 row's successor for the third
    hop. Per-user windows are bounded; no per-row Python anywhere.
    `funnel_conversion` keeps the unwindowed distinct-stage funnel;
    this adds ClickHouse's time-boxed chain semantics.
    """
    s1, s2, s3 = _FUNNEL_STAGES
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_FUNNEL_STAGES))
        .select(
            "user_id",
            F.unix_micros("ts").alias("tsm"),
            F.when(F.col("event_type") == s1, 1)
            .when(F.col("event_type") == s2, 2)
            .otherwise(3)
            .alias("stage"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsm")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.select(
        "user_id",
        "tsm",
        "stage",
        F.min(F.when(F.col("stage") == 2, F.col("tsm"))).over(w).alias("n2"),
        F.min(F.when(F.col("stage") == 3, F.col("tsm"))).over(w).alias("n3"),
    )
    s2map = (
        nxt.filter(F.col("stage") == 2)
        .groupBy(F.col("user_id").alias("m_user"), F.col("tsm").alias("m_tsm"))
        .agg(F.min("n3").alias("m_n3"))
    )
    starts = nxt.filter(F.col("stage") == 1)
    joined = starts.join(
        s2map,
        (F.col("user_id") == F.col("m_user")) & (F.col("n2") == F.col("m_tsm")),
        "left",
    )
    within = lambda c: c.isNotNull() & (
        c - F.col("tsm") <= _FUNNEL_WINDOW_US
    )
    lvl = (
        F.when(within(F.col("n2")) & within(F.col("m_n3")), 3)
        .when(within(F.col("n2")), 2)
        .otherwise(1)
    )
    per_user = joined.select("user_id", lvl.alias("lvl")).groupBy(
        "user_id"
    ).agg(F.max("lvl").alias("level"))
    return per_user.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


_BARS = (" ", "▁", "▂", "▃", "▄", "▅", "▆",
         "▇", "█")
_BARS_SQL = "ARRAY[' ', '▁', '▂', '▃', '▄', '▅', '▆', '▇', '█']"


@query(
    "events_sparkbar_hourly",
    oracle=f"""
    WITH c AS (
      SELECT event_type, EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS h,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, g.h, COALESCE(c.n, 0) AS n
      FROM (SELECT DISTINCT event_type FROM c) t
      CROSS JOIN (SELECT unnest(range(0, 24)) AS h) g
      LEFT JOIN c ON c.event_type = t.event_type AND c.h = g.h
    ), lv AS (
      SELECT event_type, h, n,
        MAX(n) OVER (PARTITION BY event_type) AS mx
      FROM grid
    )
    SELECT event_type, CAST(MIN(mx) AS BIGINT) AS max_hourly,
      string_agg({_BARS_SQL}[CAST((n * 8 + mx - 1) // mx AS INT) + 1],
                 '' ORDER BY h) AS bar
    FROM lv GROUP BY event_type
    """,
)
def events_sparkbar_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sparkbar(24)(hour, count)`` analog: the 24-char
    block-glyph histogram of hour-of-day volume per event type — the
    at-a-glance diurnal profile.

    Rendering is exact integer arithmetic: level = ceil(8*n/max) via
    (n*8 + max - 1) div max, glyph via literal array lookup (both
    engines treat the block glyphs as plain string literals — no
    codepoint functions, which Spark's chr() caps at 255). Missing
    hours densify from a 24-row sequence cross join, so the bar is
    always exactly 24 glyphs.
    """
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.hour("ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    types = c.select("event_type").distinct()
    grid = (
        types.crossJoin(
            F.broadcast(
                c.sparkSession.range(24).select(
                    F.col("id").cast("int").alias("h")
                )
            )
        )
        .join(c, ["event_type", "h"], "left")
        .fillna(0, subset=["n"])
    )
    mx = Window.partitionBy("event_type")
    lv = grid.select(
        "event_type",
        "h",
        "n",
        F.max("n").over(mx).alias("mx"),
    )
    idx = ((F.col("n") * 8 + F.col("mx") - 1) / F.col("mx")).cast("int")
    bars = F.array(*[F.lit(b) for b in _BARS])
    glyph = F.element_at(bars, idx + 1)
    bar = F.concat_ws(
        "",
        F.transform(
            F.sort_array(F.collect_list(F.struct("h", glyph.alias("g")))),
            lambda s: s["g"],
        ),
    )
    return lv.groupBy("event_type").agg(
        F.min("mx").cast("bigint").alias("max_hourly"),
        bar.alias("bar"),
    )


_IV_TARGET = "purchase"


@query(
    "props_information_value",
    oracle=f"""
    WITH c AS (
      SELECT {_K_SQL} // 10 AS bucket,
        COUNT(CASE WHEN event_type = '{_IV_TARGET}' THEN 1 END) AS good,
        COUNT(CASE WHEN event_type <> '{_IV_TARGET}' THEN 1 END) AS bad
      FROM events GROUP BY 1
    ), t AS (
      SELECT bucket, good, bad,
        SUM(good) OVER () AS g_tot, SUM(bad) OVER () AS b_tot
      FROM c
    )
    SELECT bucket, CAST(good AS BIGINT) AS good, CAST(bad AS BIGINT) AS bad,
      round(ln((CAST(good AS DOUBLE) / CAST(g_tot AS DOUBLE))
               / (CAST(bad AS DOUBLE) / CAST(b_tot AS DOUBLE))), 6) AS woe,
      round((CAST(good AS DOUBLE) / CAST(g_tot AS DOUBLE)
             - CAST(bad AS DOUBLE) / CAST(b_tot AS DOUBLE))
            * ln((CAST(good AS DOUBLE) / CAST(g_tot AS DOUBLE))
                 / (CAST(bad AS DOUBLE) / CAST(b_tot AS DOUBLE))), 6)
        AS iv_term
    FROM t WHERE good > 0 AND bad > 0
    """,
)
def props_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``categoricalInformationValue`` analog: per
    props-decile, the weight of evidence and information-value term
    for predicting the '{_IV_TARGET}' event — the classical feature-
    screening statistic (sum iv_term for the feature's total IV).

    One contingency groupBy + window totals; WoE/IV evaluate in DOUBLE
    on identical integer counts, rounded once. Zero-good/zero-bad
    buckets drop (their WoE is infinite in ANY engine — same rule both
    sides).
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(F.floor(_k_col() / 10).alias("bucket")).agg(
        F.count(F.when(F.col("event_type") == _IV_TARGET, 1)).alias("good"),
        F.count(F.when(F.col("event_type") != _IV_TARGET, 1)).alias("bad"),
    )
    w = Window.partitionBy()
    t = c.select(
        "bucket",
        "good",
        "bad",
        F.sum("good").over(w).alias("g_tot"),
        F.sum("bad").over(w).alias("b_tot"),
    ).filter((F.col("good") > 0) & (F.col("bad") > 0))
    pg = F.col("good").cast("double") / F.col("g_tot").cast("double")
    pb = F.col("bad").cast("double") / F.col("b_tot").cast("double")
    return t.select(
        "bucket",
        F.col("good").cast("bigint").alias("good"),
        F.col("bad").cast("bigint").alias("bad"),
        F.round(F.log(pg / pb), 6).alias("woe"),
        F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_term"),
    )


@query(
    "user_type_minmax_map",
    oracle="""
    WITH kv AS (
      SELECT user_id, event_type,
        MIN(round(value, 6)) AS lo, MAX(round(value, 6)) AS hi
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
      array_to_string(list(event_type ORDER BY event_type), ',') AS keys,
      array_to_string(
        list(printf('%.6f', lo) ORDER BY event_type), ',') AS mins,
      array_to_string(
        list(printf('%.6f', hi) ORDER BY event_type), ',') AS maxs,
      COUNT(*) AS n_keys
    FROM kv GROUP BY user_id
    """,
)
def user_type_minmax_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``minMap`` / ``maxMap`` analogs: per user, the
    key-sorted maps of event-type -> min / max value, completing the
    Map-combinator family next to `user_type_sum_map`.

    Same shape: pre-aggregate (user, key) extremes (bounded collected
    state), printf-render on both engines, string-join in key order.
    MIN/MAX over rounded values are partition-order independent by
    nature — no decimal routing needed.
    """
    kv = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.min(F.round("value", 6)).alias("lo"),
            F.max(F.round("value", 6)).alias("hi"),
        )
    )
    pair = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("event_type"),
                F.format_string("%.6f", F.col("lo")).alias("lo_s"),
                F.format_string("%.6f", F.col("hi")).alias("hi_s"),
            )
        )
    )
    return kv.groupBy("user_id").agg(
        F.concat_ws(",", F.transform(pair, lambda p: p["event_type"])).alias(
            "keys"
        ),
        F.concat_ws(",", F.transform(pair, lambda p: p["lo_s"])).alias("mins"),
        F.concat_ws(",", F.transform(pair, lambda p: p["hi_s"])).alias("maxs"),
        F.count(F.lit(1)).alias("n_keys"),
    )


@query(
    "user_sequence_logprob",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
        LAG(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT user_id, prev_type, event_type AS next_type
      FROM ordered WHERE prev_type IS NOT NULL
    ), pair_cnt AS (
      SELECT prev_type, next_type, COUNT(*) AS c_pair
      FROM trans GROUP BY 1, 2
    ), prev_cnt AS (
      SELECT prev_type, SUM(c_pair) AS c_prev FROM pair_cnt GROUP BY 1
    ), scored AS (
      SELECT t.user_id,
        CAST(round(ln(CAST(c_pair AS DOUBLE) / CAST(c_prev AS DOUBLE)), 6)
             AS DECIMAL(27,6)) AS term
      FROM trans t
      JOIN pair_cnt p ON p.prev_type = t.prev_type
                     AND p.next_type = t.next_type
      JOIN prev_cnt q ON q.prev_type = t.prev_type
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
      round(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY user_id
    """,
)
def user_sequence_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the average log-likelihood of their event-type
    sequence under the corpus-wide MLE transition matrix — the
    behavioral-anomaly score (users whose journeys the global Markov
    model finds improbable). `event_transition_matrix` holds the
    model; this scores every sequence against it, the events-side
    sibling of `docs_bigram_logprob`.

    Per-transition log terms round to 6 decimals and sum as DECIMAL
    (the transcendental convention); the model tables join back BY
    KEY, never broadcast-unbounded. Windows partition per user.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    pair_cnt = trans.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("c_pair")
    )
    prev_cnt = pair_cnt.groupBy(
        F.col("prev_type").alias("q_prev")
    ).agg(F.sum("c_pair").alias("c_prev"))
    pc = pair_cnt.select(
        F.col("prev_type").alias("p_prev"),
        F.col("next_type").alias("p_next"),
        "c_pair",
    )
    term = F.round(
        F.log(
            F.col("c_pair").cast("double") / F.col("c_prev").cast("double")
        ),
        6,
    ).cast(_DEC27)
    return (
        trans.join(
            pc,
            (F.col("prev_type") == F.col("p_prev"))
            & (F.col("next_type") == F.col("p_next")),
        )
        .join(prev_cnt, F.col("prev_type") == F.col("q_prev"))
        .select("user_id", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.round(
                F.sum("term").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


@query(
    "supplier_hhi_by_nation",
    oracle="""
    WITH rev AS (
      SELECT s_nationkey AS nation, l_suppkey AS supp,
        SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(27,6))) AS r
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ), sq AS (
      SELECT nation, COUNT(*) AS n_supp,
        SUM(CAST(r AS DECIMAL(19,6)) * CAST(r AS DECIMAL(19,6)))
          AS r_sq_sum,
        SUM(r) AS r_tot
      FROM rev GROUP BY 1
    )
    SELECT nation, CAST(n_supp AS BIGINT) AS n_suppliers,
      round(CAST(r_sq_sum AS DOUBLE)
            / (CAST(r_tot AS DOUBLE) * CAST(r_tot AS DOUBLE)), 9) AS hhi
    FROM sq
    """,
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation (1/n = perfectly even, 1.0 = single supplier) — the
    market-concentration screen over the supply side.

    Revenue pre-aggregates decimal-exact per (nation, supplier) as
    integer cents; HHI = sum(r^2) / (sum r)^2 with the squared sum
    kept EXACT in decimal, so the only float op is one identical
    double division per nation — no per-term rounding, no tie risk.
    Two map-side-combinable groupBys, nothing else.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("nation"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast(_DEC27)
            ).alias("r")
        )
    )
    # Scale-6 identity rescale: casting (27,6) down to (x,6) never
    # rounds, sidestepping the engines' different decimal-rounding
    # rules (Spark HALF_UP vs DuckDB truncation). Widths differ so
    # the SQUARE stays exact on each engine: (18,6) keeps Spark's
    # product at 37 digits (its 38 cap silently reduces scale above
    # that); (19,6) gives DuckDB int128 storage (int64 overflows).
    r2 = F.col("r").cast("decimal(18,6)")
    sq = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum(r2 * r2).alias("r_sq_sum"),
        F.sum("r").alias("r_tot"),
    )
    return sq.select(
        "nation",
        "n_suppliers",
        # the two engines' decimal->double conversions can differ by
        # one ulp on the ~28-digit squared sum; one final rounding of
        # the quotient absorbs it.
        F.round(
            F.col("r_sq_sum").cast("double")
            / (
                F.col("r_tot").cast("double")
                * F.col("r_tot").cast("double")
            ),
            9,
        ).alias("hhi"),
    )


@query(
    "user_activity_gini",
    oracle="""
    WITH act AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS rk,
        COUNT(*) OVER () AS n, SUM(c) OVER () AS c_tot
      FROM act
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_users,
      CAST(MIN(c_tot) AS BIGINT) AS n_events,
      round(2.0 * SUM(CAST(rk AS DOUBLE) * c)
              / (CAST(MIN(n) AS DOUBLE) * MIN(c_tot))
            - (CAST(MIN(n) AS DOUBLE) + 1) / MIN(n), 6) AS gini
    FROM ranked
    """,
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts (0 = perfectly even
    activity, ->1 = one user dominates) — the inequality summary of
    the engagement distribution, computed by the exact rank formula
    G = 2*Σ(rank*x)/(n*Σx) - (n+1)/n with a user_id tiebreak so the
    rank assignment (and hence the statistic) is engine-independent.

    The ordered pass runs over |users| aggregate rows, not raw events,
    and the rank itself is the exact global index of the two-level
    ordered scan (``with_global_index``) — never a single-partition
    Window.orderBy, so
    the shape survives any user count. rank*count products are
    integer-valued doubles (exact, order-independent), so the final
    sums are partitioning-independent.
    """
    from clickhouse_batcher_spark.functions import with_global_index

    act = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    idxed = with_global_index(act, ["c", "user_id"], index_name="_rk0")
    agg = idxed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("ct"),
        F.sum((F.col("_rk0") + 1).cast("double") * F.col("c")).alias("rc"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("ct").cast("bigint").alias("n_events"),
        F.round(
            F.lit(2.0) * F.col("rc") / (n_d * F.col("ct"))
            - (n_d + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "events_hour_anova",
    oracle="""
    WITH base AS (
      SELECT event_type, EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hod,
             value FROM events
    ), cell AS (
      SELECT event_type, hod, CAST(COUNT(*) AS DOUBLE) AS n_g,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS s_g
      FROM base GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS s,
        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS sq,
        CAST(COUNT(DISTINCT hod) AS DOUBLE) AS k
      FROM base GROUP BY 1
    ), ssb AS (
      SELECT cell.event_type,
        CAST(SUM(CAST(round(s_g * s_g / n_g, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS sum_gsq
      FROM cell GROUP BY 1
    )
    SELECT tot.event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      round((sum_gsq - s * s / n) / (sq - s * s / n), 6) AS eta_sq,
      round(((sum_gsq - s * s / n) / (k - 1))
            / ((sq - sum_gsq) / (n - k)), 6) AS f_stat
    FROM tot JOIN ssb ON ssb.event_type = tot.event_type
    """,
)
def events_hour_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of value across hour-of-day groups per event
    type: eta-squared (the share of variance explained by the hour —
    the seasonality-strength statistic) and the F statistic.

    Everything reduces to decimal-exact moment sums: per-cell
    (n, Σv), per-type (n, Σv, Σv²), between-group SS via the
    Σ(S_g²/n_g) identity with each cell term rounded-decimal-summed —
    two map-side-combinable groupBys, closed forms in DOUBLE.
    """
    base = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod"), "value"
    )
    cell = base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("double").alias("n_g"),
        F.sum(F.round("value", 6).cast(_DEC27)).cast("double").alias("s_g"),
    )
    tot = base.groupBy(F.col("event_type").alias("t_et")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round("value", 6).cast(_DEC27)).cast("double").alias("s"),
        F.sum(F.round(F.col("value") * F.col("value"), 6).cast(_DEC27))
        .cast("double")
        .alias("sq"),
        F.countDistinct("hod").cast("double").alias("k"),
    )
    ssb = cell.groupBy("event_type").agg(
        F.sum(
            F.round(F.col("s_g") * F.col("s_g") / F.col("n_g"), 6).cast(
                _DEC27
            )
        )
        .cast("double")
        .alias("sum_gsq")
    )
    j = ssb.join(F.broadcast(tot), F.col("event_type") == F.col("t_et"))
    ss_between = F.col("sum_gsq") - F.col("s") * F.col("s") / F.col("n")
    ss_total = F.col("sq") - F.col("s") * F.col("s") / F.col("n")
    return j.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(ss_between / ss_total, 6).alias("eta_sq"),
        F.round(
            (ss_between / (F.col("k") - 1))
            / ((F.col("sq") - F.col("sum_gsq")) / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@query(
    "event_type_pmi",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), n_users AS (
      SELECT COUNT(DISTINCT user_id) AS n FROM pres
    ), marg AS (
      SELECT event_type, COUNT(*) AS c FROM pres GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS c_ab
      FROM pres a JOIN pres b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(c_ab AS BIGINT) AS n_both,
      CAST(ma.c AS BIGINT) AS n_a, CAST(mb.c AS BIGINT) AS n_b,
      round(ln(CAST(c_ab AS DOUBLE) * n
               / (CAST(ma.c AS DOUBLE) * mb.c)), 6) AS pmi,
      CASE WHEN c_ab = n THEN 0.0
           ELSE round(-ln(CAST(c_ab AS DOUBLE) * n
                          / (CAST(ma.c AS DOUBLE) * mb.c))
                      / ln(CAST(c_ab AS DOUBLE) / n), 6) END AS npmi
    FROM pairs
    JOIN marg ma ON ma.event_type = type_a
    JOIN marg mb ON mb.event_type = type_b
    CROSS JOIN n_users
    """,
)
def event_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event-type pairs over
    user presence sets (does engaging with A make engaging with B
    more likely than independence?), plus the [-1, 1]-normalized
    NPMI — the information-theoretic association measure next to
    `part_copurchase_lift`'s ratio form and
    `distinct_users_type_overlap`'s raw counts.

    Presence sets dedupe first (|users| x |types| rows max); the pair
    join is per-user-bounded by the 5-type universe; marginals
    broadcast. Log terms evaluate in DOUBLE on identical integer
    ratios, rounded once.
    """
    pres = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    n_users = pres.select("user_id").distinct().count()
    marg = pres.groupBy(F.col("event_type").alias("m_et")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a = pres.select("user_id", F.col("event_type").alias("type_a"))
    b = pres.select(
        F.col("user_id").alias("uid_b"), F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("uid_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ma = marg.select(F.col("m_et").alias("ka"), F.col("c").alias("n_a"))
    mb = marg.select(F.col("m_et").alias("kb"), F.col("c").alias("n_b"))
    j = pairs.join(F.broadcast(ma), F.col("type_a") == F.col("ka")).join(
        F.broadcast(mb), F.col("type_b") == F.col("kb")
    )
    ratio = (
        F.col("c_ab").cast("double")
        * n_users
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return j.select(
        "type_a",
        "type_b",
        F.col("c_ab").cast("bigint").alias("n_both"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.log(ratio), 6).alias("pmi"),
        # c_ab = n forces both marginals to n too: pmi is 0 and the
        # -ln p(ab) normalizer is 0 — take the continuous limit 0.
        F.when(F.col("c_ab") == n_users, F.lit(0.0))
        .otherwise(
            F.round(
                -F.log(ratio)
                / F.log(F.col("c_ab").cast("double") / n_users),
                6,
            )
        )
        .alias("npmi"),
    )


@query(
    "ab_ks_test",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{_TTEST_A}', '{_TTEST_B}')
    ), vc AS (
      SELECT value,
        SUM(CASE WHEN event_type = '{_TTEST_A}' THEN 1 ELSE 0 END) AS ca,
        SUM(CASE WHEN event_type = '{_TTEST_B}' THEN 1 ELSE 0 END) AS cb
      FROM base GROUP BY 1
    ), cum AS (
      SELECT
        CAST(SUM(ca) OVER (ORDER BY value
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cca,
        CAST(SUM(cb) OVER (ORDER BY value
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS ccb
      FROM vc
    ), tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
      FROM vc
    ), d AS (
      SELECT MAX(ABS(cca * t.n_b - ccb * t.n_a)) AS d_num
      FROM cum CROSS JOIN tot t
    )
    SELECT '{_TTEST_A}' AS variant_a, '{_TTEST_B}' AS variant_b,
      t.n_a, t.n_b,
      CAST(CAST(d.d_num AS HUGEINT) * 1000000
        // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT) AS d_ppm,
      CAST(CASE WHEN
        CAST(d.d_num AS HUGEINT) * d.d_num * 100000
        > CAST(184443 AS HUGEINT) * (t.n_a + t.n_b) * t.n_a * t.n_b
      THEN 1 ELSE 0 END AS BIGINT) AS reject_05
    FROM d CROSS JOIN tot t
    """,
)
def ab_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``kolmogorovSmirnovTest('two-sided')`` analog: the
    two-sample KS D statistic between the value distributions of the
    two A/B variants, plus the alpha=0.05 decision.

    Entirely exact integer arithmetic: on the DISTINCT-value frame
    (|values|, not |rows| — the same rank discipline as
    ``ab_mann_whitney_u`` above), the cumulative per-variant counts
    give D's numerator as max|CA(v)*n_b - CB(v)*n_a|; D renders as
    integer ppm of n_a*n_b. The reject rule D > c(0.05)*sqrt((n_a+n_b)
    /(n_a*n_b)) squares to the integer comparison d_num^2 * 1e5 >
    184443*(n_a+n_b)*n_a*n_b (c^2 = 1.3581^2 = 1.84443 exact to the
    published 5-digit Smirnov constant), carried in DECIMAL(38,0) /
    HUGEINT so both engines decide identically — no sqrt, no float.
    Holds to ~sf10 (1e31 < 38 digits); beyond that the asymptotic
    normalized statistic in double is the documented fallback.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_TTEST_A, _TTEST_B)
    )
    vc = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == _TTEST_A, 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("event_type") == _TTEST_B, 1).otherwise(0)
        ).alias("cb"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.select(
        F.sum("ca").over(w).cast("bigint").alias("cca"),
        F.sum("cb").over(w).cast("bigint").alias("ccb"),
    )
    tot = vc.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("cca") * F.col("n_b") - F.col("ccb") * F.col("n_a")
            ).alias("dn")
        )
        .agg(F.max("dn").alias("d_num"))
    )
    big = "decimal(38,0)"
    return d.crossJoin(F.broadcast(tot)).select(
        F.lit(_TTEST_A).alias("variant_a"),
        F.lit(_TTEST_B).alias("variant_b"),
        "n_a",
        "n_b",
        F.expr(
            "CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000"
            " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        ).alias("d_ppm"),
        F.when(
            F.col("d_num").cast(big) * F.col("d_num") * 100000
            > F.lit(184443).cast(big)
            * (F.col("n_a") + F.col("n_b"))
            * F.col("n_a")
            * F.col("n_b"),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# A/B assignment + sample-ratio-mismatch (SRM) guardrail
# ---------------------------------------------------------------------------
def _srm_oracle() -> str:
    from clickhouse_batcher_spark.operators.sampling import _sql_bucket

    arm = _sql_bucket("user_id", buckets=2, salt="abarm")
    return f"""
    WITH u AS (
      SELECT user_id, {arm} AS arm,
        CAST(COUNT(*) AS BIGINT) AS n_ev,
        SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS sv
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN arm = 0 THEN n_ev ELSE 0 END) AS BIGINT)
          AS events_a,
        CAST(SUM(CASE WHEN arm = 1 THEN n_ev ELSE 0 END) AS BIGINT)
          AS events_b,
        CAST(SUM(CASE WHEN arm = 0 THEN sv ELSE 0 END) AS DOUBLE) AS sv_a,
        CAST(SUM(CASE WHEN arm = 1 THEN sv ELSE 0 END) AS DOUBLE) AS sv_b
      FROM u
    )
    SELECT n_a, n_b, events_a, events_b,
      round(sv_a / n_a, 6) AS mean_value_a,
      round(sv_b / n_b, 6) AS mean_value_b,
      CAST(CAST(1000 AS HUGEINT) * (n_a - n_b) * (n_a - n_b)
           // (n_a + n_b) AS BIGINT) AS srm_chi2_milli,
      CAST(CASE WHEN CAST(1000 AS HUGEINT) * (n_a - n_b) * (n_a - n_b)
                     > CAST(3841 AS HUGEINT) * (n_a + n_b)
                THEN 1 ELSE 0 END AS BIGINT) AS srm_reject_05
    FROM s
    """


@query("ab_assignment_srm", oracle=_srm_oracle())
def ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50/50 experiment assignment (salted-hash bucket
    per user — the reproducible arm function every A/B platform keys
    on) plus the SAMPLE-RATIO-MISMATCH guardrail: chi-square of the
    observed split against 50/50, chi2 = (n_a-n_b)^2/(n_a+n_b), in
    exact integer milli-units with the alpha=0.05 df=1 decision as a
    pure integer comparison (3.841 critical value). SRM is the first
    validity check run on any experiment — a rejected split means the
    assignment or logging is broken and the metric deltas are
    meaningless.

    Per-arm event counts and decimal-exact mean value ride along from
    the same single groupBy(user) + conditional-aggregate pass — one
    shuffle on user_id, one 1-row reduce; HUGEINT/DECIMAL(38) keeps
    the squared term exact at any population.
    """
    from clickhouse_batcher_spark.operators.packing import _bucket

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        F.sum(F.round("value", 6).cast(_DEC27)).alias("sv"),
    ).withColumn("arm", _bucket("user_id", 2, "abarm"))
    big = "decimal(38,0)"
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_ev")).otherwise(0))
        .cast("bigint")
        .alias("events_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_ev")).otherwise(0))
        .cast("bigint")
        .alias("events_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("sv")).otherwise(0))
        .cast("double")
        .alias("sv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("sv")).otherwise(0))
        .cast("double")
        .alias("sv_b"),
    )
    d2 = (
        F.lit(1000).cast(big)
        * (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
    )
    return s.select(
        "n_a",
        "n_b",
        "events_a",
        "events_b",
        F.round(F.col("sv_a") / F.col("n_a"), 6).alias("mean_value_a"),
        F.round(F.col("sv_b") / F.col("n_b"), 6).alias("mean_value_b"),
        F.expr(
            "CAST(CAST(1000 AS DECIMAL(38,0)) * (n_a - n_b) * (n_a - n_b)"
            " DIV (n_a + n_b) AS BIGINT)"
        ).alias("srm_chi2_milli"),
        F.when(
            d2 > F.lit(3841).cast(big) * (F.col("n_a") + F.col("n_b")), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("srm_reject_05"),
    )


# ---------------------------------------------------------------------------
# A/B experiment power analysis (minSampleSize* parity)
# ---------------------------------------------------------------------------
# Fixed design constants, identical literals on both engines:
# z_{1-alpha/2} for alpha=0.05 and z_{power} for power=0.8.
_Z_ALPHA = 1.959964
_Z_POWER = 0.841621
_MDE_REL = 0.05   # continuous metric: detect a 5% relative lift
_MDE_ABS = 0.01   # conversion metric: detect +1pp absolute


@query(
    "ab_min_sample_size",
    oracle=f"""
    WITH cont AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sv,
        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS sq
      FROM events WHERE event_type = '{_TTEST_A}'
    ), conv AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_users,
        CAST(SUM(CASE WHEN first_type = 'purchase' THEN 1 ELSE 0 END)
             AS DOUBLE) AS n_conv
      FROM (
        SELECT user_id,
          CASE WHEN row_number() OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
               THEN event_type END AS first_type
        FROM events
      ) WHERE first_type IS NOT NULL
    ), c1 AS (
      SELECT 'continuous_value' AS metric,
        round(sv / n, 6) AS baseline,
        round((sq - sv * sv / n) / (n - 1), 6) AS variance,
        CAST({_MDE_REL} AS DOUBLE) AS mde,
        2.0 * ({_Z_ALPHA} + {_Z_POWER}) * ({_Z_ALPHA} + {_Z_POWER})
          * ((sq - sv * sv / n) / (n - 1))
          / (({_MDE_REL} * (sv / n)) * ({_MDE_REL} * (sv / n))) AS raw
      FROM cont
    ), c2 AS (
      SELECT 'conversion_rate' AS metric,
        round(n_conv / n_users, 6) AS baseline,
        round((n_conv / n_users) * (1 - n_conv / n_users), 6) AS variance,
        CAST({_MDE_ABS} AS DOUBLE) AS mde,
        2.0 * ({_Z_ALPHA} + {_Z_POWER}) * ({_Z_ALPHA} + {_Z_POWER})
          * ((n_conv / n_users) * (1 - n_conv / n_users))
          / ({_MDE_ABS} * {_MDE_ABS}) AS raw
      FROM conv
    )
    SELECT metric, baseline, variance, mde,
      round(raw, 6) AS n_per_arm_exact,
      CAST(CEIL(round(raw, 6)) AS BIGINT) AS n_per_arm
    FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
    """,
)
def ab_min_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``minSampleSizeContinuous`` / ``minSampleSizeConversion``
    parity: required per-arm sample size to detect (a) a 5% relative
    lift on the baseline variant's value metric and (b) a +1pp
    absolute lift on the landing conversion rate (share of users
    whose FIRST event is a purchase), at alpha=0.05 /
    power=0.8 (two-sided z approximation, n = 2(z_a+z_b)^2 sigma^2 /
    mde^2) — the pre-experiment power check that pairs with the
    post-hoc tests (`ab_welch_ttest`, `ab_ks_test`) and the
    `ab_assignment_srm` validity guardrail.

    Moments are decimal-exact (the welch discipline); the closed form
    is one fixed IEEE sequence over identical inputs with fixed
    z-constant literals, rounded once at 6 before the CEIL so the
    integer answer cannot straddle an engine boundary. Two scans
    reduce to two 1-row frames; nothing is per-row beyond them.
    """
    ev = load_table(spark, sf_dir, "events")
    # explicit multiply (not **2): bit-identical to the oracle's
    # (za+zb)*(za+zb) IEEE sequence
    z2 = (_Z_ALPHA + _Z_POWER) * (_Z_ALPHA + _Z_POWER)
    cont = ev.filter(F.col("event_type") == _TTEST_A).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round("value", 6).cast(_DEC27)).cast("double").alias("sv"),
        F.sum(F.round(F.col("value") * F.col("value"), 6).cast(_DEC27))
        .cast("double")
        .alias("sq"),
    )
    mean = F.col("sv") / F.col("n")
    var = (F.col("sq") - F.col("sv") * F.col("sv") / F.col("n")) / (
        F.col("n") - 1
    )
    c1 = cont.select(
        F.lit("continuous_value").alias("metric"),
        F.round(mean, 6).alias("baseline"),
        F.round(var, 6).alias("variance"),
        F.lit(float(_MDE_REL)).alias("mde"),
        (
            F.lit(2.0)
            * F.lit(z2)
            * var
            / ((F.lit(_MDE_REL) * mean) * (F.lit(_MDE_REL) * mean))
        ).alias("raw"),
    )
    conv = (
        ev.groupBy("user_id")
        .agg(
            F.min_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("first_type")
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_users"),
            F.sum(F.when(F.col("first_type") == "purchase", 1).otherwise(0))
            .cast("double")
            .alias("n_conv"),
        )
    )
    p = F.col("n_conv") / F.col("n_users")
    c2 = conv.select(
        F.lit("conversion_rate").alias("metric"),
        F.round(p, 6).alias("baseline"),
        F.round(p * (1 - p), 6).alias("variance"),
        F.lit(float(_MDE_ABS)).alias("mde"),
        (
            F.lit(2.0) * F.lit(z2) * (p * (1 - p))
            / F.lit(_MDE_ABS * _MDE_ABS)
        ).alias("raw"),
    )
    return c1.unionAll(c2).select(
        "metric",
        "baseline",
        "variance",
        "mde",
        F.round("raw", 6).alias("n_per_arm_exact"),
        F.ceil(F.round("raw", 6)).cast("bigint").alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# corrMatrix parity: pairwise Pearson over per-user R/F/M metrics
# ---------------------------------------------------------------------------
@query(
    "user_metric_corr_matrix",
    oracle="""
    WITH mx AS (
      SELECT MAX(CAST(epoch(date_trunc('day', CAST(o_orderdate
                 AS TIMESTAMP))) AS BIGINT) // 86400) AS maxd
      FROM orders
    ), u AS (
      SELECT o_custkey,
        CAST(COUNT(*) AS BIGINT) AS freq,
        CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS BIGINT) AS monetary_c,
        CAST(mx.maxd - MAX(CAST(epoch(date_trunc('day',
             CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400)
             AS BIGINT) AS recency_d
      FROM orders CROSS JOIN mx GROUP BY o_custkey, mx.maxd
    ), long AS (
      SELECT o_custkey, m.metric, CASE m.metric
        WHEN 'freq' THEN freq
        WHEN 'monetary_c' THEN monetary_c
        ELSE recency_d END AS x
      FROM u CROSS JOIN (VALUES ('freq'), ('monetary_c'), ('recency_d'))
        AS m(metric)
    ), moments AS (
      SELECT a.metric AS metric_a, b.metric AS metric_b,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        SUM(CAST(a.x AS HUGEINT)) AS sa,
        SUM(CAST(b.x AS HUGEINT)) AS sb,
        SUM(CAST(a.x AS HUGEINT) * a.x) AS saa,
        SUM(CAST(b.x AS HUGEINT) * b.x) AS sbb,
        SUM(CAST(a.x AS HUGEINT) * b.x) AS sab
      FROM long a JOIN long b
        ON b.o_custkey = a.o_custkey AND a.metric < b.metric
      GROUP BY 1, 2
    )
    SELECT metric_a, metric_b, n_users,
      round((CAST(n_users AS DOUBLE) * CAST(sab AS DOUBLE)
             - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / sqrt((CAST(n_users AS DOUBLE) * CAST(saa AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                   * (CAST(n_users AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
            6) AS pearson_r
    FROM moments
    """,
)
def user_metric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``corrMatrix`` analog: the pairwise Pearson matrix
    over per-customer recency / frequency / monetary metrics — the
    multivariate companion to `customer_rfm_segments` (are the three
    RFM axes actually independent enough to segment on?).

    Every moment is an exact integer (order counts, cent-integer
    spend via the DECIMAL(18,2) money route, epoch-day recency), so
    the five sums are HUGEINT/DECIMAL(38)-exact and the one closed
    form is a fixed IEEE sequence rounded once — the same moment
    discipline as `event_type_value_correlation`, extended to the
    metric-pair matrix via a 3-way metric explode + self-join on the
    tiny per-user frame (|users| x 3 rows, never the order count).
    """
    orders = load_table(spark, sf_dir, "orders")
    day = (
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400
    ).cast("bigint")
    mx = orders.agg(F.max(day).alias("maxd"))
    u = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
            ).cast("bigint").alias("monetary_c"),
            (F.first("maxd") - F.max(day)).cast("bigint").alias("_r"),
        )
        .select(
            "o_custkey",
            "freq",
            "monetary_c",
            F.col("_r").alias("recency_d"),
        )
    )
    metric = F.explode(
        F.array(F.lit("freq"), F.lit("monetary_c"), F.lit("recency_d"))
    ).alias("metric")
    long = u.select("o_custkey", metric, "freq", "monetary_c", "recency_d")
    long = long.select(
        "o_custkey",
        "metric",
        F.when(F.col("metric") == "freq", F.col("freq"))
        .when(F.col("metric") == "monetary_c", F.col("monetary_c"))
        .otherwise(F.col("recency_d"))
        .alias("x"),
    )  # pair self-join reuse: AQE's ReusedExchange dedupes the
    # shuffled subtree at runtime (measured round 10 — an explicit
    # persist only added materialization cost)
    big = "decimal(38,0)"
    a = long.select(
        "o_custkey", F.col("metric").alias("metric_a"), F.col("x").alias("xa")
    )
    b = long.select(
        "o_custkey", F.col("metric").alias("metric_b"), F.col("x").alias("xb")
    )
    moments = (
        a.join(b, "o_custkey")
        .filter(F.col("metric_a") < F.col("metric_b"))
        .groupBy("metric_a", "metric_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.col("xa").cast(big)).alias("sa"),
            F.sum(F.col("xb").cast(big)).alias("sb"),
            F.sum(F.col("xa").cast(big) * F.col("xa")).alias("saa"),
            F.sum(F.col("xb").cast(big) * F.col("xb")).alias("sbb"),
            F.sum(F.col("xa").cast(big) * F.col("xb")).alias("sab"),
        )
    )
    nd = F.col("n_users").cast("double")
    num = nd * F.col("sab").cast("double") - F.col("sa").cast("double") * F.col(
        "sb"
    ).cast("double")
    den = F.sqrt(
        (nd * F.col("saa").cast("double")
         - F.col("sa").cast("double") * F.col("sa").cast("double"))
        * (nd * F.col("sbb").cast("double")
           - F.col("sb").cast("double") * F.col("sb").cast("double"))
    )
    return moments.select(
        "metric_a",
        "metric_b",
        "n_users",
        F.round(num / den, 6).alias("pearson_r"),
    )
