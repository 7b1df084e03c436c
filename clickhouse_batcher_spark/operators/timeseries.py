"""Temporal analytics over the event stream: smoothing, anomaly
detection, and sequence transitions.

Three classic time-series questions a monitoring / training-data
pipeline asks of an event table, each expressed shuffle-minimally:

- **Weighted moving average** (linear-decay smoother): integer
  weights x exact decimal totals, so the windowed sum is
  order-independent and hash-identical across engines. The window is
  materialized by *offset explosion* (each hourly total contributes
  to the WMA_HOURS windows that cover it), the same constant-fan-out
  trick as the sliding distinct sketch: one equi-shuffle on
  (type, hour), no range self-join, no per-window sort.
- **Z-score anomalies**: per-type mean/stddev from *integer* moment
  sums over floor-quantized hourly totals. Whole-unit quantization is
  the determinism trick: scale-12 decimal moments (x² of a scale-6
  total) do NOT round-trip through double identically across engines
  (observed 1-ULP cast divergence DuckDB vs Spark), but integer
  moments below 2^53 convert exactly, making every input to the
  closed-form z expression bit-identical; the remaining products /
  subtraction / sqrt / division are a fixed IEEE sequence, so the
  |z| >= threshold cut is deterministic on both engines. The <1-unit
  quantization error on ~1e5-unit hourly totals shifts z by ~1e-5 —
  far below any plausible alert threshold's sensitivity.
- **Markov transition matrix**: lag() over (user, time) ordering
  gives consecutive event-type pairs; one groupBy + a partition-local
  window normalizes rows into transition probabilities. The only
  float is one IEEE division of two exact integers.

Scale shape:
- WMA fan-out is WMA_HOURS rows per *hourly aggregate* (not per
  event) — the explode happens after the first map-side-combined
  groupBy, so its input is |types| x |hours|, already tiny relative
  to the event count.
- anomaly moments reduce to one row per type; the hourly frame joins
  against a broadcast of those moments.
- the transition window shuffles once on user_id (events for one
  user fit an executor by assumption, same as sessionization), and
  the pair aggregation is map-side combined down to |types|² rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import dec
from clickhouse_batcher_spark.tables import load_table

WMA_HOURS = 12      # trailing window length; weight = WMA_HOURS - distance
ANOM_Z = 2.5        # |z| cut for the anomaly report

_HOURLY_SQL = """
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
             SUM(CAST(value AS DECIMAL(27,6))) AS tot
      FROM events GROUP BY 1, 2
"""


def _hourly(events: DataFrame) -> DataFrame:
    """Per (event_type, hour) exact-decimal value totals."""
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.sum(dec("value")).alias("tot"))


# ---------------------------------------------------------------------------
# Linear-weighted moving average (gap-aware, exact decimal)
# ---------------------------------------------------------------------------
@query(
    "events_hourly_wma",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL}),
    contrib AS (
      SELECT event_type, h + to_hours(off) AS hour,
             ({WMA_HOURS} - off) AS w, tot
      FROM hourly, unnest(generate_series(0, {WMA_HOURS - 1})) AS t(off)
    ),
    agg AS (
      SELECT event_type, hour,
             SUM(CAST(tot AS DECIMAL(27,6)) * w) AS num,
             CAST(SUM(w) AS BIGINT) AS den,
             CAST(count(*) AS BIGINT) AS n_hours_present
      FROM contrib GROUP BY 1, 2
    )
    SELECT a.event_type, a.hour,
           CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) AS wma_value,
           a.n_hours_present
    FROM agg a JOIN hourly o
      ON o.event_type = a.event_type AND o.h = a.hour
    """,
)
def events_hourly_wma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing linear-weighted moving average of hourly value totals.

    Weight for an hour at distance d in [0, WMA_HOURS) is
    WMA_HOURS - d; missing hours contribute nothing and the
    denominator shrinks accordingly (gap-aware normalization). Output
    rows are exactly the observed (type, hour) pairs.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.sum(dec("value")).cast("decimal(27,6)").alias("tot"))
    contrib = hourly.select(
        "event_type",
        "h",
        "tot",
        F.explode(F.sequence(F.lit(0), F.lit(WMA_HOURS - 1))).alias("off"),
    ).select(
        "event_type",
        (F.col("h") + F.make_dt_interval(hours=F.col("off"))).alias("hour"),
        (F.lit(WMA_HOURS) - F.col("off")).alias("w"),
        "tot",
    )
    agg = contrib.groupBy("event_type", "hour").agg(
        F.sum(F.col("tot") * F.col("w")).alias("num"),
        F.sum("w").cast("bigint").alias("den"),
        F.count(F.lit(1)).alias("n_hours_present"),
    )
    obs = hourly.select("event_type", F.col("h").alias("hour"))
    return agg.join(obs, ["event_type", "hour"], "left_semi").select(
        "event_type",
        "hour",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "wma_value"
        ),
        "n_hours_present",
    )


# ---------------------------------------------------------------------------
# Z-score anomaly report (exact moments -> deterministic threshold)
# ---------------------------------------------------------------------------
@query(
    "events_hourly_anomalies",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL}),
    t AS (SELECT h, event_type, CAST(tot AS DECIMAL(18,6)) AS x,
                 CAST(FLOOR(tot) AS BIGINT) AS xi
          FROM hourly),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(SUM(xi) AS DOUBLE) AS s1,
             CAST(SUM(CAST(xi AS DECIMAL(19,0)) * xi) AS DOUBLE) AS s2
      FROM t GROUP BY 1
    )
    SELECT t.event_type, t.h AS hour,
           CAST(t.x AS DOUBLE) AS hour_total,
           (CAST(t.xi AS DOUBLE) - m.s1 / CAST(m.n_hours AS DOUBLE))
             / sqrt((CAST(m.n_hours AS DOUBLE) * m.s2 - m.s1 * m.s1)
                    / (CAST(m.n_hours AS DOUBLE) * CAST(m.n_hours AS DOUBLE)))
             AS zscore,
           m.n_hours
    FROM t JOIN m ON m.event_type = t.event_type
    WHERE m.n_hours > 1
      AND (CAST(m.n_hours AS DOUBLE) * m.s2 - m.s1 * m.s1) > 0
      AND abs((CAST(t.xi AS DOUBLE) - m.s1 / CAST(m.n_hours AS DOUBLE))
              / sqrt((CAST(m.n_hours AS DOUBLE) * m.s2 - m.s1 * m.s1)
                     / (CAST(m.n_hours AS DOUBLE) * CAST(m.n_hours AS DOUBLE))))
          >= {ANOM_Z}
    """,
)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose per-type value total deviates >= ANOM_Z population
    stddevs from that type's mean hourly total."""
    events = load_table(spark, sf_dir, "events")
    return anomalies_from_hourly(_hourly(events))


def anomalies_from_hourly(hourly: DataFrame) -> DataFrame:
    """Z-score finalize over a (h, event_type, tot) hourly-total frame.

    Hourly totals are *mergeable state* (decimal sums merge exactly
    across partial inputs), and this finalize is a pure function of
    that state.
    """
    t = hourly.select(
        "h",
        "event_type",
        F.col("tot").cast("decimal(18,6)").alias("x"),
        F.floor("tot").cast("bigint").alias("xi"),
    )
    m = t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("xi").cast("double").alias("s1"),
        F.sum(F.col("xi").cast("decimal(19,0)") * F.col("xi"))
        .cast("double")
        .alias("s2"),
    )
    j = t.join(F.broadcast(m), "event_type")
    nd = F.col("n_hours").cast("double")
    xd = F.col("x").cast("double")
    xid = F.col("xi").cast("double")
    var_num = nd * F.col("s2") - F.col("s1") * F.col("s1")
    z = (xid - F.col("s1") / nd) / F.sqrt(var_num / (nd * nd))
    return (
        j.filter((F.col("n_hours") > 1) & (var_num > 0))
        .select(
            "event_type",
            F.col("h").alias("hour"),
            xd.alias("hour_total"),
            z.alias("zscore"),
            "n_hours",
        )
        .filter(F.abs(F.col("zscore")) >= ANOM_Z)
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------
@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
                    AS DOUBLE) AS prob
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event type | current event type) from per-user ordered
    sequences — |types|² rows out, probabilities row-normalized."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wt = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wt).cast("double")
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Rolling exact median (gap-aware trailing window, offset-explosion)
# ---------------------------------------------------------------------------

MEDIAN_HOURS = 12


@query(
    "events_rolling_median_12h",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL}),
    fan AS (
      SELECT event_type, h + r.off * INTERVAL 1 HOUR AS th, tot
      FROM hourly, range({MEDIAN_HOURS}) r(off)
    ), w AS (
      SELECT f.event_type, f.th AS hour, f.tot
      FROM fan f
      JOIN hourly t ON t.event_type = f.event_type AND t.h = f.th
    )
    SELECT event_type, hour, COUNT(*) AS n_in_window,
      CAST((list_sort(list(tot)))[CAST(ceil(COUNT(*) / 2.0) AS BIGINT)]
           AS DOUBLE) AS rolling_median
    FROM w GROUP BY event_type, hour
    """,
)
def events_rolling_median_12h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{MEDIAN_HOURS}h exact median of hourly value totals per
    type — the robust-smoothing counterpart of the WMA (a median
    ignores a single anomalous hour entirely; the linear smoother only
    dampens it).

    Same offset-explosion shape as the WMA: each HOURLY AGGREGATE (not
    each event) contributes to the {MEDIAN_HOURS} windows covering it,
    so the fan-out input is |types| x |hours| — one equi-shuffle on
    (type, window-end), no range self-join, no per-window sort of raw
    events. The median picks the ceil(n/2)-th smallest decimal total
    explicitly (lower median) — an actual element, chosen identically
    in both engines, sidestepping engine-specific quantile
    interpolation semantics. Gap-aware: windows ending in an existing
    hour see only the hours present (n_in_window < {MEDIAN_HOURS}
    after a gap), mirroring the WMA's semantics.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = _hourly(events)
    fan = hourly.select(
        "event_type",
        F.explode(
            F.array(*[F.lit(i) for i in range(MEDIAN_HOURS)])
        ).alias("off"),
        "h",
        "tot",
    ).select(
        "event_type",
        (F.col("h") + F.make_dt_interval(hours=F.col("off"))).alias("th"),
        "tot",
    )
    ends = hourly.select(
        F.col("event_type").alias("e2"), F.col("h").alias("th2")
    )
    w = fan.join(
        ends,
        (F.col("event_type") == F.col("e2")) & (F.col("th") == F.col("th2")),
        "left_semi",
    )
    n = F.count(F.lit(1))
    return w.groupBy("event_type", F.col("th").alias("hour")).agg(
        n.alias("n_in_window"),
        F.element_at(
            F.array_sort(F.collect_list("tot")),
            F.ceil(n / F.lit(2.0)).cast("int"),
        )
        .cast("double")
        .alias("rolling_median"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection (round-5 third session): the median/MAD
# variant of `events_hourly_anomalies` — mean/stddev detectors move
# with the outliers they hunt (one huge hour inflates sigma and hides
# the next spike); median and median-absolute-deviation are
# breakdown-point-0.5 robust. Exact medians via the cumulative-count
# trick over DISTINCT values per type (never a raw-row sort), the
# same machinery as the weighted median.
# ---------------------------------------------------------------------------

ROBUST_K = 3.0  # flag |x - median| > K * 1.4826 * MAD


@query(
    "events_hourly_robust_anomalies",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type, quantile_disc(c, 0.5) AS m
      FROM hourly GROUP BY 1
    ), dev AS (
      SELECT hourly.event_type, h, c, m,
             abs(c - m) AS ad
      FROM hourly JOIN med ON med.event_type = hourly.event_type
    ), mad AS (
      SELECT event_type, quantile_disc(ad, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT dev.event_type, h, CAST(c AS BIGINT) AS n_events,
      CAST(m AS BIGINT) AS median_hourly, CAST(mad.mad AS BIGINT) AS mad,
      round(CAST(ad AS DOUBLE) / (1.4826 * mad.mad), 6) AS robust_z
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    WHERE mad.mad > 0 AND ad > {ROBUST_K} * 1.4826 * mad.mad
    """,
)
def events_hourly_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count deviates more than {ROBUST_K} robust
    sigmas (1.4826 x MAD) from the type's median hourly count — the
    outlier-immune sibling of `events_hourly_anomalies`.

    Both medians are DISCRETE (an actual observed value, integer-
    exact), computed per type — the median frames are tiny.
    Zero-MAD types (constant series) are excluded: every deviation
    there is "infinitely" anomalous and the z is undefined, the same
    rule both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    med = hourly.groupBy(F.col("event_type").alias("m_et")).agg(
        F.expr("percentile_approx(c, 0.5, 2147483647)").alias("m")
    )
    dev = hourly.join(
        F.broadcast(med), F.col("event_type") == F.col("m_et")
    ).select(
        "event_type",
        "h",
        "c",
        "m",
        F.abs(F.col("c") - F.col("m")).alias("ad"),
    )
    mad = dev.groupBy(F.col("event_type").alias("d_et")).agg(
        F.expr("percentile_approx(ad, 0.5, 2147483647)").alias("mad")
    )
    out = dev.join(F.broadcast(mad), F.col("event_type") == F.col("d_et"))
    return out.filter(
        (F.col("mad") > 0)
        & (F.col("ad") > ROBUST_K * 1.4826 * F.col("mad"))
    ).select(
        "event_type",
        "h",
        F.col("c").cast("bigint").alias("n_events"),
        F.col("m").cast("bigint").alias("median_hourly"),
        F.col("mad").cast("bigint").alias("mad"),
        F.round(
            F.col("ad").cast("double") / (1.4826 * F.col("mad")), 6
        ).alias("robust_z"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint (round-8): WHERE did the level shift? The
# median/MAD detector above flags anomalous hours; the cumulative-sum
# statistic locates a structural break — the hour at which the
# cumulative deviation from the global mean peaks (Page 1954's CUSUM,
# offline form). Everything stays INTEGER: the deviation is scaled
# through by n (d_i = n*c_i - total, an exact integer that sums to
# zero over the series), so the running sum, the peak, and the argmax
# are exact in both engines; only the final before/after means divide.
#
# Scale: per-type keyed windows over the hourly frame (bounded by the
# observation window); one small self-join to split the means at the
# located break.
# ---------------------------------------------------------------------------


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(c) AS BIGINT) AS tot
      FROM hourly GROUP BY 1
    ),
    d AS (
      SELECT h.event_type, h.h, st.n_hours,
        CAST(SUM(st.n_hours * h.c - st.tot) OVER (
          PARTITION BY h.event_type ORDER BY h.h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cusum
      FROM hourly h JOIN st ON st.event_type = h.event_type
    ),
    pk AS (
      SELECT event_type, h AS change_hour, n_hours, cusum,
        row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(cusum) DESC, h) AS rn
      FROM d
    )
    SELECT p.event_type, p.n_hours, p.change_hour,
      p.cusum AS peak_cusum_scaled,
      CAST(SUM(CASE WHEN h.h <= p.change_hour THEN h.c END) AS DOUBLE)
        / CAST(SUM(CASE WHEN h.h <= p.change_hour THEN 1 END) AS DOUBLE)
        AS mean_before,
      CAST(SUM(CASE WHEN h.h > p.change_hour THEN h.c END) AS DOUBLE)
        / CAST(SUM(CASE WHEN h.h > p.change_hour THEN 1 END) AS DOUBLE)
        AS mean_after
    FROM pk p JOIN hourly h ON h.event_type = p.event_type
    WHERE p.rn = 1
    GROUP BY p.event_type, p.n_hours, p.change_hour, p.cusum
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the hour where the n-scaled CUSUM of hourly
    counts peaks (the level-shift location), with the mean rate on
    each side of the break."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    st = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("tot"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        hourly.join(F.broadcast(st), "event_type")
        .withColumn(
            "cusum",
            F.sum(
                F.col("n_hours") * F.col("c") - F.col("tot")
            ).over(w_cum).cast("bigint"),
        )
    )
    w_pk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("h")
    )
    pk = (
        d.withColumn("rn", F.row_number().over(w_pk))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            "n_hours",
            F.col("cusum").alias("peak_cusum_scaled"),
        )
    )
    joined = pk.join(
        hourly.select(
            F.col("event_type").alias("et2"),
            F.col("h").alias("hh"),
            F.col("c").alias("cc"),
        ),
        F.col("event_type") == F.col("et2"),
    )
    before = F.col("hh") <= F.col("change_hour")
    return joined.groupBy(
        "event_type", "n_hours", "change_hour", "peak_cusum_scaled"
    ).agg(
        (
            F.sum(F.when(before, F.col("cc"))).cast("double")
            / F.sum(F.when(before, 1)).cast("double")
        ).alias("mean_before"),
        (
            F.sum(F.when(~before, F.col("cc"))).cast("double")
            / F.sum(F.when(~before, 1)).cast("double")
        ).alias("mean_after"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day seasonality profile per event type
# ---------------------------------------------------------------------------
@query(
    "events_hourly_seasonality",
    oracle="""
    WITH h AS (
      SELECT event_type,
        CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
        COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, SUM(c) AS tot FROM h GROUP BY 1)
    SELECT h.event_type, h.hod, CAST(h.c AS BIGINT) AS n_events,
      CAST((h.c * 24 * 1000000) // t.tot AS BIGINT) AS seasonality_ppm
    FROM h JOIN t ON t.event_type = h.event_type
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour-of-day): event count and the seasonality
    index as integer ppm of uniform (1_000_000 = this hour carries
    exactly 1/24 of the type's traffic) — the diurnal profile behind
    capacity planning and anomaly baselines (the robust-anomaly
    operator flags residuals; this is the seasonal norm they deviate
    from). Exact integer ratio: c * 24e6 DIV total. One keyed
    aggregate + a type-level rollup joined back — both combinable."""
    events = load_table(spark, sf_dir, "events")
    h = events.groupBy(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).cast("bigint").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("c"))
    t = h.groupBy("event_type").agg(F.sum("c").alias("tot"))
    return (
        h.join(t, "event_type")
        .select(
            "event_type",
            "hod",
            F.col("c").cast("bigint").alias("n_events"),
            F.expr(
                "CAST((c * 24 * 1000000) DIV tot AS BIGINT)"
            ).alias("seasonality_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the hourly count series (exact integer ACF)
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 12


@query(
    "events_hourly_acf",
    oracle=f"""
    WITH cnt AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                  AS BIGINT) // 3600 AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), b AS (
      SELECT MIN(hr) AS h0, MAX(hr) AS h1,
             MAX(hr) - MIN(hr) + 1 AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM cnt
    ), ser AS (
      SELECT tl.hr, COALESCE(cnt.c, 0) AS c
      FROM (SELECT unnest(generate_series(b.h0, b.h1)) AS hr FROM b) tl
      LEFT JOIN cnt ON cnt.hr = tl.hr
    ), a AS (
      SELECT ser.hr, CAST(b.n * ser.c - b.s AS BIGINT) AS av
      FROM ser CROSS JOIN b
    ), den AS (
      SELECT SUM(CAST(av AS HUGEINT) * av) AS den FROM a
    ), nums AS (
      SELECT a2.hr - a1.hr AS lag,
             SUM(CAST(a1.av AS HUGEINT) * a2.av) AS num,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM a a1 JOIN a a2
        ON a2.hr BETWEEN a1.hr + 1 AND a1.hr + {ACF_MAX_LAG}
      GROUP BY 1
    )
    SELECT CAST(nums.lag AS BIGINT) AS lag,
      CAST(b.n AS BIGINT) AS n_hours, nums.n_pairs,
      CAST(CASE WHEN nums.num < 0 THEN -1 ELSE 1 END
           * (ABS(nums.num) * 1000000 // den.den) AS BIGINT) AS acf_ppm
    FROM nums CROSS JOIN den CROSS JOIN b
    """,
)
def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the GLOBAL hourly event-count series at lags
    1..ACF_MAX_LAG — the sample ACF a seasonality detector / traffic
    forecaster reads first (the 24h harmonic shows up as the lag-12
    trough / lag-24 peak of the diurnal cycle).

    Exactness: with integer counts c_t, mean-centering is done at
    scale n (a_t = n*c_t - S, still integers), so both the lag
    covariances and the variance are EXACT integer sums — carried in
    DECIMAL(38,0)/HUGEINT — and the ACF renders as sign * integer-ppm.
    No float ever enters; the hash matches bit-for-bit by
    construction.

    Scale shape: the only per-event work is the first hour-bucket
    groupBy (map-side combinable). Everything after runs on the hourly
    frame, whose size is the TIME SPAN, not the data volume (a decade
    is ~9e4 rows) — the gap-filled timeline, the 12-lag equi-join
    (explode + shuffle-hash, no range scan over raw rows), and the
    scalar broadcast are all O(hours).
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    b = cnt.agg(
        F.min("hr").alias("h0"),
        F.max("hr").alias("h1"),
        (F.max("hr") - F.min("hr") + 1).alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    timeline = b.select(
        F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    ser = timeline.join(cnt, "hr", "left").select(
        "hr", F.coalesce("c", F.lit(0)).alias("c")
    )
    a = ser.crossJoin(F.broadcast(b)).select(
        "hr",
        (F.col("n") * F.col("c") - F.col("s")).cast("bigint").alias("av"),
    )
    big = "decimal(38,0)"
    den = a.agg(
        F.sum(F.col("av").cast(big) * F.col("av")).alias("den")
    )
    lagged = a.select(
        "hr",
        F.col("av").alias("av1"),
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
    ).withColumn("hr2", F.col("hr") + F.col("lag"))
    nums = (
        lagged.join(
            a.select(F.col("hr").alias("hr2"), F.col("av").alias("av2")),
            "hr2",
        )
        .groupBy("lag")
        .agg(
            F.sum(F.col("av1").cast(big) * F.col("av2")).alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return (
        nums.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(b.select("n")))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n").cast("bigint").alias("n_hours"),
            "n_pairs",
            (
                F.when(F.col("num") < 0, -1).otherwise(1).cast("bigint")
                * F.expr("CAST(ABS(num) * 1000000 DIV den AS BIGINT)")
            )
            .cast("bigint")
            .alias("acf_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# K-step Markov exposure (deterministic integer power iteration)
# ---------------------------------------------------------------------------
MARKOV_STEPS = 8
MARKOV_SCALE = 10**12


def _markov_oracle() -> str:
    """Chained-CTE oracle: K integer-arithmetic power-iteration steps
    (aggregation inside a recursive CTE term is not portable, so the
    fixed step count unrolls into s1..sK plain GROUP BYs)."""
    steps = []
    for i in range(1, MARKOV_STEPS + 1):
        steps.append(
            f"""s{i} AS (
      SELECT t.curr AS et,
             CAST(SUM(CAST(s{i - 1}.p AS HUGEINT) * t.c // rt.r)
                  AS BIGINT) AS p
      FROM s{i - 1}
      JOIN tcc t ON t.prev = s{i - 1}.et
      JOIN rt ON rt.prev = t.prev
      GROUP BY 1
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
    ),
    tc AS (
      SELECT prev_type AS prev, event_type AS curr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    uni AS (SELECT DISTINCT prev AS et FROM tc),
    tcc AS (SELECT tc.* FROM tc JOIN uni u ON u.et = tc.curr),
    rt AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS r FROM tcc GROUP BY 1),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk FROM uni),
    s0 AS (
      SELECT et, CAST({MARKOV_SCALE} // kk AS BIGINT) AS p
      FROM uni CROSS JOIN k
    ),
    {chain}
    SELECT et AS event_type,
           CAST({MARKOV_STEPS} AS BIGINT) AS n_steps,
           p AS p_scaled,
           p // 1000000 AS p_ppm
    FROM s{MARKOV_STEPS}
    """


@query("markov_kstep_distribution", oracle=_markov_oracle())
def markov_kstep_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type distribution after EXACTLY ``MARKOV_STEPS`` steps of
    the per-user transition chain, starting uniform — the
    power-iteration read on "where does user attention concentrate",
    converging on the stationary distribution (ClickHouse users build
    this on top of the transition matrix; here it is a first-class
    deterministic operator).

    Exactness without convergence claims: the state vector is an
    INTEGER vector at scale 1e12 and each step is p'_j = sum_i
    (p_i * c_ij) div r_i — integer products and truncating division,
    identical on both engines, so "the distribution after K steps" is
    a bit-exact object (the oracle unrolls the same K steps as chained
    GROUP-BY CTEs). The chain is closed over the prev-universe so
    truncation is the only mass leak (<= k^2 units of 1e-12 per step).

    Scale shape: the per-event work is the same one user_id-shuffled
    lag window as `event_transition_matrix`; after that single
    |types|^2-row aggregate the iteration runs on a collected k x k
    matrix (k = event-type universe, bounded — the same bounded-collect
    contract as the BPE per-round argmax), O(K k^2) driver work.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("curr"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    tc = seq.groupBy("prev", "curr").agg(F.count(F.lit(1)).alias("c"))
    rows = tc.collect()  # bounded: |type universe|^2
    uni = sorted({r["prev"] for r in rows})
    uset = set(uni)
    counts = {
        (r["prev"], r["curr"]): int(r["c"])
        for r in rows
        if r["curr"] in uset
    }
    rtot = {i: sum(c for (p, _), c in counts.items() if p == i) for i in uni}
    p = {et: MARKOV_SCALE // len(uni) for et in uni}
    for _ in range(MARKOV_STEPS):
        nxt = dict.fromkeys(uni, 0)
        for (i, j), c in counts.items():
            nxt[j] += (p[i] * c) // rtot[i]
        p = nxt
    out = [
        (et, MARKOV_STEPS, p[et], p[et] // 1_000_000)
        for et in uni
        if p[et] > 0 or True
    ]
    return spark.createDataFrame(
        out,
        "event_type STRING, n_steps BIGINT, p_scaled BIGINT, p_ppm BIGINT",
    )


# ---------------------------------------------------------------------------
# Dominant period detection (seriesPeriodDetectFFT analog, via ACF)
# ---------------------------------------------------------------------------
PERIOD_MAX_LAG = 36
PERIOD_MIN_LAG = 2


def _acf_sql(max_lag: int) -> str:
    """The exact-integer ACF construction (same derivation as
    `events_hourly_acf`'s oracle) parameterized by max lag, ending in
    a `nums/den/b` namespace the caller SELECTs from."""
    return f"""
    cnt AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                  AS BIGINT) // 3600 AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), b AS (
      SELECT MIN(hr) AS h0, MAX(hr) AS h1,
             MAX(hr) - MIN(hr) + 1 AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM cnt
    ), ser AS (
      SELECT tl.hr, COALESCE(cnt.c, 0) AS c
      FROM (SELECT unnest(generate_series(b.h0, b.h1)) AS hr FROM b) tl
      LEFT JOIN cnt ON cnt.hr = tl.hr
    ), a AS (
      SELECT ser.hr, CAST(b.n * ser.c - b.s AS BIGINT) AS av
      FROM ser CROSS JOIN b
    ), den AS (
      SELECT SUM(CAST(av AS HUGEINT) * av) AS den FROM a
    ), nums AS (
      SELECT a2.hr - a1.hr AS lag,
             SUM(CAST(a1.av AS HUGEINT) * a2.av) AS num
      FROM a a1 JOIN a a2
        ON a2.hr BETWEEN a1.hr + 1 AND a1.hr + {max_lag}
      GROUP BY 1
    )"""


@query(
    "events_dominant_period",
    oracle=f"""
    WITH {_acf_sql(PERIOD_MAX_LAG)},
    r AS (
      SELECT CAST(nums.lag AS BIGINT) AS lag,
        CAST(CASE WHEN nums.num < 0 THEN -1 ELSE 1 END
             * (ABS(nums.num) * 1000000 // den.den) AS BIGINT) AS acf_ppm,
        CAST(b.n AS BIGINT) AS n_hours
      FROM nums CROSS JOIN den CROSS JOIN b
      WHERE nums.lag >= {PERIOD_MIN_LAG}
    )
    SELECT lag AS period_hours, acf_ppm, n_hours
    FROM r
    QUALIFY row_number() OVER (ORDER BY acf_ppm DESC, lag) = 1
    """,
)
def events_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``seriesPeriodDetectFFT`` analog read through the
    autocorrelogram: the lag in [PERIOD_MIN_LAG, PERIOD_MAX_LAG] hours
    with the highest exact-integer ACF is the series' dominant period
    (the diurnal cycle on this event stream). FFT and ACF locate the
    same fundamental (Wiener-Khinchin); the ACF route keeps every
    quantity an exact integer — same centering-at-scale-n construction
    as `events_hourly_acf`, extended to 36 lags — so the argmax (ties
    to the smallest lag) is bit-deterministic on both engines.

    Scale: identical shape to the ACF operator — one per-event
    groupBy, then O(hours x 36) arithmetic on the timeline frame.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    b = cnt.agg(
        F.min("hr").alias("h0"),
        F.max("hr").alias("h1"),
        (F.max("hr") - F.min("hr") + 1).alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    ser = (
        b.select(F.explode(F.sequence("h0", "h1")).alias("hr"))
        .join(cnt, "hr", "left")
        .select("hr", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a = ser.crossJoin(F.broadcast(b)).select(
        "hr",
        (F.col("n") * F.col("c") - F.col("s")).cast("bigint").alias("av"),
    )
    big = "decimal(38,0)"
    den = a.agg(F.sum(F.col("av").cast(big) * F.col("av")).alias("den"))
    lagged = a.select(
        "hr",
        F.col("av").alias("av1"),
        F.explode(F.sequence(F.lit(1), F.lit(PERIOD_MAX_LAG))).alias("lag"),
    ).withColumn("hr2", F.col("hr") + F.col("lag"))
    nums = (
        lagged.join(
            a.select(F.col("hr").alias("hr2"), F.col("av").alias("av2")),
            "hr2",
        )
        .groupBy("lag")
        .agg(F.sum(F.col("av1").cast(big) * F.col("av2")).alias("num"))
    )
    r = (
        nums.filter(F.col("lag") >= PERIOD_MIN_LAG)
        .crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(b.select("n")))
        .select(
            F.col("lag").cast("bigint").alias("period_hours"),
            (
                F.when(F.col("num") < 0, -1).otherwise(1).cast("bigint")
                * F.expr("CAST(ABS(num) * 1000000 DIV den AS BIGINT)")
            )
            .cast("bigint")
            .alias("acf_ppm"),
            F.col("n").cast("bigint").alias("n_hours"),
        )
    )
    w = Window.orderBy(F.col("acf_ppm").desc(), F.col("period_hours"))
    return (
        r.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Holt linear forecast (deterministic integer double exponential
# smoothing; alpha = 0.2, beta = 0.1 as exact rationals)
# ---------------------------------------------------------------------------
HOLT_SCALE = 10**6


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division: BOTH engines' `//`/`DIV`
    truncate (DuckDB: (-7)//2 = -3), while Python's `//` floors — any
    driver-side fold that mirrors an oracle recursion diverges one
    scale-unit per negative step without this. Module-level so the
    unit test can pin it against DuckDB directly."""
    return a // b if (a >= 0) == (b >= 0) else -((-a) // b)


@query(
    "events_holt_forecast_daily",
    oracle=f"""
    WITH RECURSIVE cnt AS (
      SELECT CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))
                  AS BIGINT) // 86400 AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), b AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM cnt
    ), ser AS (
      SELECT tl.d - b2.d0 AS i, COALESCE(cnt.c, 0) AS c
      FROM (SELECT unnest(generate_series(b.d0, b.d1)) AS d FROM b) tl
      LEFT JOIN cnt ON cnt.d = tl.d
      CROSS JOIN b b2
    ), st AS (
      SELECT 0 AS i,
        CAST(s0.c * {HOLT_SCALE} AS BIGINT) AS level,
        CAST((s1.c - s0.c) * {HOLT_SCALE} AS BIGINT) AS trend,
        CAST(0 AS BIGINT) AS sse
      FROM ser s0 JOIN ser s1 ON s0.i = 0 AND s1.i = 1
      UNION ALL
      SELECT st.i + 1,
        (2 * ser.c * {HOLT_SCALE} + 8 * (st.level + st.trend)) // 10,
        (1 * ((2 * ser.c * {HOLT_SCALE}
               + 8 * (st.level + st.trend)) // 10 - st.level)
         + 9 * st.trend) // 10,
        st.sse + ((st.level + st.trend) // {HOLT_SCALE} - ser.c)
                 * ((st.level + st.trend) // {HOLT_SCALE} - ser.c)
      FROM st JOIN ser ON ser.i = st.i + 1
    ), last AS (
      SELECT * FROM st
      QUALIFY row_number() OVER (ORDER BY i DESC) = 1
    )
    SELECT
      CAST((SELECT COUNT(*) FROM ser) AS BIGINT) AS n_days,
      CAST(last.level AS BIGINT) AS level_scaled,
      CAST(last.trend AS BIGINT) AS trend_scaled,
      CAST(last.sse AS BIGINT) AS sse,
      CAST((last.level + 1 * last.trend) // {HOLT_SCALE} AS BIGINT)
        AS fc_1d,
      CAST((last.level + 3 * last.trend) // {HOLT_SCALE} AS BIGINT)
        AS fc_3d,
      CAST((last.level + 7 * last.trend) // {HOLT_SCALE} AS BIGINT)
        AS fc_7d
    FROM last
    """,
)
def events_holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast (double exponential smoothing,
    alpha=0.2, beta=0.1) of the gap-filled DAILY event-count series,
    with 1/3/7-day-ahead forecasts and the in-sample one-step SSE —
    the capacity-planning companion to the hourly anomaly/seasonality
    operators.

    The same bit-exactness trick as `markov_kstep_distribution`: the
    (level, trend) state is INTEGER at scale 1e6 and the smoothing
    constants are exact rationals applied as integer multiply +
    truncating div-10, so the full recursion is deterministic on both
    engines — the oracle replays the identical recursion as a
    RECURSIVE CTE over the day index (~|days| scalar steps, no
    aggregate in the recursive term).

    Scale: the per-event work is one day-bucket groupBy; the recursion
    runs on the collected daily series (O(days) — bounded by the time
    span, the same bounded-collect contract as the BPE argmax), and
    forecasting is O(1) from the final state.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        .cast("bigint")
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    rows = cnt.collect()  # bounded: one row per DAY in the span
    by_d = {int(r["d"]): int(r["c"]) for r in rows}
    d0, d1 = min(by_d), max(by_d)
    series = [by_d.get(d, 0) for d in range(d0, d1 + 1)]
    s = HOLT_SCALE
    tdiv = _tdiv
    level = series[0] * s
    trend = (series[1] - series[0]) * s
    sse = 0
    for c in series[1:]:
        pred = level + trend
        e = tdiv(pred, s) - c
        sse += e * e
        new_level = tdiv(2 * c * s + 8 * pred, 10)
        trend = tdiv(1 * (new_level - level) + 9 * trend, 10)
        level = new_level
    out = [
        (
            len(series),
            level,
            trend,
            sse,
            # tdiv, not Python // — a negative level+k*trend (steeply
            # declining series) floors under // but truncates under
            # the oracle's DuckDB `//`, shifting the forecast by 1
            tdiv(level + 1 * trend, s),
            tdiv(level + 3 * trend, s),
            tdiv(level + 7 * trend, s),
        )
    ]
    return spark.createDataFrame(
        out,
        "n_days BIGINT, level_scaled BIGINT, trend_scaled BIGINT,"
        " sse BIGINT, fc_1d BIGINT, fc_3d BIGINT, fc_7d BIGINT",
    )
