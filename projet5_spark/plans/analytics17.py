"""Batch 19 operator battery — time-series decomposition & monitoring:
naive STL-style trend/seasonal/residual decomposition, Bollinger-band
breakout detection in exact integer algebra, and sessionized bounce
rate.

Scale design notes:
- All three fold raw events to daily (or session) pre-aggregates
  before any window runs, so window state is calendar-scale (days per
  type) or session-scale, never event-scale.
- **STL-naive** centers a 7-row moving average per type (bounded,
  evenly-keyed partitions), derives weekday seasonal means from exact
  BIGINT residual sums, and joins the 35-row seasonal table back by
  broadcast.
- **Bollinger breakouts** never compare floats: the 2σ test
  ``|v − mean| > 2σ`` is algebraically rearranged to
  ``(n·v − S1)² > 4·(n·S2 − S1²)`` — all BIGINT, no division, no
  sqrt, no cross-engine rounding surface at all.
- **Bounce rate** reuses the gaps-and-islands sessionizer (30-minute
  inactivity gap) keyed by user — the same bounded-partition shape as
  ``session_windows_per_user`` — then rolls sessions up per day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event value sums per type, in exact integer cents."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("v"))
    )


_DAILY_SQL = """
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY event_type, day)
"""


# --------------------------------------------------------------------------
# Naive STL decomposition (trend / weekday-seasonal / residual)
# --------------------------------------------------------------------------


@query(
    "stl_naive_decomposition_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    tr AS (
      SELECT event_type, day, v,
             count(*) OVER w AS cnt, sum(v) OVER w AS s7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    res AS (
      SELECT event_type, day, v,
             CAST(floor(CAST(s7 AS DOUBLE) * 1e6 / 7) AS BIGINT) AS trend_micro,
             v * 1000000 - CAST(floor(CAST(s7 AS DOUBLE) * 1e6 / 7) AS BIGINT)
               AS raw_resid_micro,
             isodow(day) - 1 AS wd
      FROM tr WHERE cnt = 7),
    seas AS (
      SELECT event_type, wd,
             CAST(floor(CAST(sum(raw_resid_micro) AS DOUBLE) / count(*))
                  AS BIGINT) AS seasonal_micro
      FROM res GROUP BY event_type, wd)
    SELECT r.event_type, strftime(r.day, '%Y-%m-%d') AS day,
           r.v AS value_centi, r.trend_micro, s.seasonal_micro,
           r.raw_resid_micro - s.seasonal_micro AS resid_micro
    FROM res r JOIN seas s ON r.event_type = s.event_type AND r.wd = s.wd
    ORDER BY r.event_type, day
    """,
)
def stl_naive_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive STL-style decomposition of the daily value series per
    event type: trend = centered 7-day moving average (full windows
    only), seasonal = per-weekday mean of the detrended residual,
    residual = what's left — the additive decomposition monitoring
    pipelines run before alerting on the residual.

    Events fold to daily integer-cent sums first, so the centered
    window scans calendar-scale partitions. Trend and seasonal means
    floor exact BIGINT sums (single double division each, identical
    cross-engine); the 35-row seasonal table broadcasts back onto the
    series."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "v",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum("v").over(w).alias("s7"),
    )
    trend = F.floor(F.col("s7").cast("double") * 1e6 / 7).cast("long")
    res = tr.where(F.col("cnt") == 7).select(
        "event_type",
        "day",
        "v",
        trend.alias("trend_micro"),
        (F.col("v") * 1000000 - trend).alias("raw_resid_micro"),
        F.weekday("day").alias("wd"),
    )
    seas = res.groupBy("event_type", "wd").agg(
        F.floor(F.sum("raw_resid_micro").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("seasonal_micro")
    )
    return (
        res.join(F.broadcast(seas), ["event_type", "wd"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("v").alias("value_centi"),
            "trend_micro",
            "seasonal_micro",
            (F.col("raw_resid_micro") - F.col("seasonal_micro")).alias(
                "resid_micro"
            ),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Bollinger-band breakouts (pure-integer 2σ test)
# --------------------------------------------------------------------------


@query(
    "bollinger_breakout_days",
    oracle=f"""
    WITH {_DAILY_SQL},
    st AS (
      SELECT event_type, day, v,
             count(*) OVER w AS n, sum(v) OVER w AS s1,
             sum(v * v) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           v AS value_centi,
           CAST(7 * v - s1 AS BIGINT) AS dev7,
           CAST(4 * (7 * s2 - s1 * s1) AS BIGINT) AS band4
    FROM st
    WHERE n = 7 AND (7 * v - s1) * (7 * v - s1) > 4 * (7 * s2 - s1 * s1)
    ORDER BY event_type, day
    """,
)
def bollinger_breakout_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose value breaks the trailing 7-day 2σ Bollinger band,
    per event type — the rolling-volatility anomaly alert.

    The test ``|v − mean| > 2σ`` never touches a float: with n = 7,
    S1 = Σv, S2 = Σv² over the trailing window, it rearranges to
    ``(7v − S1)² > 4·(7·S2 − S1²)`` — exact BIGINT products on integer
    cents, so there is no division, no sqrt, and no rounding boundary
    an engine pair could disagree on. The window runs over daily
    pre-aggregates (calendar-scale partitions)."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    # the band test's products (v², s1²) run in DECIMAL: v is a daily
    # traffic sum, so the BIGINT squares cross 2⁶³ once a day's cents
    # reach ~3e9 under ANSI checking; the comparison is exact integer
    # arithmetic either way, and the BIGINT output casts below only
    # materialize for surviving rows (whose magnitudes are band-scale)
    vd = F.col("v").cast("decimal(19,0)")
    st = daily.select(
        "event_type",
        "day",
        "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("s1"),
        F.sum(vd * vd).over(w).alias("s2"),
    )
    dev = 7 * vd - F.col("s1")
    band = 4 * (7 * F.col("s2") - F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)"))
    return (
        st.where((F.col("n") == 7) & (dev * dev > band))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("v").alias("value_centi"),
            dev.cast("long").alias("dev7"),
            band.cast("long").alias("band4"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Sessionized bounce rate per day
# --------------------------------------------------------------------------

_BOUNCE_GAP_US = 1_800_000_000  # 30 minutes


@query(
    "session_bounce_rate_daily",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, CAST(ts AS DATE) AS day
      FROM events),
    marked AS (
      SELECT user_id, day, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {_BOUNCE_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    sess AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid,
             day
      FROM marked),
    rolled AS (
      SELECT user_id, sid, min(day) AS day, count(*) AS n_events
      FROM sess GROUP BY user_id, sid)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
           CAST(floor(CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
                      * 1e6 / count(*)) AS BIGINT) AS bounce_micro
    FROM rolled GROUP BY day ORDER BY day
    """,
)
def session_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of user sessions (30-minute
    inactivity gap, same sessionizer as ``session_windows_per_user``)
    containing exactly one event — the engagement-quality KPI, rolled
    up by the session's start day.

    Sessionization is the standard gaps-and-islands pair of windows
    over (user) partitions — bounded, well-distributed state — and the
    daily rollup is one hash aggregate over session-scale rows. The
    session's day is ``min(day)``, which equals the first event's day
    because the calendar date is monotone in the timestamp."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.col("ts").cast("date").alias("day"),
    )
    wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(wl)
    marked = pts.select(
        "user_id",
        "day",
        "us",
        "event_id",
        F.when(prev.isNull() | (F.col("us") - prev > _BOUNCE_GAP_US), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select(
        "user_id", F.sum("new_s").over(wr).alias("sid"), "day"
    )
    rolled = sess.groupBy("user_id", "sid").agg(
        F.min("day").alias("day"), F.count(F.lit(1)).alias("n_events")
    )
    return (
        rolled.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.count(F.when(F.col("n_events") == 1, 1))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "n_bounces",
            F.floor(F.col("n_bounces").cast("double") * 1e6 / F.col("n_sessions"))
            .cast("long")
            .alias("bounce_micro"),
        )
        .orderBy("day")
    )
