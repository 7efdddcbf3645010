"""Event-table queries: JSON extraction, time windows, sessionization,
as-of joins (SURVEY.md §2.5 map/JSON + §2.8 batch-equivalent forms).

Every windowed query here is the exact batch equivalent of its
Structured Streaming form in ``projet5_spark.streaming`` — same
``F.window``/``F.session_window`` expressions — which is what makes the
streaming surface oracle-testable (SURVEY.md §5.2).

Timestamps are formatted to whole seconds on output: the fixture's
``ts`` is nanosecond parquet, Spark truncates to µs, so second-format
strings are the engine-neutral representation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import asof_join
from ..sources.readers import fixture_table as _t, read_events
from .registry import gridsum, query, quantize as _q

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "json_extract_event_props",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           floor((sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) * 1.0 / count(CAST(json_extract_string(props, '$.k') AS BIGINT))) * 1e4) / 1e4 AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: ``get_json_object`` stays a JVM expression
    (no UDF); for hot paths at scale prefer ``from_json`` once into a
    struct column rather than repeated path extraction."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        _q(F.sum(k) / F.count(k), 4).alias("avg_k"),
    )


@query(
    "tumbling_window_event_stats",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows (batch form of the streaming aggregation in
    ``streaming.windows``): ``F.window`` = one hash aggregate keyed on
    (bucket, type)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            gridsum("value", 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "sliding_window_event_counts",
    oracle=f"""
    SELECT strftime(ws, '{_TS_FMT_DUCK}') AS window_start,
           count(*) AS n_events
    FROM (SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                         time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
          FROM events) t
    GROUP BY ws
    """,
)
def sliding_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min window, 5 min slide): each event lands in
    exactly window-size/slide buckets; Spark's ``window`` does the
    replication inside the expression, the oracle unnests the same two
    bucket starts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "n_events",
        )
    )


@query(
    "session_windows_per_user",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '{_TS_FMT_DUCK}') AS session_end,
           count(*) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) in batch via
    ``F.session_window`` — identical expression to the streaming form.
    The oracle derives the same sessions with gaps-and-islands SQL;
    Spark's session end = last event + gap, mirrored in the oracle.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            gridsum("value", 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("w.end", _TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "asof_latest_view_before_purchase",
    oracle="""
    SELECT p.event_id, p.user_id,
           floor((p.value) * 1e2) / 1e2 AS purchase_value,
           floor(((SELECT v.value FROM events v
                  WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
                  ORDER BY v.ts DESC, v.event_id DESC LIMIT 1)) * 1e2) / 1e2 AS last_view_value
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def asof_latest_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach the most recent prior 'view' to each
    'purchase' per user. Union+window plan (operators.joins.asof_join):
    one shuffle on user_id, no per-row probing, no cross product —
    the 100 TB-safe shape for point-in-time correctness."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", _q("value", 2).alias("purchase_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases,
        views.withColumnRenamed("event_id", "view_event_id").withColumnRenamed(
            "value", "view_value"
        ),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_vals=["view_value"],
        right_tiebreak="view_event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "purchase_value",
        _q("view_value", 2).alias("last_view_value"),
    )


@query(
    "window_rank_event_value_per_user",
    oracle="""
    SELECT user_id, event_id, floor((value) * 1e2) / 1e2 AS value,
           CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rk,
           CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS quartile
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def window_rank_event_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + ntile in one window pass (same shuffle, two functions)."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return ev.select(
        "user_id",
        "event_id",
        _q("value", 2).alias("value"),
        F.rank().over(w).cast("long").alias("rk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "map_explode_event_props",
    oracle="""
    SELECT event_id, k AS key, CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS value
    FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events) t
    """,
)
def map_explode_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map explode: parse the JSON props once into a typed map, then one
    row per entry — the generic flatten for semi-structured payloads
    with unknown key sets."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select("event_id", F.explode(m).alias("key", "value"))


@query(
    "event_attribution_last_touch",
    oracle=f"""
    WITH ordered AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts
      FROM events)
    SELECT event_id, user_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS purchase_ts,
           touch_type,
           CAST(date_diff('second', touch_ts, ts) AS BIGINT) AS touch_gap_seconds
    FROM ordered WHERE event_type = 'purchase'
    """,
)
def event_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent PRIOR view/click (marketing touch), with the touch-to-
    conversion gap in whole seconds — NULL when the purchase had no
    prior touch.

    One window pass (``last(..., ignorenulls=True)`` over an unbounded-
    preceding frame excluding the current row) — no self-join, no
    as-of join: the 2-billion-event scale shape is a single shuffle on
    user_id. Ties on ts break by event_id so the frame is total-ordered
    on both engines; gaps compare whole-second epochs (both engines
    floor to the second before differencing)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    touch_type = F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w)
    touch_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            touch_type.alias("touch_type"),
            touch_ts.alias("touch_ts"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("purchase_ts"),
            "touch_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("touch_ts"))
            .cast("long")
            .alias("touch_gap_seconds"),
        )
    )


@query(
    "rolling_7d_active_users",
    oracle="""
    WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM daily)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           count(DISTINCT daily.user_id) AS n_active_7d
    FROM days JOIN daily ON daily.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding count-distinct (trailing-7-day active users per observed
    day). COUNT(DISTINCT) is not window-able, so instead of a range
    self-join the activity fans out: each (day, user) pair replicates
    to the ≤7 target days it can contribute to (bounded constant-factor
    explode, shuffle key = day), then one distinct count per day. A
    semi-join restricts targets to observed days. At scale this beats
    the interval join: no range-condition nested loop, and the explode
    factor is the window length, not the data volume."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = daily.select("d").distinct().withColumnRenamed("d", "day_d")
    expanded = daily.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day_d"),
        "user_id",
    )
    return (
        expanded.join(days, "day_d", "left_semi")
        .groupBy("day_d")
        .agg(F.count_distinct("user_id").alias("n_active_7d"))
        .select(F.date_format("day_d", "yyyy-MM-dd").alias("day"), "n_active_7d")
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           floor((n * 1.0 / sum(n) OVER (PARTITION BY prev_type)) * 1e6) / 1e6 AS p
    FROM pairs
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next | prev) = pair count / prev-state total. One
    lag window (shuffle on user_id), then a state-pair aggregate whose
    cardinality is |event_type|² — constant, so the normalizing window
    runs over a tiny frame regardless of event volume. Ties on ts
    break by event_id, making prev_type total-ordered on both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        _q(F.col("n") * F.lit(1.0) / F.sum("n").over(wp), 6).alias("p"),
    )


@query(
    "anomaly_zscore_event_values",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS vc
      FROM events),
    w AS (
      SELECT user_id, event_id, ts, value, vc,
             count(vc)  OVER win AS n,
             sum(vc)    OVER win AS s1,
             sum(vc*vc) OVER win AS s2
      FROM g
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    z AS (
      SELECT user_id, event_id, ts, value, n,
             (vc - s1 * 1.0 / n) /
             sqrt((s2 - (s1 * 1.0 / n) * s1) / (n - 1)) / 1e0 AS zraw
      FROM w
      WHERE n >= 10 AND (s2 - (s1 * 1.0 / n) * s1) > 0)
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           value,
           floor(zraw * 1e4) / 1e4 AS zscore
    FROM z WHERE abs(zraw) > 2.5
    """,
)
def anomaly_zscore_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each event's value against the
    mean/stddev of the user's previous ≤20 events; |z| > 2.5 with at
    least 10 prior samples flags an outlier.

    One shuffle on user_id, one ordered frame pass. Exactness trick:
    the 2dp-grid values become integer cents, the frame sums are BIGINT
    (associative, order-independent), and mean/variance/z are derived
    from those exact integers with a fixed expression tree — so the
    doubles are bit-identical on both engines and the 1e-4 floor grid
    is safe."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long")
    win = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    )
    g = ev.select("user_id", "event_id", "ts", "value", vc.alias("vc"))
    w = g.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "vc",
        F.count("vc").over(win).alias("n"),
        F.sum("vc").over(win).alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).over(win).alias("s2"),
    )
    mean = F.col("s1") * F.lit(1.0) / F.col("n")
    var_num = F.col("s2") - mean * F.col("s1")
    zraw = (F.col("vc") - mean) / F.sqrt(var_num / (F.col("n") - 1))
    return (
        w.where((F.col("n") >= 10) & (var_num > 0))
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts"),
            "value",
            zraw.alias("zraw"),
        )
        .where(F.abs(F.col("zraw")) > 2.5)
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            _q("zraw", 4).alias("zscore"),
        )
    )


WEIGHTS_EWMA = [0.9**k for k in range(20)]
_W_SQL = "[" + ", ".join(repr(w) for w in WEIGHTS_EWMA) + "]"
_W_MICRO = [int(w * 1e6) for w in WEIGHTS_EWMA]  # floor of w·1e6, exact
_WM_SQL = "[" + ", ".join(str(m) for m in _W_MICRO) + "]"


@query(
    "ewma_event_values",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id, ts, value,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS vc,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    j AS (
      SELECT c.user_id, c.event_id, c.ts, c.value,
             CAST(floor(({_W_SQL})[c.rn - h.rn + 1] * (h.vc * 1e4)) AS BIGINT) AS term_micro,
             CASE WHEN h.vc IS NOT NULL
                  THEN ({_WM_SQL})[c.rn - h.rn + 1] ELSE 0 END AS w_micro
      FROM r c JOIN r h
        ON c.user_id = h.user_id AND h.rn BETWEEN c.rn - 19 AND c.rn)
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           value,
           CASE WHEN sum(w_micro) = 0 THEN NULL
                ELSE floor((sum(term_micro) * 1.0 / sum(w_micro)) * 1e4) / 1e4
           END AS ewma
    FROM j GROUP BY user_id, event_id, ts, value
    """,
)
def ewma_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (decay 0.9) of each
    user's value stream, truncated to the trailing 20 events.

    EWMA's recursion is not frame-expressible, but the truncated form
    IS a fixed 20-term linear combination of trailing values, so it
    evaluates as 20 ``lag`` expressions over ONE per-user window sort —
    no self-join, no ×20 row fan-out (the previous row-number band
    join shuffled a 20×-expanded relation and re-grouped it; at x100
    events that expansion was the query's entire cost). Ragged starts
    fall out naturally: a null lag contributes nothing to either the
    term sum or the weight normalizer, exactly like the band join's
    missing history rows. Exactness: the 20 decay weights are
    PRE-COMPUTED
    doubles embedded as identical decimal literals in both engines
    (runtime pow() differs by 1 ulp between libm and the JVM, which
    flips floor grids); each weighted term is then a single IEEE
    multiply of that literal by an exact integer, floored onto a 1e-6
    grid and summed as BIGINT — bit-identical everywhere."""
    ev = _t(spark, sf_dir, "events")
    r = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("vc"),
    )
    # The 20-lag term/weight sums are composed as SQL TEXT — two
    # py4j calls instead of ~3,000 (every F.lag/F.lit/operator is a
    # driver socket round-trip; the r13 profile charged ~0.5 s of
    # plan-construction latency per invocation to this loop — the
    # operators/quantiles.py fix applied here). Identical lag texts
    # parse to identical window expressions, so WindowExec still
    # dedupes each lag to one evaluation; the D-suffixed weight
    # literals are the same pre-computed doubles as before.
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    terms, weights = [], []
    for k, (wk, mk) in enumerate(zip(WEIGHTS_EWMA, _W_MICRO)):
        lv = f"lag(vc, {k}) {over}" if k else "vc"
        terms.append(
            f"coalesce(cast(floor({wk!r}D * ({lv} * 10000)) as bigint), 0L)"
        )
        weights.append(f"(CASE WHEN {lv} IS NOT NULL THEN {mk}L ELSE 0L END)")
    # A null lag drops BOTH the term and its weight in BOTH engines
    # (oracle gates w_micro on h.vc IS NOT NULL), so a null
    # events.value is a shared no-op rather than a divergence; and a
    # user whose entire trailing window is null values yields
    # ewma=NULL instead of an ANSI divide-by-zero abort.
    #
    # The two 20-lag sums are bound ONCE via an intermediate
    # projection: inlining them into `F.when(w_sum > 0, term/w_sum)`
    # repeats the w_sum tree in both the predicate and the divisor,
    # and Catalyst does not CSE across a CaseWhen's branches — the
    # round-8 inline form evaluated 60 lag-sum trees per row instead
    # of 40 (bench: 0.86 s -> 1.70 s; this binding restores it).
    sums = r.selectExpr(
        "user_id",
        "event_id",
        "ts",
        "value",
        "(" + " + ".join(terms) + ") AS __term_sum",
        "(" + " + ".join(weights) + ") AS __w_sum",
    )
    return sums.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts"),
        "value",
        F.when(
            F.col("__w_sum") > 0,
            _q(F.col("__term_sum") * F.lit(1.0) / F.col("__w_sum"), 4),
        ).alias("ewma"),
    )


@query(
    "daily_value_percentiles",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents, event_id
      FROM events),
    ranked AS (
      SELECT event_type, day, cents,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type, day) AS n
      FROM d)
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                         THEN cents END) AS BIGINT) AS p50_cents,
           CAST(max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                         THEN cents END) AS BIGINT) AS p95_cents
    FROM ranked GROUP BY event_type, day
    """,
)
def daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact percentiles — the p50/p95-per-day dashboard shape —
    via per-group rank selection: rank within (series, day), pick the
    ceil(q·n) row, fold to one row per group with a conditional max.

    One shuffle on the group key; within-group sort is per-partition
    (no global sort anywhere). The rank rule and the integer-cents
    grid make the selected values bit-equal across engines — the
    grouped generalization of ``quantile_sketch_verdict_prices``'s
    exact arm, and at 100 TB the per-group sort is exactly what a
    sort-based aggregate already pays."""
    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type", "day")
    ranked = ev.select(
        "event_type",
        "day",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"), F.col("cents")
        )
    ).cast("long")
    return ranked.groupBy("event_type", F.col("day").cast("string").alias("day")).agg(
        F.max("n").cast("long").alias("n_events"),
        pick(0.5).alias("p50_cents"),
        pick(0.95).alias("p95_cents"),
    )
