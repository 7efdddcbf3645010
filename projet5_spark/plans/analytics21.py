"""Batch 23 operator battery — temporal alignment & distribution
comparison: nearest-neighbor as-of join (±band, either direction),
business-day shipping latency, and Q-Q decile comparison.

Scale design notes:
- **Nearest as-of** completes the as-of family (the catalog's
  union+window join is backward-only): candidates come from a banded
  equi-join on the entity key (pairs bounded by per-user activity
  inside ±1 h), and the per-left-row argmin is one WindowGroupLimit
  pass with a total (|Δt|, id) tie-break.
- **Business days** evaluates the weekday count as an expression over
  a bounded date ``sequence`` (spans are order→first-ship, weeks not
  years); the rollup is one hash aggregate on exact integer day
  counts.
- **Q-Q deciles** computes both groups' exact interpolated deciles in
  ONE aggregate each (array-percentile), then aligns them positionally
  — constant-size output, the distribution-shift view a KS statistic
  (see ``ks_test_event_values``) summarizes to one number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Nearest as-of join (±band, both directions)
# --------------------------------------------------------------------------

_NEAR_BAND_US = 3_600_000_000  # ±1 hour


@query(
    "asof_nearest_view_per_purchase",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS p_us FROM events
      WHERE event_type = 'purchase'),
    v AS (
      SELECT user_id, event_id AS view_event_id, epoch_us(ts) AS v_us
      FROM events WHERE event_type = 'view'),
    cand AS (
      SELECT p.event_id, p.user_id,
             v.view_event_id, v.v_us - p.p_us AS dt_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(v.v_us - p.p_us), v.view_event_id) AS rn
      FROM p JOIN v ON p.user_id = v.user_id
       AND abs(v.v_us - p.p_us) <= {_NEAR_BAND_US})
    SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
           CAST(view_event_id AS BIGINT) AS view_event_id,
           CAST(dt_us AS BIGINT) AS dt_us
    FROM cand WHERE rn = 1 ORDER BY event_id
    """,
)
def asof_nearest_view_per_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: for each purchase, the view by the
    same user closest in time within ±1 hour — either direction — the
    sensor-alignment/nearest-quote semantics the backward-only as-of
    (``asof_latest_view_before_purchase``) can't express.

    Candidates come from a banded equi-join on user (pairs bounded by
    per-user activity inside the band; at corpus scale the band
    becomes a time-bucketed join key), and the per-purchase argmin is
    one WindowGroupLimit with a total (|Δt|, view id) tie-break —
    deterministic even when two views are equidistant."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("p_us")
    )
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        F.unix_micros("ts").alias("v_us"),
    )
    cand = p.join(v, "user_id").where(
        F.abs(F.col("v_us") - F.col("p_us")) <= _NEAR_BAND_US
    )
    w = Window.partitionBy("event_id").orderBy(
        F.abs(F.col("v_us") - F.col("p_us")), "view_event_id"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            "user_id",
            F.col("view_event_id").cast("long").alias("view_event_id"),
            (F.col("v_us") - F.col("p_us")).cast("long").alias("dt_us"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Business-day shipping latency
# --------------------------------------------------------------------------


@query(
    "business_days_to_ship_by_priority",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderpriority AS priority,
             o.o_orderdate AS d1, min(l.l_shipdate) AS d2
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate),
    parts AS (
      SELECT priority,
             greatest(date_diff('day', d1, d2), 0) AS total,
             isodow(d1) - 1 AS wd1
      FROM spans),
    bd AS (
      SELECT priority,
             CAST(5 * (total // 7)
                  + CASE WHEN total % 7 = 0 THEN 0
                         ELSE len(list_filter(range(1, total % 7 + 1),
                                              r -> (wd1 + r) % 7 < 5))
                    END AS BIGINT) AS bdays
      FROM parts)
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(bdays) AS BIGINT) AS total_bdays,
           CAST(floor(CAST(sum(bdays) AS DOUBLE) * 1e6 / count(*)) AS BIGINT)
             AS avg_bdays_micro,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM bd GROUP BY priority ORDER BY priority
    """,
)
def business_days_to_ship_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency in BUSINESS days (Mon-Fri) per
    priority — the SLA clock operations teams actually run, where a
    Friday order shipping Monday took one day, not three.

    The fact table folds to one (order date, first ship date) span per
    order first; the weekday count is CLOSED-FORM — 5 per complete
    week plus a ≤6-element partial-week filter keyed on the start
    weekday — so per-row cost is O(1) no matter how long the span
    (negative spans clamp to 0: shipping can't precede the order
    clock). The rollup aggregates exact integer day counts."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # per-order first ship date aggregated BELOW the join (the
    # cycle_time_percentiles fix): the min depends only on l_orderkey,
    # so the join carries the folded per-order relation instead of
    # fact-width rows — same result (orders are unique per key; the
    # inner join drops orphan groups either way)
    firsts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("d2"))
    )
    spans = o.join(firsts, o.o_orderkey == firsts.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.greatest(F.datediff("d2", "o_orderdate"), F.lit(0)).alias("total"),
        F.weekday("o_orderdate").alias("wd1"),
    )
    rem = F.col("total") % 7
    extra = F.when(rem == 0, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(1), rem),
                lambda r: (F.col("wd1") + r) % 7 < 5,
            )
        )
    )
    bdays = (5 * F.floor(F.col("total") / 7) + extra).cast("long")
    return (
        spans.select("priority", bdays.alias("bdays"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("bdays").cast("long").alias("total_bdays"),
            F.floor(F.sum("bdays").cast("double") * 1e6 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_bdays_micro"),
            F.max("bdays").cast("long").alias("max_bdays"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Q-Q decile comparison of two distributions
# --------------------------------------------------------------------------

_QQ_PCTS = tuple(round(0.1 * i, 1) for i in range(1, 10))


def _qq_oracle() -> str:
    pcts = ", ".join(str(p) for p in _QQ_PCTS)
    return f"""
    WITH f AS (
      SELECT quantile_cont(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT),
                           [{pcts}]) AS qs
      FROM orders WHERE o_orderstatus = 'F'),
    o AS (
      SELECT quantile_cont(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT),
                           [{pcts}]) AS qs
      FROM orders WHERE o_orderstatus = 'O'),
    fx AS (SELECT generate_subscripts(qs, 1) AS i, unnest(qs) AS q FROM f),
    ox AS (SELECT generate_subscripts(qs, 1) AS i, unnest(qs) AS q FROM o)
    SELECT CAST(fx.i AS BIGINT) * 10 AS pct,
           CAST(floor(fx.q * 1e2) AS BIGINT) AS f_centi_cents,
           CAST(floor(ox.q * 1e2) AS BIGINT) AS o_centi_cents,
           CAST(floor(fx.q * 1e2) - floor(ox.q * 1e2) AS BIGINT) AS diff_centi
    FROM fx JOIN ox ON fx.i = ox.i
    ORDER BY pct
    """


@query("qq_decile_points_order_status", oracle=_qq_oracle())
def qq_decile_points_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q comparison of the order-value distribution between finished
    ('F') and open ('O') orders: both groups' exact interpolated
    deciles, aligned positionally — the distribution-shift VIEW that a
    KS statistic (``ks_test_event_values``) collapses to one number.

    Each group's nine deciles come from ONE array-percentile aggregate
    over exact integer cents (map-side combinable sketch-free exact
    path at fixture scale; the sketch swap is certified by
    ``quantile_sketch_verdict_prices``), so the join and output are
    constant-size regardless of row count."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # grouped_exact_quantiles: bit-identical deciles without buffering
    # every group's prices in one JVM aggregate buffer; BOTH status
    # arms come from the same grouped pass (keys=status), so the
    # rank-bracket pipeline runs once, not per side
    from ..operators.quantiles import grouped_exact_quantiles

    cols = [f"d{i}" for i in range(len(_QQ_PCTS))]
    qt = grouped_exact_quantiles(
        o.where(F.col("o_orderstatus").isin("F", "O")),
        ["o_orderstatus"],
        "cents",
        dict(zip(cols, _QQ_PCTS)),
    )
    # positional alignment as ONE conditional aggregate over the
    # exploded 2×9 relation instead of the old eager localCheckpoint +
    # filter-per-side self-join: the r13 decomposition measured the
    # per-invocation cost as ~11 sequential single-task AQE stage
    # rounds (~0.2 s each at the box's scheduling floor), most of them
    # the checkpoint job + the two re-planned consumers. One consumer,
    # no checkpoint, same rows: the inner join's both-sides-present
    # contract is kept by the not-null filter (each side has exactly
    # one row per p when its arm exists, so max() selects it).
    exploded = qt.select(
        "o_orderstatus", F.posexplode(F.array(*cols)).alias("p", "v")
    )
    fq = F.max(F.when(F.col("o_orderstatus") == "F", F.col("v")))
    oq = F.max(F.when(F.col("o_orderstatus") == "O", F.col("v")))
    return (
        exploded.groupBy("p")
        .agg(fq.alias("fq"), oq.alias("oq"))
        .where(F.col("fq").isNotNull() & F.col("oq").isNotNull())
        .select(
            ((F.col("p") + 1) * 10).cast("long").alias("pct"),
            F.floor(F.col("fq") * 1e2).cast("long").alias("f_centi_cents"),
            F.floor(F.col("oq") * 1e2).cast("long").alias("o_centi_cents"),
            (F.floor(F.col("fq") * 1e2) - F.floor(F.col("oq") * 1e2))
            .cast("long")
            .alias("diff_centi"),
        )
        .orderBy("pct")
    )
