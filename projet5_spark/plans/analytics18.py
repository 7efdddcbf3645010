"""Batch 20 operator battery — distributed ranking & join machinery:
ABC (Pareto-class) classification via a two-level distributed cumsum,
skew-salted join certification, week-over-week trending lift, and
time-decay multi-touch attribution.

Scale design notes:
- **ABC classification** is the canonical "global cumulative share"
  problem. The plan never funnels all rows through one partition: it
  range-repartitions the per-part revenue by (revenue DESC, key),
  cumsums *within* each sorted partition, and adds per-partition base
  offsets computed from a #partitions-row summary that crosses the
  only global window — the same two-level cumsum as
  ``doc_concat_eos_offsets``. Output is invariant to partition
  boundaries, so the sampling-based range partitioner can split
  anywhere. Class boundaries are exact BIGINT comparisons
  (``cum·100 ≤ tot·80``), no float shares until the report row.
- **Salted join** drives ``operators.joins.salted_join`` (random-shard
  fact salting + dim replication) through the driver gate: the result
  SET is invariant to shard assignment, so the plain-join oracle
  certifies the skew machinery end-to-end.
- **Trending lift** compares two data-anchored 7-day windows with one
  filtered-aggregate pass (`count FILTER`); the anchor (max ship
  date) is a broadcast scalar.
- **Attribution** joins each purchase to the same user's prior views
  within 7 days — per-user bounded pairs — with integer time-decay
  weights; campaign credit folds in one hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# ABC / Pareto classification of parts by revenue
# --------------------------------------------------------------------------


@query(
    "abc_classification_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT CAST(sum(r) AS BIGINT) AS tot FROM rev),
    c AS (
      SELECT r,
             sum(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM rev),
    cls AS (
      SELECT r,
             CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM c CROSS JOIN t)
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(r) AS BIGINT) AS revenue_cents,
           CAST(floor(CAST(sum(r) AS DOUBLE) * 1e6
                      / (SELECT tot FROM t)) AS BIGINT) AS share_micro
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts whose cumulative revenue
    share (descending) stays within 80% are class A, within 95% B,
    the tail C — the Pareto workhorse of assortment and working-
    capital analysis.

    The oracle states the naive global cumulative window. The plan
    here is the scale-correct equivalent: per-part revenue range-
    repartitions on (revenue DESC, key), cumsums within each sorted
    partition, and adds per-partition base offsets from a
    #partitions-row rollup — the only global window runs over that
    tiny summary. The output is invariant to where the range
    partitioner cuts, and the class test is exact BIGINT
    (``cum·100 ≤ tot·80``)."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 1e2 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("c").cast("long").alias("r"))
    )
    tot = rev.agg(F.sum("r").cast("long").alias("tot"))
    rp = (
        rev.repartitionByRange(F.desc("r"), F.col("l_partkey"))
        .sortWithinPartitions(F.desc("r"), "l_partkey")
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy(F.desc("r"), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = rp.withColumn("cum_in", F.sum("r").over(w_in))
    psums = rp.groupBy("pid").agg(F.sum("r").alias("psum"))
    w_b = (
        Window.orderBy("pid")  # #partitions rows only: tiny by design
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = psums.select(
        "pid", F.coalesce(F.sum("psum").over(w_b), F.lit(0)).alias("base")
    )
    cum = (
        local.join(F.broadcast(bases), "pid")
        .join(F.broadcast(tot))
        .select(
            "r",
            (F.col("cum_in") + F.col("base")).alias("cum"),
            "tot",
        )
    )
    cls = cum.select(
        "r",
        "tot",
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("r").cast("long").alias("revenue_cents"),
            F.floor(F.sum("r").cast("double") * 1e6 / F.max("tot"))
            .cast("long")
            .alias("share_micro"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# Skew-salted join certification
# --------------------------------------------------------------------------


@query(
    "salted_join_revenue_by_nation",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 1e2 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey ORDER BY nationkey
    """,
)
def salted_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation computed through the explicit skew-salting
    path (``operators.joins.salted_join``: the fact side picks a
    random shard in [0, 8), the dim side replicates across shards, the
    join runs on (key, shard)) — certified against the plain-join
    oracle, which works because the joined row SET is invariant to
    shard assignment.

    This is the tool for aggregation-after-join on a skewed key that
    AQE's skew splitting can't rescue; the dim replication cost is
    8× a table that was broadcast-small to begin with."""
    from ..operators.joins import salted_join

    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
    )
    joined = salted_join(fact, dim, on="custkey", how="inner", salt=8)
    return (
        joined.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Week-over-week trending parts
# --------------------------------------------------------------------------

_TREND_TOP = 20


@query(
    "trending_parts_wow_lift",
    oracle=f"""
    WITH mx AS (SELECT max(l_shipdate) AS maxd FROM lineitem),
    counted AS (
      SELECT l_partkey,
             CAST(count(*) FILTER (WHERE l_shipdate > maxd - INTERVAL 7 DAY)
                  AS BIGINT) AS c2,
             CAST(count(*) FILTER (WHERE l_shipdate <= maxd - INTERVAL 7 DAY
                                     AND l_shipdate > maxd - INTERVAL 14 DAY)
                  AS BIGINT) AS c1
      FROM lineitem CROSS JOIN mx
      WHERE l_shipdate > maxd - INTERVAL 14 DAY
      GROUP BY l_partkey)
    SELECT CAST(l_partkey AS BIGINT) AS partkey, c1, c2,
           CAST(floor(CAST(c2 AS DOUBLE) * 1e6 / c1) AS BIGINT) AS lift_micro
    FROM counted WHERE c1 > 0 AND c2 > 0
    ORDER BY lift_micro DESC, c2 DESC, partkey
    LIMIT {_TREND_TOP}
    """,
)
def trending_parts_wow_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} trending parts by week-over-week shipment lift: count in
    the last 7 days vs the 7 days before (anchored on the data's max
    ship date), ranked by the lift ratio — the "what's suddenly
    moving?" merchandising query.

    One filtered-aggregate pass over the 14-day slice (the date
    predicate pushes to the scan), the anchor is a broadcast scalar,
    and the top-k is a TakeOrdered with a total (lift, count, key)
    tie-break. The lift ratio is a single floored division of exact
    counts."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    mx = li.agg(F.max("l_shipdate").alias("maxd"))
    counted = (
        li.join(F.broadcast(mx))
        .where(F.col("l_shipdate") > F.date_sub(F.col("maxd"), 14))
        .groupBy("l_partkey")
        .agg(
            F.count(F.when(F.col("l_shipdate") > F.date_sub(F.col("maxd"), 7), 1))
            .cast("long")
            .alias("c2"),
            F.count(
                F.when(
                    (F.col("l_shipdate") <= F.date_sub(F.col("maxd"), 7))
                    & (F.col("l_shipdate") > F.date_sub(F.col("maxd"), 14)),
                    1,
                )
            )
            .cast("long")
            .alias("c1"),
        )
        .where((F.col("c1") > 0) & (F.col("c2") > 0))
    )
    return (
        counted.select(
            F.col("l_partkey").cast("long").alias("partkey"),
            "c1",
            "c2",
            F.floor(F.col("c2").cast("double") * 1e6 / F.col("c1"))
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), F.desc("c2"), "partkey")
        .limit(_TREND_TOP)
    )


# --------------------------------------------------------------------------
# Time-decay multi-touch attribution
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86_400_000_000  # 7 days


@query(
    "multi_touch_attribution_decay",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'purchase'),
    v AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS campaign
      FROM events WHERE event_type = 'view'),
    touches AS (
      SELECT v.campaign,
             CAST(floor(1e6 / (1 + CAST((p.us - v.us) // 86400000000
                                        AS BIGINT))) AS BIGINT) AS w
      FROM p JOIN v ON p.user_id = v.user_id
       AND v.us <= p.us AND p.us - v.us <= {_ATTR_WINDOW_US})
    SELECT campaign, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(w) AS BIGINT) AS credit_micro
    FROM touches GROUP BY campaign ORDER BY campaign
    """,
)
def multi_touch_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every view within 7 days
    before a purchase by the same user earns its campaign (the view's
    ``props.k``) a credit of ``1/(1 + days_before)`` — the marketing
    rollup between naive last-touch and data-hungry Markov removal.

    The purchase-view pair join is keyed on user (per-user pairs are
    bounded by that user's activity; at corpus scale the time band
    becomes a day-bucketed join like the as-of family), weights are
    exact integer micro-credits, and campaign credit folds in one hash
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("v_us"),
        F.get_json_object("props", "$.k").cast("long").alias("campaign"),
    )
    touches = p.join(v, "user_id").where(
        (F.col("v_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("v_us") <= _ATTR_WINDOW_US)
    )
    w = F.floor(
        F.lit(1e6)
        / (1 + F.floor((F.col("p_us") - F.col("v_us")) / F.lit(86_400_000_000)))
    ).cast("long")
    return (
        touches.select("campaign", w.alias("w"))
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("w").cast("long").alias("credit_micro"),
        )
        .orderBy("campaign")
    )
