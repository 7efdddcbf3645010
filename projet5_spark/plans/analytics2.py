"""Batch 6: product-analytics shapes over the events stream table —
cohort retention and funnel conversion — plus the last two adapted
TPC-H topologies (Q9 profit aggregation, Q20 nested quantity filter).

Cohort/funnel are the canonical "two timestamps per user" analyses:
both reduce to a per-user aggregate joined back against the event
stream — one shuffle on user_id each, no self-cross-products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import gridsum, query, quantize as _q


@query(
    "cohort_weekly_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(time_bucket(INTERVAL '7 days', ts, TIMESTAMP '1970-01-01')) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            time_bucket(INTERVAL '7 days', e.ts, TIMESTAMP '1970-01-01')) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           count(DISTINCT user_id) AS active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, counted in
    each subsequent week they were active. firsts is a per-user
    aggregate — one row per user, so it scales with the user base; no
    broadcast hint (AQE upgrades when small). activity dedups
    (user, week) pairs before the final distinct count."""
    ev = _t(spark, sf_dir, "events")
    week = F.window("ts", "7 days").start
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(week.cast("date"), F.col("cohort_week").cast("date")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "funnel_view_to_purchase",
    oracle="""
    WITH first_view AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    converted AS (
      SELECT f.user_id, f.v_ts,
             min(e.ts) AS p_ts
      FROM first_view f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts > f.v_ts
      GROUP BY f.user_id, f.v_ts)
    SELECT
      (SELECT count(*) FROM first_view) AS viewers,
      count(*) AS converters,
      CAST(sum(CASE WHEN p_ts <= v_ts + INTERVAL '24 hours' THEN 1 ELSE 0 END) AS BIGINT)
        AS converted_24h
    FROM converted
    """,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: first view → any later purchase (+ a 24h-window tier).
    Each stage is an aggregate; the join carries one row per user, so
    the funnel costs two shuffles regardless of event volume."""
    ev = _t(spark, sf_dir, "events")
    first_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    converted = (
        first_view.join(
            purchases,
            (F.col("user_id") == F.col("p_user")) & (F.col("pts") > F.col("v_ts")),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("pts").alias("p_ts"))
    )
    viewers = first_view.agg(F.count(F.lit(1)).alias("viewers"))
    return (
        converted.agg(
            F.count(F.lit(1)).alias("converters"),
            F.sum(
                F.when(
                    F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"), 1
                ).otherwise(0)
            ).alias("converted_24h"),
        )
        .join(F.broadcast(viewers))
        .select("viewers", "converters", "converted_24h")
    )


@query(
    "q09_profit_by_nation_year",
    oracle="""
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
           sum(CAST(floor((l_extendedprice * (1 - l_discount) - l_quantity * l_tax * 100.0)
                          * 1e4 + 0.5) AS BIGINT)) / 1e4 AS profit
    FROM lineitem JOIN orders   ON o_orderkey = l_orderkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name, yr
    """,
)
def q09_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit (revenue minus a per-line cost term) aggregated
    by supplier nation × order year. The fixture has no partsupp cost,
    so cost is proxied by quantity·tax·100 — the plan topology (fact ⋈
    orders ⋈ supplier ⋈ nation, two-key group) is the point."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("l_quantity") * F.col("l_tax") * 100.0
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(gridsum(profit, 4).alias("profit"))
    )


@query(
    "q20_heavy_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%ring%'
      GROUP BY l_suppkey
      HAVING sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             > (SELECT 1.2 * avg(q) FROM (
                  SELECT sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS q
                  FROM lineitem JOIN part ON p_partkey = l_partkey
                  WHERE p_name LIKE '%ring%'
                  GROUP BY l_suppkey) t))
    """,
)
def q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested aggregate thresholds — suppliers whose shipped
    quantity of matching parts exceeds 1.2× the average such quantity.
    The inner aggregate materializes once and feeds both the threshold
    scalar and the semi-join (reused subplan)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%ring%"))
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    per_supp = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(qty).alias("q"))
    )
    thr = per_supp.agg((1.2 * F.avg("q")).alias("thr"))
    heavy = per_supp.join(F.broadcast(thr)).where(F.col("q") > F.col("thr"))
    supp = _t(spark, sf_dir, "supplier")
    return supp.join(
        heavy.select("l_suppkey"),
        supp.s_suppkey == F.col("l_suppkey"),
        "left_semi",
    ).select("s_suppkey", "s_name")


def _pagerank_edges_sql() -> str:
    """Shared oracle fragment: nation→nation trade edges weighted by
    lineitem count, plus per-source out-totals."""
    return """
    edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY c.c_nationkey, s.s_nationkey),
    outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT nk FROM (
      SELECT src AS nk FROM edges UNION SELECT dst AS nk FROM edges)),
    nn AS (SELECT count(*) AS n FROM nodes),
    p AS (SELECT e.src, e.dst, e.w * 1.0 / o.wout AS p
          FROM edges e JOIN outw o ON e.src = o.src)
    """


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One damped PageRank step: out(dst) = 0.15/N + 0.85·Σ prev(src)·p.

    The rank mass is accumulated on a 10⁻¹² integer micro-grid
    (``registry.gridsum`` pattern): each pr·p product is floored to a
    BIGINT before summing, so the sum is associative and independent of
    partial-aggregation order — a raw double sum here is
    summation-order-dependent and Spark's combine order never matches
    DuckDB's. Products are ≤1, edges ≤|N|², so the BIGINT total is
    bounded by |N|²·10¹² — no overflow at any realistic node count."""
    return f"""
    {out} AS (
      SELECT n.nk, 0.15 / nn.n + 0.85 * coalesce(m.acc, 0.0) AS pr
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (SELECT p.dst AS nk,
                        sum(CAST(floor({prev}.pr * p.p * 1e12) AS BIGINT)) / 1e12 AS acc
                 FROM p JOIN {prev} ON p.src = {prev}.nk
                 GROUP BY p.dst) m ON n.nk = m.nk)
    """


@query(
    "pagerank_nation_trade_3iter",
    oracle=f"""
    WITH {_pagerank_edges_sql()},
    nn1 AS (SELECT n FROM nn),
    pr0 AS (SELECT nk, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    {_pagerank_iter_sql('pr0', 'pr1')},
    {_pagerank_iter_sql('pr1', 'pr2')},
    {_pagerank_iter_sql('pr2', 'pr3')}
    SELECT nk AS nationkey, floor(pr * 1e6) / 1e6 AS pagerank
    FROM pr3
    """,
)
def pagerank_nation_trade_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 unrolled iterations) over the
    nation→nation trade graph (customer nation → supplier nation,
    edge weight = lineitem count).

    The expensive part is the one-time edge build — a fact-scale join
    tree that aggregates down to |N|² rows at most; every iteration
    after that is a join between the (tiny, broadcast-able) rank vector
    and the edge list — the loop-unrolled DataFrame form of what
    Pregel/GraphX do with messages. Edge weights are exact integers;
    only the final rank is floored onto the 1e-6 grid."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == supp.s_suppkey,
        )
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # the rank loop references this subtree ~7× (p in each iteration,
        # nodes on both union sides, the node count); without truncation
        # Spark re-runs the fact-scale join per reference. Eager
        # localCheckpoint materializes the (≤|N|²-row) edge list once —
        # same pattern as operators.graph.connected_components.
        .localCheckpoint()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    # p and nodes are ≤|N|²/|N| rows yet referenced 3-4× by the
    # unrolled rank loop; leaf-ifying them (eager checkpoint, same
    # rationale as the edges one above) keeps each iteration's subtree
    # two operators deep. This query is scheduler-latency-bound, not
    # data-bound (serial_audit: 0.36 executor-s under a 2.1 s wall) —
    # the wins here are fewer/shallower tiny stages, not less data.
    p = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") * F.lit(1.0) / F.col("wout")).alias("p"))
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("nk"))
        .union(edges.select(F.col("dst").alias("nk")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # bounded: |nations| — a scalar, not a collect of data
    pr = nodes.select("nk", (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr"))
    for _ in range(3):
        # micro-grid accumulation: floor each pr·p product onto a 1e-12
        # integer grid and sum as BIGINT (order-independent), mirroring
        # _pagerank_iter_sql — a raw double sum would depend on Spark's
        # partial-aggregation order and drift from the oracle.
        # The rank vector is |N| rows → broadcast both per-iteration
        # joins so the only exchange per iteration is the dst aggregate.
        acc = (
            p.join(F.broadcast(pr), p.src == pr.nk)
            .groupBy(F.col("dst").alias("t_nk"))
            .agg(
                (
                    F.sum(
                        F.floor(F.col("pr") * F.col("p") * F.lit(1e12)).cast("long")
                    )
                    / F.lit(1e12)
                ).alias("acc")
            )
        )
        pr = nodes.join(F.broadcast(acc), nodes.nk == acc.t_nk, "left").select(
            "nk",
            (
                F.lit(0.15 / float(n_nodes))
                + F.lit(0.85) * F.coalesce(F.col("acc"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select(
        F.col("nk").alias("nationkey"), _q("pr", 6).alias("pagerank")
    )
