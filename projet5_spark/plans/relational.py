"""Relational query surface (SURVEY.md §2.5) over the TPC-H-ish fixtures.

Each ``@query`` pairs a declarative DataFrame/SQL plan with its DuckDB
oracle. Plans are written so Catalyst gets everything it needs:

- filters sit directly on base scans → parquet pushdown + row-group skip;
- only needed columns touched → ReadSchema pruning;
- dim sides of star joins broadcast (explicit ``F.broadcast`` on the
  provably-small dims; AQE handles the rest);
- aggregates are plain ``groupBy.agg`` → partial map-side combine;
- every top-k carries a total order (tie-broken on a key column).

Reference lineage: these generalize operators R1-R19 of migration.py
(SURVEY.md §2.1) from the healthcare dataflow to a full analytics
surface; none of them exist as named queries in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.profile import duplicate_count, null_profile
from ..sources.readers import fixture_table as _t
from .registry import gridavg, gridsum, query, quantize as _q


def _sql_tables(sf_dir: str) -> dict[str, str]:
    """FROM-clause targets for spark.sql queries (no view registration).
    Table list comes from sources.readers.TABLES — the single fixture
    inventory — so adding a table cannot silently skip one consumer."""
    from ..sources.readers import TABLES

    return {n: f"parquet.`{sf_dir}/{n}.parquet`" for n in TABLES}


_D2 = lambda c: _q(c, 2)  # noqa: E731  money-scale rounding (both sides)
_D4 = lambda c: _q(c, 4)  # noqa: E731  ratio-scale rounding


# --------------------------------------------------------------------------
# TPC-H-shaped analytics
# --------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(CAST(floor((l_quantity) * 1e2 + 0.5) AS BIGINT)) / 1e2                    AS sum_qty,
           sum(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) / 1e2               AS sum_base_price,
           sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) / 1e4 AS sum_disc_price,
           sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1e6 + 0.5) AS BIGINT)) / 1e6 AS sum_charge,
           sum(CAST(floor((l_quantity) * 1e2 + 0.5) AS BIGINT)) * 1.0 / (1e2 * count(l_quantity)) AS avg_qty,
           sum(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) * 1.0 / (1e2 * count(l_extendedprice)) AS avg_price,
           sum(CAST(floor((l_discount) * 1e2 + 0.5) AS BIGINT)) * 1.0 / (1e2 * count(l_discount)) AS avg_disc,
           count(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate. One shuffle carrying 6
    groups; everything else is map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            gridsum("l_quantity", 2).alias("sum_qty"),
            gridsum("l_extendedprice", 2).alias("sum_base_price"),
            gridsum(disc_price, 4).alias("sum_disc_price"),
            gridsum(disc_price * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            gridavg("l_quantity", 2).alias("avg_qty"),
            gridavg("l_extendedprice", 2).alias("avg_price"),
            gridavg("l_discount", 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey AS o_orderkey,
           sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) / 1e4 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k.

    customer (filtered) and orders both scale with SF, so neither side
    gets a broadcast hint — AQE converts to broadcast at runtime when a
    side is actually small, and falls back to shuffled hash join at
    cluster scale. The only full shuffle is the final per-order
    aggregate. Top-k is totally ordered (revenue, orderkey) so the
    LIMIT is deterministic.
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            on=li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("o_orderkey"), F.col("o_orderdate"))
        .agg(gridsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q05_region_revenue",
    oracle="""
    SELECT n_name,
           sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) / 1e4 AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON c_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join.

    Only the bounded dims carry broadcast hints (region=5 rows,
    nation≤25, and their join): customer/supplier/orders all scale
    linearly with SF, so they join via shuffle hash / sort-merge and
    AQE upgrades them to broadcast only when a runtime side is small.
    """
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    nat_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat_in_region), cust.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(gridsum(li.l_extendedprice * (1 - li.l_discount), 4).alias("revenue"))
    )


@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT sum(CAST(floor((l_extendedprice * l_discount) * 1e4 + 0.5) AS BIGINT)) / 1e4 AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure pushdown test — every predicate reaches the
    parquet scan (check PushedFilters), zero joins, scalar aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        gridsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join with a mixed equi+theta
    condition (equi conjunct keeps it a hash join, not a BNLJ)."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) / 1e4 AS revenue,
           n_name, floor((c_acctbal) * 1e2) / 1e2 AS c_acctbal
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-side filter, star join, grouped revenue,
    deterministic top-20.

    orders/customer are SF-proportional → no broadcast hint (AQE
    decides at runtime); only nation (≤25 rows) is hinted.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(gridsum(li.l_extendedprice * (1 - li.l_discount), 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            "n_name",
            _D2(F.col("c_acctbal")).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           floor((o_totalprice) * 1e2) / 1e2 AS o_totalprice,
           sum(CAST(floor((l_quantity) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: agg-having subquery as a semi-join on its result.

    The having-side aggregate shuffles lineitem once on l_orderkey. The
    qualifying-key set keeps an explicit broadcast hint because HAVING
    sum(qty)>300 is provably selective (~1e-4 of orders; single-bigint
    rows, tens of MB even at SF 100k). orders/customer are
    SF-proportional → no hint, AQE decides.

    The having aggregate repartitions on its key BEFORE aggregating
    (the packed_min_dedup trade): lineitems per order are few, so
    map-side partial aggregation barely reduces the shuffle but makes
    every map task's hash map hold ~every group it touches — under
    per-task execution-memory contention that map is exactly what
    spills (x100: 8.1 s / 5.7 GB spill inline → 4.9 s / ZERO spill
    pre-shuffled).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.select("l_orderkey", "l_quantity")
        .repartition("l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .where(F.col("__sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big.withColumnRenamed("l_orderkey", "__ok")), li.l_orderkey == F.col("__ok"), "inner")
        .drop("__ok")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(gridsum("l_quantity", 2).alias("sum_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _D2(F.col("o_totalprice")).alias("o_totalprice"),
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# Join forms (R12/R14 generalized)
# --------------------------------------------------------------------------


@query(
    "join_left_order_counts",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           coalesce(sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) / 1e2, 0) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(gridsum("o_totalprice", 2), F.lit(0.0)).alias("total_spent"),
        )
    )


@query(
    "join_semi_customers_with_orders",
    oracle="SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14-family: left-semi join — probe side streams, no fact columns
    duplicated, no post-join dedup needed."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey")


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14: the idempotent-append existence check as a set operator —
    one anti-join replaces the reference's per-row find_one probes
    (migration.py:179-183)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_range_shipped_late",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_late
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
)
def join_range_shipped_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join with an equi conjunct: stays a hash join with the
    range residual as a post-probe filter (never a BNLJ)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


# --------------------------------------------------------------------------
# Aggregation forms
# --------------------------------------------------------------------------


@query(
    "agg_nation_customer_stats",
    oracle="""
    SELECT n_name,
           count(*) AS n_customers,
           count(DISTINCT c_mktsegment) AS n_segments,
           sum(CAST(floor((c_acctbal) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_bal,
           sum(CAST(floor((c_acctbal) * 1e2 + 0.5) AS BIGINT)) * 1.0 / (1e2 * count(c_acctbal)) AS avg_bal,
           floor((min(c_acctbal)) * 1e2) / 1e2 AS min_bal,
           floor((max(c_acctbal)) * 1e2) / 1e2 AS max_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_nation_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
            gridsum("c_acctbal", 2).alias("sum_bal"),
            gridavg("c_acctbal", 2).alias("avg_bal"),
            _D2(F.min("c_acctbal")).alias("min_bal"),
            _D2(F.max("c_acctbal")).alias("max_bal"),
        )
    )


@query(
    "rollup_region_nation_balance",
    oracle="""
    SELECT r_name, n_name,
           CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid,
           sum(CAST(floor((c_acctbal) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_bal,
           count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_region_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: ROLLUP = one aggregate pass, grouping-id
    disambiguates subtotal rows from real NULL keys."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            gridsum("c_acctbal", 2).alias("sum_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        gridsum("o_totalprice", 2).alias("total"),
    )


@query(
    "grouping_sets_order_breakdown",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end path: Spark SQL GROUPING SETS directly over the
    parquet scan (no temp views needed)."""
    t = _sql_tables(sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM {t['orders']}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_distinct_suppliers_per_nation",
    oracle="""
    SELECT n_nationkey, count(DISTINCT s_suppkey) AS n_suppliers
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def agg_distinct_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    return (
        nation.join(supp, supp.s_nationkey == nation.n_nationkey, "left")
        .groupBy("n_nationkey")
        .agg(F.count_distinct("s_suppkey").alias("n_suppliers"))
    )


@query(
    "approx_distinct_parts",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_within_5pct,
           TRUE AS orders_within_5pct
    FROM lineitem
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): at 100 TB the exact
    count-distinct shuffle is the bottleneck; the sketch is one pass, no
    shuffle of distinct values.

    The HLL estimate itself is engine-specific, so the hashable contract
    is the *verdict*, mirroring the ``ann_recall_*`` self-certifying
    pattern: emit the exact counts plus a boolean ``|est-exact|/exact <
    0.05`` bound check per column; the oracle emits DuckDB's exact
    counts with the booleans as literals. A sketch drifting out of its
    rsd=0.01 tolerance flips the boolean and fails the hash gate.
    """
    li = _t(spark, sf_dir, "lineitem")

    # Each column aggregates over its own pre-distinct frame: mixing
    # count_distinct with a 0.01-rsd approx sketch in ONE agg makes the
    # distinct-rewrite carry a multi-KB HLL buffer per group through
    # the partial aggregation (measured 14+ s at sf0.1 vs 0.7 s this
    # way); HLL over the distinct set estimates the same cardinality.
    # Multi-column distincts in one agg Expand-duplicate every row —
    # also avoided. The two 1-row results cross-join for free.
    # Deliberately NOT spread off the single fixture split: the
    # per-column partial distinct is plain bigint hashing, ~1.4
    # executor-s on one task (serial_audit), and both fan-out shapes
    # measured WORSE at sf0.1 (hash-repartition-first 3.6 s,
    # round-robin spread 3.4 s, vs 1.6 s as-is — wide-task codegen
    # overhead exceeds the serialized work). A real multi-split scan
    # parallelizes the partial distinct natively with zero extra
    # exchange, so this shape is also the 100 TB plan.
    def one(col: str, exact: str, est: str) -> DataFrame:
        return (
            li.select(col)
            .distinct()
            .agg(
                F.count(F.lit(1)).alias(exact),
                F.approx_count_distinct(col, 0.01).alias(est),
            )
        )

    return one("l_partkey", "exact_parts", "_ap").join(
        one("l_orderkey", "exact_orders", "_ao")
    ).select(
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("_ap") - F.col("exact_parts"))
            / F.col("exact_parts")
            < 0.05
        ).alias("parts_within_5pct"),
        (
            F.abs(F.col("_ao") - F.col("exact_orders"))
            / F.col("exact_orders")
            < 0.05
        ).alias("orders_within_5pct"),
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@query(
    "window_top3_customers_per_nation",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, floor((c_acctbal) * 1e2) / 1e2 AS c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rk
      FROM customer)
    WHERE rk <= 3
    """,
)
def window_top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via row_number: one shuffle on the partition key; at
    scale Spark pushes a per-partition local top-k (WindowGroupLimit)
    below the shuffle so only k rows per key per mapper move."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            _D2(F.col("c_acctbal")).alias("c_acctbal"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


@query(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
             OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e2
             AS running_total
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum on the integer-cents grid: windowed double sums are
    association-order-sensitive across engines; BIGINT cents are exact."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w) / 100.0).alias("running_total"),
    )


@query(
    "window_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS gap_days
    FROM orders
    """,
)
def window_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: days since the customer's previous order
    (NULL for the first)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("gap_days"),
    )


@query(
    "window_moving_avg_30d",
    oracle="""
    SELECT o_custkey, o_orderkey,
           sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) OVER w * 1.0
             / (1e2 * count(o_totalprice) OVER w) AS avg_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a day-ordinal: per-customer 30-day moving average
    — the frame is value-based, not row-based. Averaged on the exact
    cents grid (see window_running_revenue)."""
    orders = _t(spark, sf_dir, "orders")
    day_ord = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(day_ord).rangeBetween(-30, 0)
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(cents).over(w) / (100.0 * F.count("o_totalprice").over(w))
        ).alias("avg_30d"),
    )


@query(
    "window_first_last_order",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    ).distinct()


# --------------------------------------------------------------------------
# Sort / limit / set ops / dedup
# --------------------------------------------------------------------------


@query(
    "sort_topk_orders",
    oracle="""
    SELECT o_orderkey, floor((o_totalprice) * 1e2) / 1e2 AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def sort_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject: per-partition
    top-k then a k-row driver merge — never a full sort at scale."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            _D2(F.col("o_totalprice")).alias("o_totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@query(
    "set_union_active_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_union_active_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.union(b).distinct()


@query(
    "set_intersect_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@query(
    "set_except_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    # set-EXCEPT (distinct, fully-removed) semantics = subtract;
    # exceptAll would keep surplus multiplicities
    return a.subtract(b)


@query(
    "distinct_order_months",
    oracle="""
    SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo
    FROM orders
    """,
)
def distinct_order_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 generalized: distinct = hash aggregate on the projection."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).distinct()


@query(
    "dedup_first_lineitem_per_order",
    oracle="""
    SELECT l_orderkey, l_partkey, floor((l_quantity) * 1e2) / 1e2 AS l_quantity
    FROM (SELECT l_orderkey, l_partkey, l_quantity,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey, l_suppkey,
                                             l_extendedprice) AS rn
          FROM lineitem)
    WHERE rn = 1
    """,
)
def dedup_first_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 generalized: deterministic first-seen-wins dedup — the
    survivor is minimal under an explicit order (l_linenumber), not
    "whatever partition won the race".

    Uses the packed-decimal reduction (operators/dedup.py
    ``packed_min_dedup``): the (order, payload) tuple packs into one
    order-preserving DECIMAL(38,0) so the whole dedup is a pure
    whole-stage-codegen HashAggregate — no SortAggregate, no struct
    buffers, 16-byte state per order. x100 stress: the min_by/struct
    forms sort-aggregated 60M rows (8.0 GB spill, 24.3 s); this form
    spills ZERO bytes. Digit budget (38 total) leaves room for 100 TB
    key ranges: linenumber<10, partkey<1e12, suppkey<1e12, price
    cents<1e9, quantity cents<1e4 — each row-checked, an overflow
    raises instead of corrupting the order. Prices/quantities are
    cent-aligned in TPC-H (money columns), so the cent encoding is
    order-preserving, and floor(qty*100) is exactly the _D2 output
    grid — the survivor's quantity decodes bit-identically.
    """
    from ..operators.dedup import packed_min_dedup

    # project BEFORE the dedup so the parquet scan prunes to the six
    # touched columns (l_comment etc. never enter the aggregate)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_quantity",
    )
    # fixture's (orderkey, linenumber) is non-unique → extend the order
    # until it totally orders rows within a key (determinism, §7.4.3);
    # the trailing quantity field makes exact order-ties deterministic
    # too (min quantity wins, same as min(struct(order, payload))).
    dedup = packed_min_dedup(
        li,
        ["l_orderkey"],
        [
            ("ln", F.col("l_linenumber"), 1),
            ("pk", F.col("l_partkey"), 12),
            ("sk", F.col("l_suppkey"), 12),
            ("price_c", F.floor(F.col("l_extendedprice") * 100).cast("long"), 9),
            ("qty_c", F.floor(F.col("l_quantity") * 100).cast("long"), 4),
        ],
    )
    return dedup.select(
        "l_orderkey",
        F.col("pk").alias("l_partkey"),
        (F.col("qty_c") / F.lit(100.0)).alias("l_quantity"),
    )


@query(
    "duplicate_count_lineitem",
    oracle="""
    SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS dup_rows
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate) t
    WHERE n > 1
    """,
)
def duplicate_count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: full-row duplicate profile (migration.py:139)."""
    return duplicate_count(_t(spark, sf_dir, "lineitem"))


@query(
    "null_profile_orders",
    oracle="""
    SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice,
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate,
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority
    FROM orders
    """,
)
def null_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: per-column null counts in one aggregate job (migration.py:138)."""
    return null_profile(_t(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Scalar-function surfaces (R8/R9 generalized)
# --------------------------------------------------------------------------


@query(
    "string_funcs_customer",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_name) AS name_lower,
           CAST(length(c_name) AS INT) AS name_len,
           substring(c_name, 1, 8) AS name_prefix,
           CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_num,
           concat(c_mktsegment, ':', c_name) AS tagged,
           replace(c_name, 'Customer', 'Cust') AS renamed,
           CASE WHEN c_name LIKE 'Customer#%' THEN 1 ELSE 0 END AS is_std
    FROM customer
    """,
)
def string_funcs_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("long").alias("name_num"),
        F.concat(F.col("c_mktsegment"), F.lit(":"), F.col("c_name")).alias("tagged"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("renamed"),
        F.when(F.col("c_name").like("Customer#%"), 1).otherwise(0).alias("is_std"),
    )


@query(
    "date_funcs_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(day(o_orderdate) AS INT) AS dom,
           CAST(isodow(o_orderdate) AS INT) AS iso_dow,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since_95
    FROM orders
    """,
)
def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.quarter(d).alias("qtr"),
        F.dayofmonth(d).alias("dom"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_95"),
    )


@query(
    "math_conditional_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor((abs(l_discount - 0.05)) * 1e4) / 1e4 AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_c,
           floor((power(l_quantity, 2)) * 1e2) / 1e2 AS qty_sq,
           floor((ln(l_extendedprice)) * 1e4) / 1e4 AS log_price,
           CASE WHEN l_quantity > 25 THEN 'high' ELSE 'low' END AS qty_band,
           floor((coalesce(nullif(l_tax, 0.0), -1.0)) * 1e2) / 1e2 AS tax_or_neg,
           floor((greatest(l_discount, l_tax)) * 1e2) / 1e2 AS max_rate,
           floor((least(l_discount, l_tax)) * 1e2) / 1e2 AS min_rate
    FROM lineitem
    """,
)
def math_conditional_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _D4(F.abs(F.col("l_discount") - 0.05)).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 100).alias("price_c"),
        _D2(F.pow("l_quantity", F.lit(2))).alias("qty_sq"),
        _D4(F.log(F.col("l_extendedprice"))).alias("log_price"),
        F.when(F.col("l_quantity") > 25, "high").otherwise("low").alias("qty_band"),
        _D2(F.coalesce(F.nullif("l_tax", F.lit(0.0)), F.lit(-1.0))).alias("tax_or_neg"),
        _D2(F.greatest("l_discount", "l_tax")).alias("max_rate"),
        _D2(F.least("l_discount", "l_tax")).alias("min_rate"),
    )


@query(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT o_orderkey, floor((o_totalprice) * 1e2) / 1e2 AS o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT 1.5 * (sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
                                        / (1e2 * count(o_totalprice)))
                          FROM orders)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery through the SQL front-end: Catalyst plans the
    subquery once and broadcasts the scalar. The threshold averages the
    exact cents grid (not raw doubles) so both engines compute the
    bit-identical cutoff — a ULP of summation-order drift on a raw avg
    could flip rows sitting at the boundary."""
    t = _sql_tables(sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderkey, floor((o_totalprice) * 1e2) / 1e2 AS o_totalprice
        FROM {t['orders']}
        WHERE o_totalprice > (SELECT 1.5 * (sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
                                            / (1e2 * count(o_totalprice)))
                              FROM {t['orders']})
        """
    )


@query(
    "pivot_customers_segment_by_region",
    oracle="""
    SELECT c_mktsegment,
           CAST(sum(CASE WHEN r_name = 'AFRICA' THEN 1 ELSE 0 END) AS BIGINT)      AS AFRICA,
           CAST(sum(CASE WHEN r_name = 'AMERICA' THEN 1 ELSE 0 END) AS BIGINT)     AS AMERICA,
           CAST(sum(CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END) AS BIGINT)        AS ASIA,
           CAST(sum(CASE WHEN r_name = 'EUROPE' THEN 1 ELSE 0 END) AS BIGINT)      AS EUROPE,
           CAST(sum(CASE WHEN r_name = 'MIDDLE EAST' THEN 1 ELSE 0 END) AS BIGINT) AS "MIDDLE EAST"
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY c_mktsegment
    """,
)
def pivot_customers_segment_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — never the two-pass
    value-discovery scan."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("c_mktsegment")
        .pivot("r_name", regions)
        .agg(F.count(F.lit(1)))
        .na.fill(0, regions)
    )


@query(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey,
           regexp_replace(p_name, ' ', '_', 'g') AS snake_name,
           translate(p_type, 'AEO', 'aeo') AS type_translated,
           lpad(p_brand, 12, '*') AS brand_padded,
           rpad(p_brand, 12, '.') AS brand_rpadded,
           reverse(p_name) AS name_rev,
           split_part(p_name, ' ', 2) AS second_word,
           CAST(strpos(p_name, 'e') AS INT) AS first_e,
           left(p_name, 3) AS name_left,
           right(p_name, 3) AS name_right,
           CASE WHEN starts_with(p_type, 'PRO') THEN 1 ELSE 0 END AS is_promo
    FROM part
    """,
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function battery (regexp/translate/pad/split_part/
    position) — all JVM expressions inside one codegen stage."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.translate("p_type", "AEO", "aeo").alias("type_translated"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_rpadded"),
        F.reverse("p_name").alias("name_rev"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.instr("p_name", "e").alias("first_e"),
        F.substring("p_name", 1, 3).alias("name_left"),
        F.substring(F.col("p_name"), -3, 3).alias("name_right"),
        F.when(F.col("p_type").startswith("PRO"), 1).otherwise(0).alias("is_promo"),
    )


@query(
    "date_funcs2_orders",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           (CAST(year(o_orderdate) AS INT) - 1995) * 12 + CAST(month(o_orderdate) AS INT) - 1
             AS months_since_95,
           strftime(make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1),
                    '%Y-%m-%d') AS month_floor,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def date_funcs2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date battery: month arithmetic (clamping add_months),
    ISO week / day-of-year, month index, make_date, epoch seconds
    (deterministic because the session timezone is pinned UTC and the
    fixture timestamps are tz-naive)."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3mo"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofyear(d).alias("doy"),
        ((F.year(d) - 1995) * 12 + F.month(d) - 1).alias("months_since_95"),
        F.date_format(
            F.make_date(F.year(d), F.month(d), F.lit(1)), "yyyy-MM-dd"
        ).alias("month_floor"),
        F.unix_timestamp(F.col("o_orderdate")).alias("epoch_s"),
    )


@query(
    "set_intersect_all_linestatus",
    oracle="""
    SELECT l_returnflag AS flag FROM lineitem WHERE l_linestatus = 'F'
    INTERSECT ALL
    SELECT l_returnflag FROM lineitem WHERE l_linestatus = 'O'
    """,
)
def set_intersect_all_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (bag semantics: min multiplicity per
    value) — the per-occurrence counterpart of the set ops above."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_linestatus") == "F").select(F.col("l_returnflag").alias("flag"))
    b = li.where(F.col("l_linestatus") == "O").select(F.col("l_returnflag").alias("flag"))
    return a.intersectAll(b)


@query(
    "cross_join_region_pairs",
    oracle="""
    SELECT a.r_name AS region_a, b.r_name AS region_b
    FROM region a CROSS JOIN region b
    WHERE a.r_name < b.r_name
    """,
)
def cross_join_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (all unordered region pairs) — legitimate
    only for provably tiny sides; anything larger is a plan bug."""
    region = _t(spark, sf_dir, "region")
    a = region.select(F.col("r_name").alias("region_a"))
    b = region.select(F.col("r_name").alias("region_b"))
    return a.crossJoin(b).where(F.col("region_a") < F.col("region_b"))


@query(
    "ilike_case_insensitive_filter",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_name ILIKE '%RING%' OR lower(p_type) = 'promo'
    """,
)
def ilike_case_insensitive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive matching (ilike + lower-normalized equality)."""
    part = _t(spark, sf_dir, "part")
    return part.where(
        F.col("p_name").ilike("%RING%") | (F.lower("p_type") == "promo")
    ).select("p_partkey", "p_name")


@query(
    "range_source_generated",
    oracle="""
    SELECT CAST(r % 10 AS BIGINT) AS bucket,
           CAST(sum(r) AS BIGINT) AS total,
           count(*) AS n
    FROM (SELECT unnest(range(0, 100000)) AS r) t
    GROUP BY bucket
    """,
)
def range_source_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated-data source: spark.range is the zero-IO table generator
    (parallel, partitioned) — the right way to synthesize keys/calendars
    at scale, never a driver-side loop."""
    return (
        spark.range(0, 100000)
        .groupBy((F.col("id") % 10).alias("bucket"))
        .agg(F.sum("id").alias("total"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "join_full_outer_nation_coverage",
    oracle="""
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
           count(DISTINCT c.c_custkey) AS n_customers,
           count(DISTINCT s.s_suppkey) AS n_suppliers
    FROM customer c FULL OUTER JOIN supplier s ON c.c_nationkey = s.s_nationkey
    GROUP BY nationkey
    """,
)
def join_full_outer_nation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations covered by customers, suppliers, or
    either — unmatched sides survive as NULLs and the coalesced key
    reunifies them."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    j = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return j.groupBy(
        F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey")
    ).agg(
        F.count_distinct("c_custkey").alias("n_customers"),
        F.count_distinct("s_suppkey").alias("n_suppliers"),
    )


@query(
    "join_right_orders_all_customers",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_right_orders_all_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (the mirrored left join — kept as its own
    surface entry since the checklist names it)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
