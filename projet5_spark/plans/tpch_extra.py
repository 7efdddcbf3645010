"""TPC-H-shaped batch 3 (adapted to the fixture star schema — no
partsupp table, so Q2/Q9/Q11/Q20 variants are reformulated over the
available joins) + map/array/null-semantics scalar batteries.

Each query keeps the canonical TPC-H *plan shape* (the thing worth
benchmarking): Q7 two-nation volume join, Q12 shipmode case-count,
Q13 distribution of counts, Q14 conditional revenue share, Q16
supplier-part distinct counting, Q17 avg-quantity correlated filter,
Q19 disjunctive predicate pushdown, Q22 anti-join + global scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import _cents, gridsum, query, quantize as _q


@query(
    "q07_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, yr,
           sum(CAST(floor((volume) * 1e4 + 0.5) AS BIGINT)) / 1e4 AS revenue
    FROM (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS yr,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                        JOIN orders   ON o_orderkey = l_orderkey
                        JOIN customer ON c_custkey = o_custkey
                        JOIN nation sn ON s_nationkey = sn.n_nationkey
                        JOIN nation cn ON c_nationkey = cn.n_nationkey
          WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
              OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))) t
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: same dim table joined twice under different roles
    (supplier nation vs customer nation) + disjunctive cross-filter.

    Only the two nation role-views (≤25 rows each) are broadcast-hinted;
    supplier/orders/customer scale with SF so AQE picks their join
    strategy at runtime.

    The nation restriction is applied BELOW the fact joins: only the
    two named nations can satisfy the pair predicate, so supplier and
    customer are pre-filtered to them (≈2/25 of each) before touching
    the facts. The two nation KEYS are resolved at plan-build time (a
    2-row scan of the bounded dim — the repo's eager-build pattern) so
    the filters reach the supplier/customer parquet scans as pushed
    ``isin`` predicates with no extra join stages; the lineitem ⋈
    supplier join then keeps ~8% of lineitem ahead of the orders join.
    With the filter applied last (round-8 form), the orders SMJ
    externally sorted ALL of lineitem and was this query's 2.7 GB x100
    spill; pushed down, the x100 spill is zero and sf0.1 keeps the
    original stage count.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair_keys = [
        int(r["n_nationkey"])
        for r in nation.where(
            F.col("n_name").isin("NATION_1", "NATION_2")
        ).collect()
    ]
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    supp2 = supp.where(F.col("s_nationkey").isin(pair_keys)).select(
        "s_suppkey", "s_nationkey"
    )
    cust2 = cust.where(F.col("c_nationkey").isin(pair_keys)).select(
        "c_custkey", "c_nationkey"
    )
    return (
        li.select(
            "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
        )
        .join(supp2, li.l_suppkey == supp2.s_suppkey)
        .join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust2, F.col("o_custkey") == cust2.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year(F.col("l_shipdate").cast("date")).alias("yr"))
        .agg(gridsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: join + conditional counting (CASE inside SUM — one
    pass, no second aggregate)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) t
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: aggregate of an aggregate (distribution of per-key
    counts), left join with a join-side residual predicate."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT floor((100.0 * sum(CAST(floor((CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 1e4 + 0.5) AS BIGINT))
                 / sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT))) * 1e6) / 1e6
             AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional revenue ratio in a single aggregate —
    both numerator and denominator on the exact integer grid so the
    ratio is engine-identical."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    cents = lambda c: _cents(c, 4)  # noqa: E731 — shared grid encoding
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            _q(100.0 * F.sum(cents(promo_rev)) / F.sum(cents(rev)), 6).alias(
                "promo_share_pct"
            )
        )
    )


@query(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-count per composite group with IN-list and
    inequality pushdown on the dim side."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT floor((sum(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) / 1e2 / 7.0) * 1e4) / 1e4
             AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated aggregate subquery → per-key average join.
    The per-part average materializes once (one shuffle on partkey) and
    re-joins; quantities are integral so the avg threshold is exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#5")
    per_part_avg = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast("long")) / F.count("l_quantity")).alias("avg_qty")
    ).withColumnRenamed("l_partkey", "pp_key")
    cents = _cents("l_extendedprice", 2)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part_avg, li.l_partkey == F.col("pp_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(_q(F.sum(cents) / 100.0 / 7.0, 4).alias("avg_yearly"))
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) / 1e4
             AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: three-way disjunctive predicate spanning both join
    sides — Catalyst extracts the common join key and keeps the
    disjunction as a residual filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
        | (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
        | (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            gridsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
    SELECT c_nationkey, count(*) AS numcust,
           sum(CAST(floor((c_acctbal) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)) / 1e2
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    GROUP BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: global scalar aggregate threshold + anti-join, then
    grouped totals — three operators, two of them shuffle-free
    (broadcast scalar, broadcast anti side at sf)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = _cents("c_acctbal", 2)
    avg_pos = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg((F.avg(cents) / 100.0).alias("thr"))
    )
    pending = orders.where(F.col("o_orderstatus") == "P")
    return (
        cust.join(F.broadcast(avg_pos))
        .where(F.col("c_acctbal") > F.col("thr"))
        .join(pending, cust.c_custkey == pending.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            gridsum("c_acctbal", 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Map / array / null-semantics scalar batteries
# --------------------------------------------------------------------------


@query(
    "map_funcs_event_props",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END AS has_k
    FROM events
    """,
)
def map_funcs_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON → typed map column, then map functions (size/keys/lookup).
    ``from_json`` parses once; downstream access is map ops, not
    repeated path extraction."""
    from ..sources.readers import read_events

    ev = read_events(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.when(F.map_contains_key(m, "k"), 1).otherwise(0).alias("has_k"),
    )


@query(
    "array_funcs_doc_tokens",
    oracle="""
    SELECT doc_id,
           toks[1] AS first_tok,
           toks[len(toks)] AS last_tok,
           CAST(len(toks) AS INT) AS n_toks,
           array_to_string(list_sort(list_distinct(toks))[1:5], '|') AS first5_sorted,
           CAST(list_position(toks, 'spark') AS INT) AS spark_pos,
           CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS has_spark,
           array_to_string(list_reverse_sort(list_distinct(toks))[1:3], '|') AS top3_rev
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    """,
)
def array_funcs_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar battery: index access, slice, sort, distinct,
    position, containment — array outputs serialized to strings so the
    oracle compare stays type-stable."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), "|").alias(
            "first5_sorted"
        ),
        F.array_position(toks, "spark").cast("int").alias("spark_pos"),
        F.when(F.array_contains(toks, "spark"), 1).otherwise(0).alias("has_spark"),
        F.array_join(
            F.slice(F.reverse(F.array_sort(F.array_distinct(toks))), 1, 3), "|"
        ).alias("top3_rev"),
    )


@query(
    "null_semantics_showcase",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END
             AS was_p,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_or_pending,
           CASE WHEN o_orderstatus IS NOT DISTINCT FROM 'F' THEN 'final' ELSE 'other' END
             AS nullsafe_label,
           ifnull(NULL, o_orderpriority) AS priority_filled
    FROM orders
    """,
)
def null_semantics_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics battery: nullif / null-safe equality (<=>) /
    coalesce / ifnull — three-valued logic made explicit."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.nullif("o_orderstatus", F.lit("P")).eqNullSafe(F.lit(None).cast("string")), 1)
        .otherwise(0)
        .alias("was_p"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_or_pending"
        ),
        F.when(F.col("o_orderstatus").eqNullSafe("F"), "final")
        .otherwise("other")
        .alias("nullsafe_label"),
        F.ifnull(F.lit(None).cast("string"), F.col("o_orderpriority")).alias(
            "priority_filled"
        ),
    )


@query(
    "q08_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT) AS v,
             sn.n_name AS supp_nation
      FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation sn ON s_nationkey = sn.n_nationkey)
    SELECT yr,
           floor((sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) * 1.0
                  / sum(v)) * 1e6) / 1e6 AS mkt_share
    FROM vol GROUP BY yr
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of total volume per year —
    conditional-sum ratio on the exact grid, single aggregate pass.

    No selective filter exists to push (the share's denominator needs
    EVERY nation's volume), so both fact joins take SHUFFLE_HASH hints
    on their key-and-one-column build sides (orders → (orderkey,
    orderdate); supplier → (suppkey, nationkey)): a sort-merge join
    would externally sort the 60M-row lineitem stream twice — the
    query's 2.3 GB x100 spill — while hashing the build sides costs
    ~0.5M entries per task and streams lineitem unsorted (x100: zero
    spill). The q21 SHUFFLE_HASH rationale, applied to both joins.
    Supplier/orders stay un-broadcast (SF-proportional; policy)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    v = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    vol = (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(supp.hint("shuffle_hash"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            v.alias("v"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    share = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("v")).otherwise(0)) / F.sum("v")
    return vol.groupBy("yr").agg(_q(share, 6).alias("mkt_share"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) / 1e4
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: derived revenue view + global-max filter (the
    classic view-based query, as a reused subplan)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        gridsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        supp.join(rev, supp.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "q21_waiting_orders",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the hardest TPC-H join topology — a fact self-semi
    join AND a correlated self-anti join on the same key with a theta
    residual. DECORRELATED into per-order aggregates instead of the
    literal two self-joins: over the F-order lineitems, count late
    rows per (order, supplier), then suppliers and late-suppliers per
    order; an l1 row qualifies iff its supplier is late on the order
    (late_rows ≥ 1), the order has another supplier (EXISTS ⇔
    n_supp ≥ 2), and nobody else is late (NOT EXISTS ⇔
    n_late_supp = 1); it then contributes its supplier's late_rows to
    numwait — row multiplicity preserved exactly. One shuffle of the
    pruned fact instead of three (x100 stress, measured: 44 s /
    11.7 GB SMJ spill for the self-join form → 34.5 s / 8.6 GB here,
    and 2.0 → 1.3 s warm at sf0.1; the residual spill is the
    fact⋈orders sort-merge sort, which the late flag genuinely needs
    row-level).

    status-'F' orders are ~half the table (SF-proportional), and
    supplier scales with SF too — no broadcast hints; AQE upgrades the
    order-key joins to broadcast only when a side is genuinely small
    at runtime.

    The fact⋈orders join carries a SHUFFLE_HASH hint on the pruned
    orders side: a sort-merge join must EXTERNALLY SORT the full
    lineitem projection (the battery's largest surviving spill, 8.8 GB
    at x100), while a shuffled hash join builds its per-partition hash
    map from the 2-column F-orders side and STREAMS lineitem through
    it unsorted — x100 measured 24.7 s / 8.8 GB spill → 19.8 s /
    0.9 GB (the residue is the downstream aggregate, not the join).
    Per-partition build memory is orders-rows/shuffle-partitions
    (AQE splits skewed partitions), which is exactly the knob a 100 TB
    run sizes anyway; the downstream (l_orderkey, l_suppkey) aggregate
    still reuses the join's orderkey partitioning, so no exchange is
    added.
    """
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    supp = _t(spark, sf_dir, "supplier")
    lo = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .cast("long")
        .alias("late"),
    )
    per_sk = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").alias("late_rows")
    )
    per_ok = per_sk.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("late_rows") > 0).cast("long")).alias("n_late_supp"),
    )
    winners = per_sk.join(per_ok, "l_orderkey").where(
        (F.col("late_rows") > 0)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    return (
        winners.join(supp, winners.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
    )


# A partsupp analog derived from lineitem: the fixture has no partsupp
# table, so (part, supplier) supply cost is proxied by the minimum unit
# price ever charged for that pair, on the exact cent grid. Shared by
# the Q2/Q11 shapes below (reference TPC-H queries over partsupp).
_PS_ORACLE = """
    SELECT l_partkey AS pk, l_suppkey AS sk,
           min(CAST(floor(l_extendedprice / l_quantity * 1e2 + 0.5) AS BIGINT)) AS cost_c
    FROM lineitem GROUP BY 1, 2
"""


def _partsupp_proxy(li: DataFrame) -> DataFrame:
    unit_c = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * 100.0 + F.lit(0.5)
    ).cast("long")
    return li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(unit_c).alias("cost_c"))


@query(
    "q02_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_ORACLE}),
    eligible AS (
      SELECT pk, sk, cost_c, s_acctbal, s_name, n_name
      FROM ps JOIN supplier ON sk = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE')
    SELECT floor((s_acctbal) * 1e2) / 1e2 AS s_acctbal, s_name, n_name,
           p_partkey, p_name, cost_c / 1e2 AS supplycost
    FROM eligible JOIN part ON pk = p_partkey
    WHERE p_size <= 15 AND p_type = 'STANDARD'
      AND cost_c = (SELECT min(e2.cost_c) FROM eligible e2 WHERE e2.pk = eligible.pk)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-over-join — for each qualifying
    part, the supplier(s) in one region achieving the minimum supply
    cost. Decorrelated the Spark way: the correlated min becomes a
    window min over the part key on the region-eligible subplan.
    region/nation are the only broadcast hints; the partsupp proxy and
    supplier scale with SF, so their joins shuffle and AQE upgrades
    small sides at runtime.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    nat_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    # Push BOTH dimension filters below the proxy aggregate as
    # semi-joins: the per-(pk, sk) min is computed within each pair's
    # own rows, so dropping entire pairs (non-qualifying parts,
    # non-region suppliers) before the groupBy cannot change any
    # surviving pair's min — and Catalyst does not push joins through
    # aggregates itself. Measured at x100 (60M lineitem): the
    # unpruned proxy aggregate sort-spilled 13.5 GB; pruned input is
    # ~1% of the fact and the spill disappears. The attach joins below
    # keep their roles; per-part mins are unaffected by which parts
    # survive. The correlated min is a window over pk — one shuffle,
    # no second pass over the eligible subplan (a min-agg + re-join
    # form computes the whole proxy twice).
    region_sk = supp.join(
        F.broadcast(nat_in_region),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    li_pruned = li.join(
        part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi"
    ).join(region_sk, li.l_suppkey == F.col("s_suppkey"), "left_semi")
    eligible = (
        _partsupp_proxy(li_pruned)
        .join(part, F.col("pk") == part.p_partkey)
        .join(supp, F.col("sk") == supp.s_suppkey)
        .join(F.broadcast(nat_in_region), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("pk", "p_partkey", "p_name", "cost_c", "s_acctbal", "s_name", "n_name")
    )
    min_c = F.min("cost_c").over(Window.partitionBy("pk"))
    return (
        eligible.withColumn("__min_c", min_c)
        .where(F.col("cost_c") == F.col("__min_c"))
        .select(
            _q(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_c") / 100.0).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    oracle=f"""
    WITH ps AS ({_PS_ORACLE}),
    eligible AS (
      SELECT pk, cost_c
      FROM ps JOIN supplier ON sk = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1')
    SELECT pk AS p_partkey, sum(cost_c) / 1e2 AS stock_value
    FROM eligible
    GROUP BY pk
    HAVING sum(cost_c) > (SELECT sum(cost_c) * 0.001 FROM eligible)
    ORDER BY stock_value DESC, p_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group-HAVING against a scalar-subquery
    threshold — parts whose summed supply cost within one nation
    exceeds a fraction of the nation's total. The scalar total is
    summed from the (small) per-part aggregate, not from a second pass
    over the eligible subplan — Σ_parts Σ_pairs = Σ_pairs — so the
    expensive lineitem aggregation below it runs once and its shuffle
    is reused; the single-row threshold joins back as a broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    # nation prune pushed below the proxy aggregate as a semi-join
    # (the q02 fix): per-(pk, sk) mins are within-pair, so dropping
    # whole non-nation pairs ahead of the groupBy changes nothing the
    # supplier join would not drop anyway. Measured at x100: the
    # unpruned proxy sort-spilled 13.5 GB; the pruned input is 1/|N|
    # of the fact.
    nation_sk = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    li_pruned = li.join(
        nation_sk, li.l_suppkey == F.col("s_suppkey"), "left_semi"
    )
    eligible = (
        _partsupp_proxy(li_pruned)
        .join(supp, F.col("sk") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("pk", "cost_c")
    )
    pp = eligible.groupBy(F.col("pk").alias("p_partkey")).agg(
        F.sum("cost_c").alias("__sum_c"),
        (F.sum("cost_c") / 100.0).alias("stock_value"),
    )
    total = pp.agg((F.sum("__sum_c") * 0.001).alias("thr"))
    return (
        pp.join(F.broadcast(total))
        .where(F.col("__sum_c") > F.col("thr"))
        .select("p_partkey", "stock_value")
        .orderBy(F.desc("stock_value"), "p_partkey")
    )
