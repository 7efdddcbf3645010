"""Statistical & shape operators (SURVEY.md §2.5 extensions): exact
percentiles, variance/correlation on the exact grid, arg-max, mode,
histograms, sorted array aggregation, unpivot, pagination.

Variance/correlation note: the built-in ``stddev``/``corr`` accumulate
doubles in partition order — not reproducible across engines. Here the
moments (Σx, Σx², Σxy) are summed exactly as grid integers
(registry.gridsum rationale) and the closed-form formulas run on those
exact sums, so both engines see bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import gridsum, query, quantize as _q


_CENTS = "CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)"


@query(
    "stats_percentiles_acctbal",
    oracle="""
    SELECT c_mktsegment,
           floor((quantile_cont(c_acctbal, 0.25)) * 1e4) / 1e4 AS p25,
           floor((quantile_cont(c_acctbal, 0.5))  * 1e4) / 1e4 AS median,
           floor((quantile_cont(c_acctbal, 0.75)) * 1e4) / 1e4 AS p75
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def stats_percentiles_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — matches SQL ``quantile_cont``
    bit-for-bit, via ``grouped_exact_quantiles`` (rank-bracket window
    selection; no per-group all-values aggregate buffer). At 100 TB
    you'd trade this for the t-digest sketch; exact is the oracle."""
    from ..operators.quantiles import grouped_exact_quantiles

    cust = _t(spark, sf_dir, "customer")
    qt = grouped_exact_quantiles(
        cust,
        ["c_mktsegment"],
        "c_acctbal",
        {"q25": 0.25, "q50": 0.5, "q75": 0.75},
    )
    return qt.select(
        "c_mktsegment",
        _q(F.col("q25"), 4).alias("p25"),
        _q(F.col("q50"), 4).alias("median"),
        _q(F.col("q75"), 4).alias("p75"),
    )


@query(
    "stats_variance_acctbal",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n,
           CASE WHEN count(*) > 1 THEN
             floor(((CAST(sum({_CENTS} * {_CENTS}) AS DOUBLE)
                     - CAST(sum({_CENTS}) AS DOUBLE) * CAST(sum({_CENTS}) AS DOUBLE) / count(*))
                    / (count(*) - 1) / 1e4) * 1e4) / 1e4
           END AS var_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def stats_variance_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact integer moments: Σc and Σc² summed as
    BIGINT (order-independent), closed form evaluated in double.
    Single-row groups yield NULL on both engines (sample variance is
    undefined at n=1; unguarded, ANSI mode would raise DIVIDE_BY_ZERO
    instead of producing a comparable value)."""
    cust = _t(spark, sf_dir, "customer")
    c = F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("long")
    # Σc² accumulates in DECIMAL, not BIGINT: cents² ≈ 1e12 per row
    # crosses 2⁶³ near 10M rows per group under ANSI checking; the
    # decimal sum casts to the same correctly-rounded double
    cd = c.cast("decimal(19,0)")
    n = F.count(F.lit(1))
    s1 = F.sum(c).cast("double")
    s2 = F.sum(cd * cd).cast("double")
    var = F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1) / 1e4)
    return cust.groupBy("c_mktsegment").agg(
        n.alias("n"), _q(var, 4).alias("var_bal")
    )


@query(
    "stats_corr_price_qty",
    oracle="""
    SELECT CASE WHEN (count(*) * CAST(sum(cx * cx) AS DOUBLE) - CAST(sum(cx) AS DOUBLE) * CAST(sum(cx) AS DOUBLE))
                   * (count(*) * CAST(sum(cy * cy) AS DOUBLE) - CAST(sum(cy) AS DOUBLE) * CAST(sum(cy) AS DOUBLE)) > 0
           THEN floor((
      (count(*) * CAST(sum(cx * cy) AS DOUBLE) - CAST(sum(cx) AS DOUBLE) * CAST(sum(cy) AS DOUBLE))
      / sqrt((count(*) * CAST(sum(cx * cx) AS DOUBLE) - CAST(sum(cx) AS DOUBLE) * CAST(sum(cx) AS DOUBLE))
           * (count(*) * CAST(sum(cy * cy) AS DOUBLE) - CAST(sum(cy) AS DOUBLE) * CAST(sum(cy) AS DOUBLE)))
      ) * 1e6) / 1e6 END AS corr_price_qty
    FROM (SELECT CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS cx,
                 CAST(floor(l_quantity + 0.5) AS BIGINT) AS cy
          FROM lineitem) t
    """,
)
def stats_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact integer moments (same rationale as
    variance; built-in ``corr`` is summation-order-dependent).

    Moments use whole dollars/units, not cents: correlation is
    scale-invariant and Σx² on the cents grid would overflow BIGINT
    under ANSI checking at sf≥0.1 (5e7² × 6e5 rows ≈ 1.5e21)."""
    li = _t(spark, sf_dir, "lineitem")
    cx = F.floor(F.col("l_extendedprice") + F.lit(0.5)).cast("long")
    cy = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    t = li.select(cx.alias("cx"), cy.alias("cy"))
    # product moments in DECIMAL: dollars² ≈ 1e10 per row crosses 2⁶³
    # near 1e9 rows under ANSI checking (the dollar grid alone only
    # buys ~100× over cents); decimal → the same correctly-rounded
    # double, and DuckDB's integer sums promote to HUGEINT similarly
    xd = F.col("cx").cast("decimal(19,0)")
    yd = F.col("cy").cast("decimal(19,0)")
    n = F.count(F.lit(1))
    sx, sy = F.sum("cx").cast("double"), F.sum("cy").cast("double")
    sxx = F.sum(xd * xd).cast("double")
    syy = F.sum(yd * yd).cast("double")
    sxy = F.sum(xd * yd).cast("double")
    # degenerate-variance guard: zero spread on either axis leaves
    # correlation undefined — NULL on both engines, never a 0-division
    denom_sq = (n * sxx - sx * sx) * (n * syy - sy * sy)
    corr = F.when(denom_sq > 0, (n * sxy - sx * sy) / F.sqrt(denom_sq))
    return t.agg(_q(corr, 6).alias("corr_price_qty"))


@query(
    "argmax_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_order,
           floor((o_totalprice) * 1e2) / 1e2 AS best_price
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders) t
    WHERE rn = 1
    """,
)
def argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max with a deterministic composite ordering key: ``max_by``
    over (price, orderkey) — one aggregate, no window, no self-join."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "best_order"
        ),
        _q(F.max("o_totalprice"), 2).alias("best_price"),
    )


@query(
    "mode_priority_per_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
    FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY count(*) DESC, o_orderpriority) AS rn
          FROM orders GROUP BY o_orderstatus, o_orderpriority) t
    WHERE rn = 1
    """,
)
def mode_priority_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with an explicit tie-break (smallest value wins) — the
    built-in ``mode()`` leaves ties engine-defined."""
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


@query(
    "histogram_order_totals",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           floor((min(o_totalprice)) * 1e2) / 1e2 AS lo,
           floor((max(o_totalprice)) * 1e2) / 1e2 AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: binning is a pure projection → the
    aggregate shuffles only (bucket, partial counts)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _q(F.min("o_totalprice"), 2).alias("lo"),
        _q(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "collect_sorted_custkeys",
    oracle="""
    SELECT n_nationkey,
           string_agg(c_custkey, ',' ORDER BY c_custkey) AS custkeys
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def collect_sorted_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with deterministic order: collect → sort →
    join to one string (unordered collect_list output is never exposed
    raw)."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("c_custkey"))), ","
            ).alias("custkeys")
        )
    )


@query(
    "unpivot_nation_metrics",
    oracle="""
    WITH m AS (
      SELECT c_nationkey,
             CAST(count(*) AS DOUBLE) AS n_customers,
             floor((sum(CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)) / 1e2) * 1e2) / 1e2 AS sum_bal,
             floor((max(c_acctbal)) * 1e2) / 1e2 AS max_bal
      FROM customer GROUP BY c_nationkey)
    SELECT c_nationkey, metric, value
    FROM m UNPIVOT (value FOR metric IN (n_customers, sum_bal, max_bal))
    """,
)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): the inverse of pivot, one output row
    per (key, metric)."""
    cust = _t(spark, sf_dir, "customer")
    m = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        _q(gridsum("c_acctbal", 2), 2).alias("sum_bal"),
        _q(F.max("c_acctbal"), 2).alias("max_bal"),
    )
    return m.unpivot(
        ["c_nationkey"],
        ["n_customers", "sum_bal", "max_bal"],
        "metric",
        "value",
    )


@query(
    "pagination_orders_page3",
    oracle="""
    SELECT o_orderkey, floor((o_totalprice) * 1e2) / 1e2 AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15 OFFSET 30
    """,
)
def pagination_orders_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination: total order + offset + limit."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(30)
        .limit(15)
        .select("o_orderkey", _q(F.col("o_totalprice"), 2).alias("o_totalprice"))
    )


@query(
    "window_percent_rank_suppliers",
    oracle="""
    SELECT s_suppkey,
           floor((percent_rank() OVER w) * 1e6) / 1e6 AS pr,
           floor((cume_dist() OVER w) * 1e6) / 1e6 AS cd,
           nth_value(s_suppkey, 2) OVER (PARTITION BY s_nationkey
                                         ORDER BY s_acctbal DESC, s_suppkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_best
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def window_percent_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return supp.select(
        "s_suppkey",
        _q(F.percent_rank().over(w), 6).alias("pr"),
        _q(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("s_suppkey", 2).over(w_full).alias("second_best"),
    )


@query(
    "bool_agg_customer_flags",
    oracle="""
    SELECT c_custkey,
           coalesce(bool_or(o_totalprice > 300000), false) AS has_big_order,
           coalesce(bool_and(o_orderstatus = 'F'), false) AS all_finished
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def bool_agg_customer_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (ANY/ALL over a group)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.bool_or(F.col("o_totalprice") > 300000), F.lit(False)).alias(
                "has_big_order"
            ),
            F.coalesce(F.bool_and(F.col("o_orderstatus") == "F"), F.lit(False)).alias(
                "all_finished"
            ),
        )
    )


@query(
    "selfjoin_multi_supplier_parts",
    oracle="""
    SELECT a.l_orderkey AS orderkey, a.l_partkey AS partkey, count(*) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey = b.l_partkey
         AND a.l_suppkey < b.l_suppkey
    GROUP BY a.l_orderkey, a.l_partkey
    """,
)
def selfjoin_multi_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on a compound key: same (order, part) supplied by two
    different suppliers — shuffle once on the compound key, pair within
    groups."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_orderkey").alias("orderkey"),
            F.col("a.l_partkey").alias("partkey"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "window_rolling_median_order_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           floor((quantile_cont(o_totalprice, 0.5) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) * 1e4) / 1e4
             AS rolling_median
    FROM orders
    """,
)
def window_rolling_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (interpolated, last-5-orders frame) per
    customer — the robust-center analytic a spend-anomaly monitor runs;
    quantiles over moving frames are where sketches usually sneak in,
    so the exact form is the oracle-checkable baseline.

    ``percentile`` evaluates as a window aggregate over the row frame —
    one customer-keyed shuffle, per-frame cost bounded by the 5-row
    frame. Both engines interpolate from identical input doubles, so
    the midpoint arithmetic is bit-identical (same rationale as
    stats_percentiles_acctbal)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _q(F.percentile("o_totalprice", F.lit(0.5)).over(w), 4).alias(
            "rolling_median"
        ),
    )


@query(
    "regex_funcs_part",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_name, '^(\w+)', 1) AS first_word,
           regexp_extract(p_brand, '(\d+)$', 1) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           CAST(regexp_matches(p_name, 'widget$') AS BOOLEAN) AS is_widget,
           CAST(len(p_name) - len(regexp_replace(p_name, '[aeiou]', '', 'g'))
                AS BIGINT) AS n_vowels
    FROM part
    """,
)
def regex_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression scalar battery: extract (group index), global
    replace, anchored match, and match counting via replace-and-diff —
    all JVM expressions evaluated inside codegen.

    Patterns stay inside the dialect intersection of Java regex (Spark)
    and RE2 (DuckDB): character classes, anchors, \\w, \\d, greedy
    quantifiers — no lookaround or backreferences, which RE2 rejects.
    Note DuckDB's regexp_replace needs the explicit 'g' flag to match
    Spark's replace-all default."""
    part = _t(spark, sf_dir, "part")
    devowel = F.regexp_replace("p_name", "[aeiou]", "*")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_brand", r"(\d+)$", 1).alias("brand_num"),
        devowel.alias("devoweled"),
        F.col("p_name").rlike("widget$").alias("is_widget"),
        (
            F.length("p_name")
            - F.length(F.regexp_replace("p_name", "[aeiou]", ""))
        )
        .cast("long")
        .alias("n_vowels"),
    )


@query(
    "agg_filtered_order_stats",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
                FILTER (WHERE year(o_orderdate) >= 1997) AS BIGINT)
             AS cents_recent,
           count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O')
             AS n_open_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filtered_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause): per-priority
    totals where each aggregate applies its own predicate — expressed
    as aggregates over ``when(cond, x)`` (NULLs are skipped by
    count/sum, exactly FILTER's semantics). One hash aggregate, all
    predicates map-side; the count-distinct branch expands like any
    distinct aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.sum(F.when(F.year("o_orderdate") >= 1997, cents))
        .cast("long")
        .alias("cents_recent"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        ).alias("n_open_customers"),
    )


@query(
    "key_skew_profile_orders",
    oracle="""
    WITH counts AS (
      SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY o_custkey),
    tot AS (SELECT count(*) AS total FROM orders),
    ranked AS (
      SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rk FROM counts)
    SELECT CAST(rk AS BIGINT) AS rk, key, CAST(n AS BIGINT) AS n,
           floor((n * 1.0 / total) * 1e6) / 1e6 AS share
    FROM ranked, tot WHERE rk <= 10
    """,
)
def key_skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: the top-10 heaviest keys with their
    share of the table — the profile you run BEFORE a big shuffle to
    decide between a plain join, salting, or AQE skew handling.

    Per-key counts are one hash aggregate; the top-10 is takeOrdered
    (per-partition heaps + a 10-row driver merge), never a global
    sort; the rank is minted on the 10 surviving rows. The total-count
    scalar joins by broadcast."""
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("key")).limit(10)
    tot = orders.agg(F.count(F.lit(1)).alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        top.join(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .select(
            "rk",
            "key",
            F.col("n").cast("long").alias("n"),
            _q(F.col("n") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        )
    )
