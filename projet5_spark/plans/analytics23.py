"""Batch 25 operator battery — SQL-semantics exhibits & layout round 3:
relational division ("bought ALL of them"), the NOT IN null trap,
percentile_disc vs percentile_cont divergence, and a delta-encoding
advisor.

Scale design notes:
- **Relational division** is the classic universal-quantifier query.
  The plan is the standard count-matching reduction: semi-join the
  fact against the (broadcast, k-row) divisor set, count DISTINCT
  matches per entity, keep entities whose count equals k — one keyed
  aggregate, no per-element loop, no k-way self-join.
- **NOT IN trap** plants one NULL in the subquery and reports, side
  by side, how NOT IN (three-valued logic: zero survivors) and NOT
  EXISTS (the anti-join actually meant) treat the same data — both
  arms fold to counts before the 1-row union.
- **disc-vs-cont** certifies the two quantile DEFINITIONS against
  each other per group; at even group sizes the median differs, and
  the boolean records where.
- **Delta advisor** completes the encoding-advisor trio (RLE runs,
  dictionary NDV, now delta width): bit width of consecutive deltas
  under the table's natural clustering, computed with one shared
  window pass per column — what a columnar writer consults before
  choosing DELTA_BINARY_PACKED.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Relational division: customers who ordered ALL the top-k parts
# --------------------------------------------------------------------------

_DIV_K = 3


@query(
    "relational_division_all_top_suppliers",
    oracle=f"""
    WITH topp AS (
      SELECT l_suppkey FROM lineitem
      GROUP BY l_suppkey
      ORDER BY count(*) DESC, l_suppkey LIMIT {_DIV_K}),
    buys AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN topp t ON l.l_suppkey = t.l_suppkey)
    SELECT CAST(custkey AS BIGINT) AS custkey,
           CAST(count(*) AS BIGINT) AS n_matched
    FROM buys GROUP BY custkey HAVING count(*) = {_DIV_K}
    ORDER BY custkey
    """,
)
def relational_division_all_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — the universal quantifier of SQL: customers
    who bought from EVERY one of the {k} busiest suppliers (divisor set
    derived from the data with a total tie-break, so it is stable).

    The plan is the count-matching reduction: join the fact against
    the broadcast {k}-row divisor, reduce to DISTINCT (customer,
    supplier) pairs, and keep customers whose match count equals {k} —
    one keyed aggregate instead of a {k}-way self-join, which is how
    division scales to large divisor sets too.""".format(k=_DIV_K)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    topp = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "l_suppkey")
        .limit(_DIV_K)
        .select("l_suppkey")
    )
    buys = (
        li.join(F.broadcast(topp), "l_suppkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("custkey"), "l_suppkey")
        .distinct()
    )
    return (
        buys.groupBy("custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .where(F.col("n_matched") == _DIV_K)
        .select(F.col("custkey").cast("long").alias("custkey"), "n_matched")
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# NOT IN vs NOT EXISTS under NULL (three-valued-logic trap)
# --------------------------------------------------------------------------


@query(
    "not_in_vs_not_exists_null_trap",
    oracle="""
    WITH sub AS (
      SELECT CASE WHEN c_custkey % 100 = 42 THEN NULL
                  ELSE c_custkey END AS k
      FROM customer),
    not_in AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM orders
      WHERE o_custkey NOT IN (SELECT k FROM sub)),
    not_exists AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = o.o_custkey))
    SELECT 'NOT IN' AS predicate, n AS n_rows,
           'null in list => comparison is UNKNOWN, row never qualifies'
             AS semantics
    FROM not_in
    UNION ALL
    SELECT 'NOT EXISTS', n,
           'null subquery rows never equal anything, anti-join as intended'
    FROM not_exists
    ORDER BY predicate
    """,
)
def not_in_vs_not_exists_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three-valued-logic trap, side by side: the customer-key
    subquery plants one NULL (every key ≡ 42 mod 100 nulls out), then
    counts orders surviving ``NOT IN`` vs ``NOT EXISTS``. NOT IN
    returns ZERO rows — ``x <> NULL`` is UNKNOWN, so no row ever
    qualifies — while NOT EXISTS performs the anti-join people mean.

    Both engines implement the standard identically, which is the
    point: this query certifies the repo's anti-join family
    (``join_anti_*``, ``fk_orphan_rate_audit``) is built on NOT
    EXISTS / LEFT ANTI semantics, never NOT IN against a nullable
    key. Both arms fold to one count before the 2-row union."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    sub = cust.select(
        F.when(F.col("c_custkey") % 100 == 42, F.lit(None))
        .otherwise(F.col("c_custkey"))
        .alias("k")
    )
    orders.createOrReplaceTempView("nt_orders_v")
    sub.createOrReplaceTempView("nt_sub_v")
    not_in = spark.sql(
        "SELECT CAST(count(*) AS LONG) AS n FROM nt_orders_v "
        "WHERE o_custkey NOT IN (SELECT k FROM nt_sub_v)"
    )
    not_exists = spark.sql(
        "SELECT CAST(count(*) AS LONG) AS n FROM nt_orders_v o "
        "WHERE NOT EXISTS (SELECT 1 FROM nt_sub_v s WHERE s.k = o.o_custkey)"
    )
    a = not_in.select(
        F.lit("NOT IN").alias("predicate"),
        F.col("n").alias("n_rows"),
        F.lit(
            "null in list => comparison is UNKNOWN, row never qualifies"
        ).alias("semantics"),
    )
    b = not_exists.select(
        F.lit("NOT EXISTS").alias("predicate"),
        F.col("n").alias("n_rows"),
        F.lit(
            "null subquery rows never equal anything, anti-join as intended"
        ).alias("semantics"),
    )
    return a.unionByName(b).orderBy("predicate")


# --------------------------------------------------------------------------
# percentile_disc vs percentile_cont divergence
# --------------------------------------------------------------------------


@query(
    "percentile_disc_vs_cont_by_priority",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders)
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50_disc_cents,
           CAST(floor(quantile_cont(cents, 0.5) * 1e2) AS BIGINT)
             AS p50_cont_centi,
           CAST(quantile_disc(cents, 0.5) AS BIGINT) * 100
             = CAST(floor(quantile_cont(cents, 0.5) * 1e2) AS BIGINT)
             AS definitions_agree
    FROM c GROUP BY priority ORDER BY priority
    """,
)
def percentile_disc_vs_cont_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_disc`` (an actually-occurring value) vs
    ``percentile_cont`` (linear interpolation) medians per order
    priority, with a per-group boolean recording where the two
    DEFINITIONS diverge — they must on even group sizes unless the two
    middle values coincide.

    The practical point: a sketch-backed approximate percentile
    approximates *cont*; contracts written against *disc* ("a real
    transaction amount") need the discrete form, and conflating them
    is a silent off-by-half-gap bug. Exact integer cents; one grouped
    aggregate per arm."""
    c = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # grouped_exact_quantiles serves BOTH definitions from one pass
    # (disc = rank-select, cont = bracket-interpolate), bit-identical
    # to percentile_disc / F.percentile without their per-group
    # all-values aggregate buffers
    from ..operators.quantiles import grouped_exact_quantiles

    qt = grouped_exact_quantiles(
        c,
        ["priority"],
        "cents",
        {"cont": 0.5},
        count_col="n",
        disc_qs={"disc": 0.5},
    )
    return (
        qt.select(
            "priority",
            "n",
            F.col("disc").cast("long").alias("p50_disc_cents"),
            F.floor(F.col("cont") * 1e2).cast("long").alias("p50_cont_centi"),
        )
        .select(
            "priority",
            "n",
            "p50_disc_cents",
            "p50_cont_centi",
            (F.col("p50_disc_cents") * 100 == F.col("p50_cont_centi")).alias(
                "definitions_agree"
            ),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Delta-encoding advisor (storage layout round 3)
# --------------------------------------------------------------------------

_DELTA_COLS = ("l_orderkey", "l_partkey", "l_suppkey")


def _delta_oracle() -> str:
    flags = ", ".join(
        f"{c} - lag({c}) OVER w AS d{i}" for i, c in enumerate(_DELTA_COLS)
    )
    aggs = ", ".join(
        f"count(d{i}) AS n{i}, "
        f"max(abs(d{i})) AS mx{i}, "
        f"sum(CASE WHEN abs(d{i}) < 128 THEN 1 ELSE 0 END) AS small{i}"
        for i in range(len(_DELTA_COLS))
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col, CAST(n{i} AS BIGINT) AS n_deltas, "
        f"CAST(mx{i} AS BIGINT) AS max_abs_delta, "
        f"CAST(floor(CAST(small{i} AS DOUBLE) * 1e6 / n{i}) AS BIGINT) "
        f"AS small_delta_micro, "
        f"CASE WHEN CAST(small{i} AS DOUBLE) / n{i} >= 0.9 THEN 'DELTA'"
        f" ELSE 'PLAIN' END AS advice FROM a"
        for i, c in enumerate(_DELTA_COLS)
    )
    order_cols = ", ".join(("l_orderkey", "l_linenumber") + _DELTA_COLS[1:])
    return f"""
    WITH f AS (
      SELECT {flags}
      FROM lineitem
      WINDOW w AS (ORDER BY {order_cols})),
    a AS (SELECT {aggs} FROM f)
    SELECT * FROM ({arms}) ORDER BY col
    """


@query("delta_encoding_advisor_lineitem", oracle=_delta_oracle())
def delta_encoding_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding advisor, completing the layout trio (RLE run
    profile, dictionary NDV, now delta width): consecutive-row deltas
    of the integer key columns under the table's write order, their
    max magnitude, and the share small enough to bit-pack in a byte —
    what a columnar writer consults before choosing
    DELTA_BINARY_PACKED over PLAIN.

    The oracle states the naive single global window — which Spark
    executes as a SINGLE partition (every row funnels through one
    task; the x100 stress run measured it at 181 s and the app's only
    large spill). The plan here computes the identical delta multiset
    distributed: bucket the total order into contiguous l_orderkey
    ranges sized so ~``spark.sql.shuffle.partitions`` buckets cover
    the key domain, lag WITHIN each bucket in parallel (one hash
    shuffle on the bucket id, never a global sort), and reconstruct
    the one missing delta per bucket boundary from each bucket's
    first/last row (``min_by``/``max_by`` — a buckets-scale relation).
    count/max/small-share aggregate over the union, so the result is
    bit-identical to the global window's. The window order appends the
    profiled columns as tie-breakers (both engines): the fixture
    plants duplicate (l_orderkey, l_linenumber) pairs whose suppkey
    differs, so the bare ordering is non-total and tie order would be
    physical row order — the single-partition plan this replaces only
    matched DuckDB by luck of file order. Under the total order, rows
    that still tie are identical in every profiled column, so ties
    cannot move a delta. Bucket width derives from max(l_orderkey) — one
    metadata-cheap aggregate at plan-build time (the repo's documented
    eager-build pattern, SCALING.md)."""
    from ..operators.partitioning import sized_sort_parallelism

    li = _t(spark, sf_dir, "lineitem")
    # bucket count sized to the DATA, not the config: each bucket is
    # one window partition and each task sorts its whole slice, so at
    # 32 buckets the x100 battery sorted ~1.9M rows per task and
    # spilled; size-derived buckets keep every task's sort in memory.
    # The explicit repartition on __b spreads buckets 1:1 over tasks
    # and satisfies the window's ClusteredDistribution (no second
    # exchange).
    n_wide = sized_sort_parallelism(li)
    mx = li.agg(F.max("l_orderkey")).first()[0]
    bin_w = max(1, (int(mx) + 1) // max(1, n_wide))
    order_cols = ("l_orderkey", "l_linenumber") + _DELTA_COLS[1:]
    order_key = F.struct(*order_cols)
    vals = F.struct(*_DELTA_COLS)
    d = li.withColumn("__b", F.expr(f"l_orderkey div {bin_w}"))
    d = d.repartition(n_wide, "__b")
    wb = Window.partitionBy("__b").orderBy(*order_cols)
    inner = d.select(
        *[
            (F.col(c) - F.lag(c).over(wb)).alias(f"d{i}")
            for i, c in enumerate(_DELTA_COLS)
        ]
    )
    edges = d.groupBy("__b").agg(
        F.min_by(vals, order_key).alias("fst"),
        F.max_by(vals, order_key).alias("lst"),
    )
    we = Window.orderBy("__b")  # buckets-scale rows only: tiny by design
    boundary = edges.select(
        *[
            (F.col(f"fst.{c}") - F.lag(f"lst.{c}").over(we)).alias(f"d{i}")
            for i, c in enumerate(_DELTA_COLS)
        ]
    )
    f = inner.unionByName(boundary)
    aggs = []
    for i in range(len(_DELTA_COLS)):
        aggs.append(F.count(f"d{i}").alias(f"n{i}"))
        aggs.append(F.max(F.abs(F.col(f"d{i}"))).alias(f"mx{i}"))
        aggs.append(
            F.sum(F.when(F.abs(F.col(f"d{i}")) < 128, 1).otherwise(0)).alias(
                f"small{i}"
            )
        )
    a = f.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n{i}, mx{i}, small{i}" for i, c in enumerate(_DELTA_COLS)
    )
    return (
        a.selectExpr(
            f"stack({len(_DELTA_COLS)}, {stack_args}) "
            "AS (col, n_deltas, max_abs_delta, small)"
        )
        .select(
            "col",
            F.col("n_deltas").cast("long").alias("n_deltas"),
            F.col("max_abs_delta").cast("long").alias("max_abs_delta"),
            F.floor(F.col("small").cast("double") * 1e6 / F.col("n_deltas"))
            .cast("long")
            .alias("small_delta_micro"),
            F.when(
                F.col("small").cast("double") / F.col("n_deltas") >= 0.9,
                "DELTA",
            )
            .otherwise("PLAIN")
            .alias("advice"),
        )
        .orderBy("col")
    )
