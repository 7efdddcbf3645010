"""Batch 8 operator battery — retail/product analytics: market-basket
association rules, RFM segmentation, a two-sample A/B z-test verdict,
and a churn/inactivity profile.

Scale design notes:
- **Association rules** bound the combinatorics the classic way: the
  basket table reduces to DISTINCT (basket, item) first, the pair join
  is a within-basket self-join (C(basket_size, 2), never catalog²), and
  supports/confidences/lifts derive from vocab-scale count tables. At
  catalog scale the item side would first be pruned to frequent items
  (the Apriori property) — the min-support filter here is that step.
- **RFM** runs three ntile(5) windows over the per-customer aggregate
  (one row per customer — never facts), with total tie-break orders so
  both engines tile identically; the output is the ≤125-cell segment
  grid a CRM consumes.
- **A/B z-test** is the moments pattern (statistics.py): per-arm n, Σy,
  Σy² as exact BIGINT sums on the cents grid, then Welch's z from a
  fixed IEEE expression — sqrt is correctly-rounded by IEEE-754 in both
  engines, so even the 10⁻⁶-grid z statistic is hash-stable. The
  verdict booleans follow the self-certifying pattern.
- **Churn profile** anchors on the stream's max event time and buckets
  users by whole days inactive — microsecond integers end-to-end
  (unix_micros ↔ epoch_us), one user-keyed aggregate plus a broadcast
  of the 1-row anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rank import with_global_ntile
from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


# --------------------------------------------------------------------------
# Market-basket association rules
# --------------------------------------------------------------------------

#: Apriori-style min pair support (absolute count — the fixture sf range
#: keeps common brand pairs well above it at every scale)
_RULE_MIN_PAIRS = 10


@query(
    "basket_association_rules",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT count(DISTINCT basket) AS n_baskets FROM baskets),
    items AS (SELECT item, count(*) AS n_item FROM baskets GROUP BY item),
    pairs AS (
      SELECT b1.item AS a, b2.item AS b, count(*) AS n_ab
      FROM baskets b1 JOIN baskets b2
        ON b1.basket = b2.basket AND b1.item < b2.item
      GROUP BY a, b),
    scored AS (
      SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
             CAST(floor(1e6 * CAST(n_ab AS DOUBLE) / n_baskets) AS BIGINT)
               AS supp_micro,
             CAST(floor(1e6 * CAST(n_ab AS DOUBLE) / ia.n_item) AS BIGINT)
               AS conf_ab_micro,
             CAST(floor(1e6 * CAST(n_ab AS DOUBLE) / ib.n_item) AS BIGINT)
               AS conf_ba_micro,
             CAST(floor(1e6 * CAST(n_ab * n_baskets AS DOUBLE)
                            / CAST(ia.n_item * ib.n_item AS DOUBLE)) AS BIGINT)
               AS lift_micro
      FROM pairs
      JOIN items ia ON ia.item = a
      JOIN items ib ON ib.item = b
      CROSS JOIN n
      WHERE n_ab >= {_RULE_MIN_PAIRS})
    SELECT *, CAST(row_number() OVER (ORDER BY lift_micro DESC, a, b) AS BIGINT)
                AS rk
    FROM scored QUALIFY rk <= 20 ORDER BY rk
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 brand association rules over order baskets by lift:
    supp(a,b), conf(a→b), conf(b→a), lift = P(ab)/(P(a)·P(b)) — the
    market-basket operator behind "bought together" features.

    The basket table is DISTINCT (order, brand) so within-basket
    repeats don't inflate counts; the pair self-join is keyed on the
    basket (C(size,2) pairs per order, ~4 items here) and the scoring
    joins touch only the item/pair count tables. The min-support filter
    is the Apriori prune that keeps the pair space tractable at catalog
    scale. Every metric is an integer-count ratio floored to 10⁻⁶ —
    engine-identical."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one sorted item-set row per basket replaces the fact-scale
    # basket self-join: collect_set partially aggregates map-side (the
    # distinct+join shuffled the fact TWICE more for the join sides —
    # 22.7 GB of sort-merge spill at x100; this shape spills nothing),
    # and the C(size, 2) pair expansion is a per-row array transform
    # over the ~4-brand baskets — the same pairs, generated in place.
    sets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
        # three consumers (basket count, item counts, pair expansion)
        .localCheckpoint()
    )
    n = sets.agg(F.count(F.lit(1)).alias("n_baskets"))
    items = (
        sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pairs = (
        sets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(items, (x, i) -> "
                        "transform(slice(items, i + 2, size(items)), "
                        "y -> struct(x AS a, y AS b)))"
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _RULE_MIN_PAIRS)
    )
    ia = items.select(F.col("item").alias("a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("item").alias("b"), F.col("n_item").alias("n_b"))
    micro = lambda c: F.floor(F.lit(1e6) * c).cast("long")  # noqa: E731
    scored = (
        pairs.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .join(F.broadcast(n))
        .select(
            "a",
            "b",
            F.col("n_ab").cast("long").alias("n_ab"),
            micro(F.col("n_ab").cast("double") / F.col("n_baskets")).alias(
                "supp_micro"
            ),
            micro(F.col("n_ab").cast("double") / F.col("n_a")).alias(
                "conf_ab_micro"
            ),
            micro(F.col("n_ab").cast("double") / F.col("n_b")).alias(
                "conf_ba_micro"
            ),
            micro(
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift_micro"),
        )
    )
    w = Window.orderBy(F.desc("lift_micro"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------

#: Fact-count crossover between the native single-partition ntile
#: windows and the two-phase distributed rank (operators/rank.py) —
#: native still won at the largest measured point (x100 stress, 15M
#: facts: 11.4 s vs 27 s), so the switch sits where a single-task sort
#: of the entity relation starts spilling instead.
_NTILE_DISTRIBUTED_MIN = 50_000_000


@query(
    "rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT a FROM anchor))
               AS recency_days,
             count(*) AS freq,
             sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY freq ASC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY cents ASC, o_custkey) AS m_score,
             cents
      FROM cust)
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer scored 1-5 on recency (days since
    last order, anchored to the dataset's max order date), frequency,
    and monetary value, then rolled up to the ≤125-cell segment grid —
    the classic CRM partitioning.

    All three ntile windows run over the per-customer AGGREGATE (one
    row per customer), each with a total tie-break order so both
    engines tile identically; a higher score is better on every axis
    (most recent / most frequent / highest spend → 5). Facts are
    touched once.

    Plan choice is size-adaptive, both arms measured (x100 stress,
    15M orders / 1.5M customers): below ``_NTILE_DISTRIBUTED_MIN``
    facts the native single-partition ntile windows win outright —
    sorting ≤ a few 10⁷ entity rows in one task is cheap next to the
    two-phase scheme's extra jobs (11.4 s native vs 27 s distributed
    at x100, 1.2 vs 3.9 s at sf0.1). Above it — the 10⁸-plus regime
    where a single-task sort spills and eventually cannot hold the
    run — the plan switches to ``operators.rank.with_global_ntile``
    (two-phase bucketed rank, equivalence pinned against native ntile
    in tests/test_rank.py). The switch reads one metadata-cheap
    parquet count."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("cents"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("a"))
    cust = cust.join(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff(F.col("a"), F.col("last_order"))
    )
    if orders.count() <= _NTILE_DISTRIBUTED_MIN:
        scored = cust.select(
            F.ntile(5)
            .over(Window.orderBy(F.desc("recency_days"), F.asc("o_custkey")))
            .cast("long")
            .alias("r_score"),
            F.ntile(5)
            .over(Window.orderBy(F.asc("freq"), F.asc("o_custkey")))
            .cast("long")
            .alias("f_score"),
            F.ntile(5)
            .over(Window.orderBy(F.asc("cents"), F.asc("o_custkey")))
            .cast("long")
            .alias("m_score"),
            "cents",
        )
        return scored.groupBy("r_score", "f_score", "m_score").agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("segment_cents"),
        )
    # entity-scale relation feeding each rank's build/count/window arms:
    # materialize once (SCALING.md shared-subtree policy). The three
    # scores are ranked independently off the checkpoint and joined
    # back on the customer key — chaining them instead would re-rank
    # the previous score's plan inside each arm of the next.
    base = cust.select(
        "o_custkey", "recency_days", "freq", "cents"
    ).localCheckpoint(eager=True)
    scored = base.select("o_custkey", "cents")
    for key, out in (
        (-F.col("recency_days"), "r_score"),  # desc recency = asc negation
        (F.col("freq"), "f_score"),
        (F.col("cents"), "m_score"),
    ):
        part = with_global_ntile(
            base, 5, key, [F.asc("o_custkey")], out
        ).select("o_custkey", out)
        scored = scored.join(part, "o_custkey")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("segment_cents"),
    )


# --------------------------------------------------------------------------
# Two-sample A/B z-test verdict
# --------------------------------------------------------------------------

_AB_TREATMENT = "click"
_AB_CONTROL = "view"

#: two-sided 5% critical value, as a literal both engines parse identically
_AB_Z_CRIT = "1.96"


def _ab_moments_sql(arm: str) -> str:
    return f"""
      SELECT count(*) AS n,
             sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS sy,
             sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)
                 * CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS syy
      FROM events WHERE event_type = '{arm}'"""


@query(
    "ab_test_zscore_verdict",
    oracle=f"""
    WITH t AS ({_ab_moments_sql(_AB_TREATMENT)}),
    c AS ({_ab_moments_sql(_AB_CONTROL)}),
    z AS (
      SELECT t.n AS n_t, c.n AS n_c,
             (CAST(t.sy AS DOUBLE) / t.n - CAST(c.sy AS DOUBLE) / c.n)
               AS mean_diff_cents,
             ((CAST(t.syy AS DOUBLE)
               - CAST(t.sy AS DOUBLE) * CAST(t.sy AS DOUBLE) / t.n)
              / (t.n - 1) / t.n
              + (CAST(c.syy AS DOUBLE)
                 - CAST(c.sy AS DOUBLE) * CAST(c.sy AS DOUBLE) / c.n)
                / (c.n - 1) / c.n) AS se2
      FROM t CROSS JOIN c)
    SELECT CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
           CAST(floor(mean_diff_cents * 1e2) AS BIGINT) AS mean_diff_centi,
           CAST(floor((mean_diff_cents / sqrt(se2)) * 1e6) AS BIGINT)
             AS z_micro,
           abs(mean_diff_cents / sqrt(se2)) > {_AB_Z_CRIT} AS significant
    FROM z
    """,
)
def ab_test_zscore_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample z-test between two event arms ({_AB_TREATMENT}
    vs {_AB_CONTROL}): difference of mean values, its standard error
    from per-arm sample variances, the z statistic, and the two-sided
    5% significance verdict.

    The moments pattern (statistics.py): per-arm n, Σy, Σy² accumulate
    as exact BIGINT sums on the cents grid — one map-side-combinable
    aggregate per arm, no row ever leaves its executor unaggregated.
    The z expression is fixed IEEE arithmetic over those exact integers
    (sqrt is correctly-rounded per IEEE-754 in every conforming engine),
    so even the 10⁻⁶-grid statistic hash-matches; the boolean verdict
    makes the query self-certifying at a glance."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long")
    # Σcents² in DECIMAL: the arms are global groups, so the BIGINT sum
    # crosses 2⁶³ once the arm reaches ~1e9 rows under ANSI checking;
    # decimal casts to the same correctly-rounded double downstream
    cd = cents.cast("decimal(19,0)")

    def moments(arm: str, pfx: str) -> DataFrame:
        return ev.where(F.col("event_type") == arm).agg(
            F.count(F.lit(1)).alias(f"{pfx}n"),
            F.sum(cents).alias(f"{pfx}sy"),
            F.sum(cd * cd).alias(f"{pfx}syy"),
        )

    t, c = moments(_AB_TREATMENT, "t_"), moments(_AB_CONTROL, "c_")
    j = t.join(c)
    mean_diff = F.col("t_sy").cast("double") / F.col("t_n") - F.col(
        "c_sy"
    ).cast("double") / F.col("c_n")
    var = lambda p: (  # noqa: E731 — sample variance / n (SE² term)
        F.col(f"{p}syy").cast("double")
        - F.col(f"{p}sy").cast("double")
        * F.col(f"{p}sy").cast("double")
        / F.col(f"{p}n")
    ) / (F.col(f"{p}n") - 1) / F.col(f"{p}n")
    se2 = var("t_") + var("c_")
    z = mean_diff / F.sqrt(se2)
    return j.select(
        F.col("t_n").cast("long").alias("n_t"),
        F.col("c_n").cast("long").alias("n_c"),
        F.floor(mean_diff * F.lit(1e2)).cast("long").alias("mean_diff_centi"),
        F.floor(z * F.lit(1e6)).cast("long").alias("z_micro"),
        (F.abs(z) > F.lit(float(_AB_Z_CRIT))).alias("significant"),
    )


# --------------------------------------------------------------------------
# Churn / inactivity profile
# --------------------------------------------------------------------------


@query(
    "churn_inactivity_profile",
    oracle="""
    WITH anchor AS (SELECT max(epoch_us(ts)) AS a_us FROM events),
    users AS (
      SELECT user_id, max(epoch_us(ts)) AS last_us FROM events
      GROUP BY user_id),
    flags AS (
      SELECT CAST(floor((a_us - last_us) / 86400000000.0) AS BIGINT)
               AS days_inactive
      FROM users CROSS JOIN anchor)
    SELECT days_inactive,
           CAST(count(*) AS BIGINT) AS n_users,
           days_inactive >= 7 AS churn_risk
    FROM flags GROUP BY days_inactive
    """,
)
def churn_inactivity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity histogram: users bucketed by whole days since their
    last event, anchored to the stream's max event time, with the
    ≥7-day churn-risk flag — the retention dashboard's front table.

    Time stays integer microseconds end-to-end (unix_micros ↔
    epoch_us), so the day bucketing is a floor over exact integers in
    both engines. One user-keyed aggregate over facts; the anchor is a
    1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("a_us"))
    users = ev.groupBy("user_id").agg(F.max(F.unix_micros("ts")).alias("last_us"))
    flags = users.join(F.broadcast(anchor)).select(
        F.floor((F.col("a_us") - F.col("last_us")) / F.lit(86400000000.0))
        .cast("long")
        .alias("days_inactive")
    )
    return flags.groupBy("days_inactive").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.min("days_inactive") >= 7).alias("churn_risk"),
    )
