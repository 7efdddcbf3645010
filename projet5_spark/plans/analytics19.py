"""Batch 21 operator battery — representation drift, numeric-exactness
and robustness audits: per-label embedding centroid cosine matrix,
decimal-vs-double money-sum verdict, cume_dist/nth_value window
surface, and a malformed-JSON dead-letter audit.

Scale design notes:
- **Centroid cosine** folds the corpus to O(labels × dims) gridded
  integer sums (map-side combinable), so the pairwise-cosine stage
  runs on a table the size of the label set squared — corpus size only
  touches the one explode+aggregate pass. Dot products and squared
  norms of the micro-gridded centroids are exact BIGINTs; the final
  cosine is one division and two IEEE-exact sqrts.
- **Decimal verdict** certifies the three money-sum disciplines
  against each other: integer cents (the repo's oracle-grade ground
  truth), DECIMAL(18,2) (exact fixed-point — what a lakehouse schema
  should declare), and raw DOUBLE (order-dependent; certified only to
  a $1 tolerance). The point at 100 TB: decimal/cents sums commute
  across any partitioning, double sums do not.
- **Dead-letter audit** plants deterministic corruption (event_id ≡ 3
  mod 17 gets a broken prefix) and measures per-type parse-failure
  rates — map-only, the ingest-quarantine accounting every streaming
  sink needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Per-label embedding centroid cosine matrix (source-drift detector)
# --------------------------------------------------------------------------


@query(
    "label_centroid_cosine_matrix",
    oracle="""
    WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cm AS (
      SELECT label, i,
             CAST(floor(CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS DOUBLE)
                        / count(*)) AS BIGINT) AS c
      FROM x GROUP BY label, i),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot
      FROM cm a JOIN cm b ON a.i = b.i AND a.label < b.label
      GROUP BY a.label, b.label),
    nsq AS (
      SELECT label, CAST(sum(c * c) AS BIGINT) AS nsq FROM cm GROUP BY label)
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           CAST(floor(CAST(dot AS DOUBLE)
                      / (sqrt(CAST(na.nsq AS DOUBLE))
                         * sqrt(CAST(nb.nsq AS DOUBLE))) * 1e6)
                AS BIGINT) AS cos_micro
    FROM dots
    JOIN nsq na ON label_a = na.label
    JOIN nsq nb ON label_b = nb.label
    ORDER BY label_a, label_b
    """,
)
def label_centroid_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the representation-drift check a multi-source corpus runs: if two
    sources' centroids converge the mixture is redundant; if one drifts
    from its history the upstream changed.

    The corpus folds to O(labels × 64) gridded integer sums in one
    explode+aggregate (map-side combinable; per-element sums floor onto
    a 1e-6 grid so summation order can't flip bits). Centroid
    components are exact micro-BIGINTs; dots and squared norms are
    exact integer products; the final cosine is one division and two
    IEEE-exact sqrts — identical cross-engine."""
    x = (
        _t(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("p", "vf"))
        .select(
            "label",
            (F.col("p") + F.lit(1)).cast("long").alias("i"),
            F.col("vf").cast("double").alias("v"),
        )
    )
    cm = x.groupBy("label", "i").agg(
        F.floor(
            F.sum(F.floor(F.col("v") * F.lit(1e6)).cast("long")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("c")
    )
    a, b = cm.alias("a"), cm.alias("b")
    dots = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("dot"))
    )
    nsq = cm.groupBy("label").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("nsq")
    )
    na = nsq.select(F.col("label").alias("label_a"), F.col("nsq").alias("nsq_a"))
    nb = nsq.select(F.col("label").alias("label_b"), F.col("nsq").alias("nsq_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nsq_a").cast("double"))
                    * F.sqrt(F.col("nsq_b").cast("double"))
                )
                * 1e6
            )
            .cast("long")
            .alias("cos_micro"),
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------------------------------
# Decimal vs double money-sum verdict
# --------------------------------------------------------------------------


@query(
    "decimal_exact_sum_verdict",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS dec_sum,
             sum(o_totalprice) AS dbl_sum
      FROM orders)
    SELECT n_rows, sum_cents,
           CAST(dec_sum AS VARCHAR) AS sum_decimal,
           CAST(dec_sum * 100 AS BIGINT) = sum_cents AS decimal_matches_cents,
           abs(dbl_sum - CAST(sum_cents AS DOUBLE) / 100) < 1.0
             AS double_within_dollar
    FROM s
    """,
)
def decimal_exact_sum_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three money-sum disciplines certified against each other:
    integer cents (ground truth — exact, order-independent), a
    DECIMAL(18,2) aggregate (exact fixed-point, must equal the cents
    sum to the cent), and a raw DOUBLE aggregate (summation-order-
    dependent — certified only to a $1 tolerance).

    This is the numeric-policy exhibit behind every oracle pair in the
    catalog: at 100 TB, cents/decimal sums commute across any
    partitioning and retry; double sums drift with partition count,
    which is why no hashed output in this repo ever emits one raw."""
    o = _t(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("dec_sum"),
        F.sum("o_totalprice").alias("dbl_sum"),
    )
    return s.select(
        "n_rows",
        "sum_cents",
        F.col("dec_sum").cast("string").alias("sum_decimal"),
        ((F.col("dec_sum") * 100).cast("long") == F.col("sum_cents")).alias(
            "decimal_matches_cents"
        ),
        (
            F.abs(F.col("dbl_sum") - F.col("sum_cents").cast("double") / 100)
            < 1.0
        ).alias("double_within_dollar"),
    )


# --------------------------------------------------------------------------
# cume_dist / nth_value window surface
# --------------------------------------------------------------------------


@query(
    "window_cume_dist_nth_value",
    oracle="""
    SELECT s_nationkey,
           CAST(s_suppkey AS BIGINT) AS s_suppkey,
           CAST(floor(cume_dist() OVER w * 1e6) AS BIGINT) AS cume_micro,
           CAST(nth_value(CAST(floor(s_acctbal * 1e2 + 0.5) AS BIGINT), 2)
                  OVER (PARTITION BY s_nationkey
                        ORDER BY s_acctbal DESC, s_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS second_bal_cents
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_nationkey, s_suppkey
    """,
)
def window_cume_dist_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cume_dist`` and ``nth_value`` — the two ranking/analytic
    window functions not yet exercised by the catalog's window battery
    — over supplier balances per nation: each supplier's cumulative
    rank share, plus the nation's second-highest balance via a
    full-frame nth_value.

    Both windows share the (nation) partition and a total
    (balance DESC, suppkey) order, so ties can't reorder cross-engine;
    cume_dist is rank/n on that total order, floored to micro."""
    supp = _t(spark, sf_dir, "supplier")
    wo = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), "s_suppkey"
    )
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cents = F.floor(F.col("s_acctbal") * 1e2 + F.lit(0.5)).cast("long")
    return supp.select(
        "s_nationkey",
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.floor(F.cume_dist().over(wo) * 1e6).cast("long").alias("cume_micro"),
        F.nth_value(cents, 2).over(wf).cast("long").alias("second_bal_cents"),
    ).orderBy("s_nationkey", "s_suppkey")


# --------------------------------------------------------------------------
# Malformed-JSON dead-letter audit (planted corruption)
# --------------------------------------------------------------------------


@query(
    "json_malformed_rate_audit",
    oracle="""
    WITH fed AS (
      SELECT event_type,
             CASE WHEN event_id % 17 = 3 THEN '{broken' || props
                  ELSE props END AS payload
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE NOT json_valid(payload)) AS BIGINT)
             AS n_dead_letter,
           CAST(floor(CAST(count(*) FILTER (WHERE NOT json_valid(payload))
                           AS DOUBLE) * 1e6 / count(*)) AS BIGINT)
             AS dead_letter_micro
    FROM fed GROUP BY event_type ORDER BY event_type
    """,
)
def json_malformed_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting: per-event-type rate of payloads that
    fail JSON parsing — the quarantine metric every ingest sink
    publishes. Corruption is planted deterministically (event_id ≡ 3
    mod 17 gets a broken prefix) so the audit path is exercised, not
    vacuously green.

    Map-only: ``try_parse_json`` returns null for unparseable payloads
    (the VARIANT-era dead-letter routing primitive — PERMISSIVE
    ``from_json`` would emit a null-fielded struct instead and hide the
    corruption), the oracle mirrors with ``json_valid``, and the rollup
    is one hash aggregate. At scale the same predicate routes rows to a
    quarantine sink instead of counting them."""
    ev = _t(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 17 == 3, F.concat(F.lit("{broken"), F.col("props"))
    ).otherwise(F.col("props"))
    fed = ev.select("event_type", payload.alias("payload"))
    parsed = fed.select(
        "event_type",
        F.try_parse_json("payload").alias("j"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(F.col("j").isNull(), 1))
            .cast("long")
            .alias("n_dead_letter"),
        )
        .select(
            "event_type",
            "n_events",
            "n_dead_letter",
            F.floor(
                F.col("n_dead_letter").cast("double") * 1e6 / F.col("n_events")
            )
            .cast("long")
            .alias("dead_letter_micro"),
        )
        .orderBy("event_type")
    )
