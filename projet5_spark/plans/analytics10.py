"""Batch 12 operator battery — statistical testing & drift detection:
two-sample Kolmogorov-Smirnov, population stability index (PSI),
chi-square independence, and Gini concentration.

These are the distribution-monitoring operators an ML platform runs
between training and serving: "did the data move?" (KS, PSI), "are
these factors independent?" (χ²), "how concentrated is the mass?"
(Gini).

Scale design notes — all four share one shape: facts compress to
integer counts/sums FIRST (map-side combinable), and the statistic is
fixed IEEE arithmetic over those exact integers, so every gridded
output is engine-identical:
- **KS** sorts only the distinct-value table (value-space bounded, not
  row bounded) and takes the max ECDF gap with running-sum windows.
- **PSI** bins by the reference deciles (rank cutoffs over the
  reference aggregate) and uses the deterministic integer log on count
  products, never engine ``ln``.
- **χ²** is a contingency aggregate + broadcast marginals; the
  statistic sums (o−e)²/e terms on a 10⁻⁶ integer grid.
- **Gini** needs one global rank — but over the per-customer aggregate
  (entity-scale), and the formula is two exact BIGINT sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# --------------------------------------------------------------------------

_KS_A = "click"
_KS_B = "view"


@query(
    "ks_test_event_values",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')),
    counts AS (
      SELECT v,
             count(*) FILTER (WHERE event_type = '{_KS_A}') AS ca,
             count(*) FILTER (WHERE event_type = '{_KS_B}') AS cb
      FROM pts GROUP BY v),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM counts),
    ecdf AS (
      SELECT sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM counts)
    SELECT na, nb,
           CAST(max(CAST(floor(abs(CAST(cum_a AS DOUBLE) / na
                                   - CAST(cum_b AS DOUBLE) / nb) * 1e6)
                         AS BIGINT)) AS BIGINT) AS ks_d_micro
    FROM ecdf CROSS JOIN tot
    GROUP BY na, nb
    """,
)
def ks_test_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the '{_KS_A}'
    and '{_KS_B}' value distributions: D = max |ECDF₁ − ECDF₂| — the
    standard nonparametric drift detector between two data slices.

    Facts compress to per-distinct-value pair counts first, so the
    ECDF windows run over the value table (cents-grid bounded), not
    rows; D is a max over exact-integer ratios. At 100 TB the same
    plan runs on a quantile-sketch grid instead of exact distincts —
    identical shape, bounded value table."""
    pts = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin(_KS_A, _KS_B))
        .select(
            "event_type",
            F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("v"),
        )
    )
    counts = pts.groupBy("v").agg(
        F.count(F.when(F.col("event_type") == _KS_A, 1)).alias("ca"),
        F.count(F.when(F.col("event_type") == _KS_B, 1)).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = counts.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    )
    gap = F.floor(
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        )
        * F.lit(1e6)
    ).cast("long")
    return (
        ecdf.join(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.max(gap).cast("long").alias("ks_d_micro"))
        .select("na", "nb", "ks_d_micro")
    )


# --------------------------------------------------------------------------
# Population stability index
# --------------------------------------------------------------------------

#: reference = orders before the cutoff, current = on/after (the
#: "training vs serving window" split)
_PSI_CUTOFF = "1998-01-01"


def _psi_oracle() -> str:
    # ln(p/q) = ln(ca·nb) − ln(cb·na), both positive integers
    lnx = ln_det_int_sql("x")
    lny = ln_det_int_sql("y")
    return f"""
    WITH base AS (
      SELECT CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents,
             o_orderdate < '{_PSI_CUTOFF}' AS is_ref
      FROM orders),
    cuts AS (
      SELECT quantile_cont(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM base WHERE is_ref),
    binned AS (
      SELECT CAST(len(list_filter(qs, q -> q < cents)) AS BIGINT) AS bin, is_ref
      FROM base CROSS JOIN cuts),
    cnt AS (
      SELECT bin,
             count(*) FILTER (WHERE is_ref) AS ca,
             count(*) FILTER (WHERE NOT is_ref) AS cb
      FROM binned GROUP BY bin),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM cnt),
    terms AS (
      SELECT bin, ca, cb, na, nb,
             CAST(ca * nb AS BIGINT) AS x, CAST(cb * na AS BIGINT) AS y
      FROM cnt CROSS JOIN tot WHERE ca > 0 AND cb > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(CAST(floor((CAST(ca AS DOUBLE) / na
                                - CAST(cb AS DOUBLE) / nb)
                               * ({lnx} - {lny}) * 1e9) AS BIGINT)) AS BIGINT)
             AS psi_nano
    FROM terms
    """


@query("psi_population_stability", oracle=_psi_oracle())
def psi_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of order values between the reference
    window (before {_PSI_CUTOFF}) and the current window — the model-
    monitoring drift score: PSI = Σ (p−q)·ln(p/q) over reference-decile
    bins (rule of thumb: >0.2 = investigate).

    Bins come from the reference arm's exact deciles (sketches at
    100 TB); each PSI term is floored onto a 10⁻⁹ integer grid before
    summing, and ln(p/q) expands to ln(ca·nb) − ln(cb·na) over the
    deterministic integer log — no engine ``ln`` anywhere. Empty bins
    on either side are excluded on both sides (the standard PSI
    practice of binning so no cell is empty)."""
    base = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
        (F.col("o_orderdate") < _PSI_CUTOFF).alias("is_ref"),
    )
    # r13 straight-line restructure (the woe_iv_price_bins twin): fold
    # the fact table ONCE to (cents, is_ref, c) and attach the
    # REFERENCE-arm deciles through the window pass by weighting the
    # rank arithmetic with the ref mass only (current-arm rows carry
    # weight 0: their prefix sums collapse to prev == cum, so they
    # never cover a bracket rank and never shift one — the deciles are
    # exactly the ref arm's, attached to every row of both arms with
    # no join and no broadcast subtree). Binning sums the fold's
    # counts in the same pipeline; grand totals ride a
    # single-partition window over the 10-row bin relation. Two
    # exchanges, zero joins — vs 8 exchanges / 3 broadcast builds.
    from ..operators.quantiles import attach_exact_quantiles

    dec = {f"d{i}": i / 10.0 for i in range(1, 10)}
    folded = (
        base.where(F.col("cents").isNotNull())
        .groupBy("cents", "is_ref")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "ref_c", F.when(F.col("is_ref"), F.col("c")).otherwise(F.lit(0))
        )
    )
    attached = attach_exact_quantiles(
        folded, [], "cents", dec, weight_col="ref_c"
    )
    # guarded (ADVICE r7, kept from the decile_array_or_fail form): an
    # empty reference arm leaves every decile NULL — fail loudly, not
    # bin every row into bin 0
    bin_sql = (
        "cast("
        + " + ".join(
            f"(CASE WHEN d{i} < cents THEN 1 ELSE 0 END)" for i in range(1, 10)
        )
        + " as bigint)"
    )
    binned = attached.select(
        F.when(F.col("d1").isNotNull(), F.expr(bin_sql))
        .otherwise(
            F.raise_error(
                F.lit(
                    "psi_population_stability: quantile input arm is "
                    "empty or all-NULL — decile bins are undefined"
                )
            )
        )
        .alias("bin"),
        "is_ref",
        "c",
    )
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(~F.col("is_ref"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cb"),
    )
    wt = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    terms = (
        cnt.withColumn("na", F.sum("ca").over(wt).cast("long"))
        .withColumn("nb", F.sum("cb").over(wt).cast("long"))
        .where((F.col("ca") > 0) & (F.col("cb") > 0))
        .withColumn("x", (F.col("ca") * F.col("nb")).cast("long"))
        .withColumn("y", (F.col("cb") * F.col("na")).cast("long"))
    )
    term = F.floor(
        (
            F.col("ca").cast("double") / F.col("na")
            - F.col("cb").cast("double") / F.col("nb")
        )
        * (ln_det_int("x") - ln_det_int("y"))
        * F.lit(1e9)
    ).cast("long")
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(term).cast("long").alias("psi_nano"),
    )


# --------------------------------------------------------------------------
# Chi-square independence
# --------------------------------------------------------------------------


@query(
    "chi_square_status_priority",
    oracle="""
    WITH cell AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS o
      FROM orders GROUP BY s, p),
    rows_m AS (SELECT s, CAST(sum(o) AS BIGINT) AS rs FROM cell GROUP BY s),
    cols_m AS (SELECT p, CAST(sum(o) AS BIGINT) AS cs FROM cell GROUP BY p),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
    terms AS (
      SELECT o, CAST(rs * cs AS DOUBLE) / n AS e
      FROM cell JOIN rows_m USING (s) JOIN cols_m USING (p) CROSS JOIN tot)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(floor((o - e) * (o - e) / e * 1e6) AS BIGINT))
                AS BIGINT) AS chi2_micro
    FROM terms
    """,
)
def chi_square_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the order status ×
    priority contingency table — the categorical-drift / association
    screen: χ² = Σ (observed − expected)²/expected with expected =
    row·col/N.

    One contingency aggregate over facts, marginals derived from the
    (cells ≤ |status|·|priority|) table and broadcast back; each term
    is a fixed IEEE expression over exact integers, floored to a 10⁻⁶
    grid before the order-independent BIGINT sum."""
    cell = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = cell.groupBy("s").agg(F.sum("o").cast("long").alias("rs"))
    cols_m = cell.groupBy("p").agg(F.sum("o").cast("long").alias("cs"))
    tot = cell.agg(F.sum("o").cast("long").alias("n"))
    e = (F.col("rs") * F.col("cs")).cast("double") / F.col("n")
    term = F.floor((F.col("o") - e) * (F.col("o") - e) / e * F.lit(1e6)).cast(
        "long"
    )
    return (
        cell.join(F.broadcast(rows_m), "s")
        .join(F.broadcast(cols_m), "p")
        .join(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(term).cast("long").alias("chi2_micro"),
        )
    )


# --------------------------------------------------------------------------
# Gini concentration
# --------------------------------------------------------------------------


@query(
    "gini_revenue_concentration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
      FROM spend),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sx,
             CAST(sum(i * cents) AS BIGINT) AS six
      FROM ranked)
    SELECT n, sx,
           CAST(floor((2.0 * six / (CAST(n AS DOUBLE) * sx)
                       - (n + 1.0) / n) * 1e6) AS BIGINT) AS gini_micro
    FROM m
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality measure
    behind "top-X% of customers hold Y%" dashboards (0 = uniform,
    →1 = concentrated): G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over
    ascending-ranked spend.

    The rank runs over the per-customer AGGREGATE (entity-scale, not
    facts) with a key tie-break, and the statistic is a fixed IEEE
    expression over two exact BIGINT sums. Companion to
    `decile_lift_customers` (same mass, scalar instead of table)."""
    spend = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = spend.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .cast("long")
        .alias("i"),
    )
    # Σ i·cents in DECIMAL: rank i grows with the customer count, so
    # the product crosses 2⁶³ near ~1M customers under ANSI checking;
    # decimal casts to the same correctly-rounded double below
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("six"),
    )
    gini = (
        F.lit(2.0) * F.col("six") / (F.col("n").cast("double") * F.col("sx"))
        - (F.col("n") + F.lit(1.0)) / F.col("n")
    )
    return m.select(
        "n", "sx", F.floor(gini * F.lit(1e6)).cast("long").alias("gini_micro")
    )
