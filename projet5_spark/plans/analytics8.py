"""Batch 10 operator battery — time-series diagnostics and corpus
hygiene: CUSUM changepoint detection, hour-of-day seasonal profiles,
lag-1 autocorrelation, tokenizer fertility by language, and
percentile-based length trimming.

Scale design notes:
- **CUSUM** works on the hourly-aggregated series (facts compress to
  series × hours before any window), runs one running-sum window per
  series, and picks the arg-max |S| with a rank — no iteration, no
  self-join. The statistic uses exact integer hour sums; the only
  doubles are fixed-expression products both engines evaluate
  identically.
- **Seasonal profile** is a plain two-level aggregate (type × hour-of-
  day) joined to the type-level rollup — the additive-decomposition
  "seasonal means" step; everything map-side-combinable.
- **ACF(1)** is Pearson correlation over lag-paired hourly values — the
  moments pattern (statistics.py): five exact BIGINT sums per series,
  one closed-form expression after, sqrt being IEEE-correctly-rounded.
- **Fertility** (chars per token — the tokenizer-efficiency metric
  compared across languages before committing to a vocab) is two
  integer sums per language.
- **Length trimming** derives exact p05/p95 token-count cutoffs
  (fixture-scale; sketches at 100 TB, same join-back shape) and reports
  per-source survival — the outlier-document filter run before
  training-set selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


_HOURLY_SQL = """
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, h
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h")
    ).agg(
        F.sum(F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )


# --------------------------------------------------------------------------
# CUSUM changepoint
# --------------------------------------------------------------------------


@query(
    "cusum_changepoint_events",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL}),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(cents) AS BIGINT) AS total
      FROM hourly GROUP BY event_type),
    cusum AS (
      SELECT h.event_type, h.h, s.n_hours,
             sum(h.cents) OVER (PARTITION BY h.event_type ORDER BY h.h
                                ROWS UNBOUNDED PRECEDING)
               - (row_number() OVER (PARTITION BY h.event_type ORDER BY h.h))
                 * (CAST(s.total AS DOUBLE) / s.n_hours) AS s_i
      FROM hourly h JOIN stats s ON h.event_type = s.event_type),
    ranked AS (
      SELECT event_type, h, n_hours,
             CAST(floor(abs(s_i) / 1e2 * 1e4) AS BIGINT) AS abs_s_ten_thousandths,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(s_i) DESC, h) AS rk
      FROM cusum)
    SELECT event_type, h AS changepoint_hour, n_hours, abs_s_ten_thousandths
    FROM ranked WHERE rk = 1
    """,
)
def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event-type series: the hour where the
    cumulative deviation from the series mean |Σ(x−x̄)| peaks — the
    classic level-shift locator run on monitoring series.

    Facts compress to (series, hour) integer sums first; the CUSUM is
    one running-sum window over that compact series and the argmax is a
    rank with an hour tie-break. S_i = running_cents − i·(total/n) uses
    one double product of exact integers — engine-identical — and the
    reported magnitude is floored to a 10⁻⁴-dollar grid."""
    hourly = _hourly(spark, sf_dir)
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("cents").cast("long").alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    cusum = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        "n_hours",
        (
            F.sum("cents").over(w)
            - F.row_number().over(wr)
            * (F.col("total").cast("double") / F.col("n_hours"))
        ).alias("s_i"),
    )
    wk = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s_i"))), F.asc("h")
    )
    return (
        cusum.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").alias("changepoint_hour"),
            "n_hours",
            F.floor(F.abs(F.col("s_i")) / F.lit(1e2) * F.lit(1e4))
            .cast("long")
            .alias("abs_s_ten_thousandths"),
        )
    )


# --------------------------------------------------------------------------
# Hour-of-day seasonal profile
# --------------------------------------------------------------------------


@query(
    "seasonal_hourly_profile",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      FROM events),
    cell AS (
      SELECT event_type, hod, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM ev GROUP BY event_type, hod),
    total AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(cents) AS BIGINT) AS tcents
      FROM cell GROUP BY event_type)
    SELECT c.event_type, c.hod, CAST(c.n AS BIGINT) AS n,
           floor((c.cents * 1.0 / (1e2 * c.n)) * 1e4) / 1e4 AS mean_value,
           floor(((c.cents * 1.0 / (1e2 * c.n))
                  - (t.tcents * 1.0 / (1e2 * t.tn))) * 1e4) / 1e4
             AS seasonal_dev
    FROM cell c JOIN total t ON c.event_type = t.event_type
    """,
)
def seasonal_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal means per event type with each cell's
    deviation from the type's overall mean — the "seasonal component"
    step of an additive decomposition, and the baseline a monitoring
    alert compares against before crying anomaly.

    Two stacked aggregates (type × hour-of-day cell, then type rollup
    joined back via broadcast) — all map-side-combinable integer sums;
    means and deviations are exact-integer ratios on the 10⁻⁴ grid."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cell = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    )
    total = cell.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("cents").alias("tcents")
    )
    mean_cell = F.col("cents") * F.lit(1.0) / (F.lit(1e2) * F.col("n"))
    mean_total = F.col("tcents") * F.lit(1.0) / (F.lit(1e2) * F.col("tn"))
    return cell.join(F.broadcast(total), "event_type").select(
        "event_type",
        "hod",
        F.col("n").cast("long").alias("n"),
        _q(mean_cell, 4).alias("mean_value"),
        _q(mean_cell - mean_total, 4).alias("seasonal_dev"),
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation
# --------------------------------------------------------------------------


@query(
    "acf_lag1_hourly_by_type",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL}),
    lagged AS (
      SELECT event_type, cents AS x,
             lead(cents) OVER (PARTITION BY event_type ORDER BY h) AS y
      FROM hourly),
    m AS (
      SELECT event_type, count(*) AS m,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM lagged WHERE y IS NOT NULL GROUP BY event_type)
    SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
           CAST(floor(1e6 * (CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * CAST(m * syy - sy * sy AS DOUBLE)))) AS BIGINT)
             AS acf1_micro
    FROM m
    WHERE m >= 2 AND m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
    """,
)
def acf_lag1_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's hourly value series —
    Pearson correlation of (xₜ, xₜ₊₁) pairs, the first thing a
    forecasting pipeline checks before choosing a model class.

    Facts compress to hourly integer sums, one lead window builds the
    lag pairs, and the correlation is the closed-form moments ratio
    (statistics.py pattern): all five sums are exact — the product
    moments in DECIMAL(38,0), not BIGINT, because hourly cent sums
    grow with traffic and x·y crossed 2⁶³ in the x100 events stress
    (ANSI overflow abort); decimal keeps ~38 digits of exact headroom
    and casts to the same correctly-rounded double the BIGINT path
    produced, so the 10⁻⁶-grid coefficient still hash-matches across
    engines (DuckDB's integer sums promote to HUGEINT similarly).
    Degenerate series (constant either side) are filtered on both
    sides."""
    hourly = _hourly(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        F.col("cents").alias("x"),
        F.lead("cents").over(w).alias("y"),
    ).where(F.col("y").isNotNull())
    xd, yd = F.col("x").cast("decimal(19,0)"), F.col("y").cast("decimal(19,0)")
    m = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    # the cross terms (sx·sy ~ squared group totals) overflow BIGINT at
    # the same traffic scale as the product moments — keep the whole
    # closed form in decimal
    sxd, syd = F.col("sx").cast("decimal(19,0)"), F.col("sy").cast("decimal(19,0)")
    num = F.col("m") * F.col("sxy") - sxd * syd
    dx = F.col("m") * F.col("sxx") - sxd * sxd
    dy = F.col("m") * F.col("syy") - syd * syd
    return (
        m.where((F.col("m") >= 2) & (dx > 0) & (dy > 0))
        .select(
            "event_type",
            F.col("m").cast("long").alias("n_pairs"),
            F.floor(
                F.lit(1e6)
                * (num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double")))
            )
            .cast("long")
            .alias("acf1_micro"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language
# --------------------------------------------------------------------------


@query(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           floor((sum(n_chars) * 1.0 / sum(n_tokens)) * 1e4) / 1e4
             AS chars_per_token,
           floor((sum(n_tokens) * 1.0 / count(*)) * 1e4) / 1e4
             AS tokens_per_doc
    FROM d GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: non-space characters per
    whitespace token and tokens per document — the efficiency metric
    compared across languages before committing to a tokenizer/vocab
    (high fertility = a language the tokenizer fragments expensively).

    Two integer sums per language (map-side-combinable), ratios on the
    10⁻⁴ grid. With a real subword tokenizer the n_tokens column would
    come from `token_count_bpe_regex`'s counter — same shape."""
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), " ", ""))
        .cast("long")
        .alias("n_chars"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        _q(F.sum("n_chars") * F.lit(1.0) / F.sum("n_tokens"), 4).alias(
            "chars_per_token"
        ),
        _q(F.sum("n_tokens") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
            "tokens_per_doc"
        ),
    )


# --------------------------------------------------------------------------
# Percentile length trimming
# --------------------------------------------------------------------------


@query(
    "doc_length_trim_stats",
    oracle="""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents),
    cuts AS (
      SELECT quantile_cont(n_tokens, 0.05) AS lo,
             quantile_cont(n_tokens, 0.95) AS hi
      FROM d)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_tokens >= lo AND n_tokens <= hi)
                AS BIGINT) AS n_kept,
           floor((count(*) FILTER (WHERE n_tokens >= lo AND n_tokens <= hi)
                  * 1.0 / count(*)) * 1e4) / 1e4 AS kept_frac
    FROM d CROSS JOIN cuts GROUP BY source
    """,
)
def doc_length_trim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier trimming survival per source: corpus-wide exact
    p05/p95 token-count cutoffs, and how much of each source survives
    the [p05, p95] filter — the hygiene pass that drops truncated
    fragments and runaway concatenations before training-set selection.

    The cutoffs are a 1-row broadcast joined onto the per-doc lengths;
    exact interpolated percentiles (via ``grouped_exact_quantiles`` —
    bit-identical to ``F.percentile``, but the state folds to distinct
    token counts instead of buffering every doc's length in one JVM
    buffer) land on the half-token grid so the boundary comparisons
    are engine-identical (at 100 TB a t-digest has the same join-back
    shape)."""
    from ..operators.quantiles import grouped_exact_quantiles

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    cuts = grouped_exact_quantiles(d, [], "n_tokens", {"lo": 0.05, "hi": 0.95})
    kept = F.count(
        F.when((F.col("n_tokens") >= F.col("lo")) & (F.col("n_tokens") <= F.col("hi")), 1)
    )
    return (
        d.join(F.broadcast(cuts))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            kept.cast("long").alias("n_kept"),
            _q(kept * F.lit(1.0) / F.count(F.lit(1)), 4).alias("kept_frac"),
        )
    )
