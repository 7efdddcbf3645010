"""Batch 6 operator battery: substring-level duplicate coverage, PMI
collocations, character-entropy quality scoring, bucket-blocked interval
overlap join, per-key OLS trend slopes, Benford first-digit auditing,
decile lift tables, and MAD-based robust outlier detection.

Scale design notes:
- **Substring duplicate coverage** is the token-level analog of
  suffix-array training-data dedup (find spans repeated across
  documents): per-position 8-token grams hash to 32-byte digests, the
  digest aggregate marks grams seen in ≥2 documents, and each document
  reports the fraction of its gram positions covered by cross-document
  repeats. Both shuffles (digest aggregate, doc rollup) carry digests
  and counts — never text — so the shape survives 100 TB; a production
  pass would additionally cap per-digest fan-out like the near-dup
  family does.
- **PMI collocations** compress the corpus to its bigram vocabulary
  before any scoring (the BPE/bigram-LM pattern): corpus-scale work is
  one (w1,w2) count aggregate; marginals and the grand total derive
  from that vocab-scale table, and the score uses the fixed-expression
  deterministic log (``functions.detmath``) so both engines rank
  identical doubles.
- **Char entropy** is map-side explodable (doc_id-keyed aggregate, one
  shuffle); the Σc·ln c term accumulates on a 10⁻⁹ integer micro-grid
  so the sum is order-independent and engine-exact.
- **Interval overlap join** demonstrates the bucket-blocking rewrite of
  a theta join: each fact interval explodes to the calendar-month
  buckets it covers and the aggregate runs on the equi-keyed rows. The
  oracle proves equivalence by running the genuine theta join
  (``o.start < m.end AND o.end > m.start``) over a generated month
  series. At 100 TB the explode factor is bounded by interval length /
  bucket width (≤2 here), vs the unbounded shuffle of a range join.
- **Trend slope** shows closed-form OLS as pure mergeable aggregates:
  all five moments (n, Σx, Σy, Σxy, Σx²) are exact BIGINT sums on the
  cents/hour grid, so the slope is a single ratio of exact integers —
  no iterative fitting, no Python, one shuffle on the group key.
- **Benford audit** is map-only + a 9-row aggregate; the expected
  Benford share log₁₀(1+1/d) is built from the deterministic integer
  log so the deviation column is engine-identical.
- **Decile lift** is the classic model-scoring diagnostic: one fact
  aggregate, an ntile(10) over a total order, then a 10-row rollup —
  the global sort is over customer aggregates, not facts, and at 100 TB
  ntile would run on the aggregate table the same way.
- **MAD outliers** does grouped median / median-absolute-deviation with
  exact interpolated percentiles (the oracle form; a production pass
  swaps in t-digest sketches) and broadcast-joins the per-group scalars
  back — two tiny dimension joins, one fact shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .llm import _spread
from .registry import query, quantize as _q


# --------------------------------------------------------------------------
# Substring-level duplicate coverage (suffix-array-dedup analog)
# --------------------------------------------------------------------------

#: gram width in tokens — wide enough that natural-language collisions
#: are rare (the suffix-array dedup literature uses ~50 BPE tokens; the
#: fixture corpus' short docs need a smaller window to have any grams)
_GRAM_W = 8

# DuckDB: 1-indexed token list t → one row per gram start position.
_DUCK_GRAMS = (
    "SELECT doc_id, i AS pos, "
    + " || ' ' || ".join(f"t[i+{k}]" for k in range(_GRAM_W))
    + " AS gram FROM (SELECT doc_id, t, unnest(range(1, len(t) - "
    + str(_GRAM_W - 2)
    + ")) AS i FROM toks) WHERE len(t) >= "
    + str(_GRAM_W)
)


@query(
    "substring_dup_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS ({_DUCK_GRAMS}),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id))
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(d.gram) AS BIGINT) AS n_dup_grams,
           floor((count(d.gram) * 1.0 / count(*)) * 1e4) / 1e4 AS dup_coverage
    FROM g LEFT JOIN dup d ON g.gram = d.gram
    GROUP BY g.doc_id
    """,
)
def substring_dup_coverage(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Cross-document substring duplication coverage: for every document,
    the fraction of its {_GRAM_W}-token gram positions whose gram also
    appears in at least one OTHER document — the per-doc signal behind
    substring-level training-data dedup (repeated spans get cut, not
    whole near-dup docs).

    Grams are built with the posexplode + window-lead pattern
    (plans/llm.py::shingle_rows rationale: generators over higher-order
    transforms re-evaluate per output row) and immediately replaced by
    32-byte sha-256 digests, so the gram aggregate and the coverage
    rollup both shuffle digests, never text. "Appears in another doc"
    is min(doc_id) ≠ max(doc_id) per digest — two cheap extrema instead
    of a count-distinct.

    ``materialize`` (default True, the fixture-bench win) checkpoints
    the corpus-gram-scale digest relation so its two consumers
    (dup-digest build + probe join) share one tokenize/window/sha pass
    — the same flag pattern as llm.py ``_split_shingles_by_df``. This
    is the LARGEST relation in the plan: at 100 TB it is a deliberate
    ~3 GB/executor spill-to-local-disk working set on a 1000-executor
    cluster; pass False when local disk is tighter than that to pay
    the second sha pass instead."""
    docs = _spread(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", k).over(w) for k in range(1, _GRAM_W)
    ]
    grams = (
        toks.select(
            "doc_id",
            F.when(
                parts[-1].isNotNull(), F.sha2(F.concat_ws(" ", *parts), 256)
            ).alias("dig"),
        )
        .where(F.col("dig").isNotNull())
    )
    if materialize:  # trade-off documented in the docstring
        grams = grams.localCheckpoint(eager=True)
    dup = (
        grams.groupBy("dig")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("dig")
    )
    return (
        grams.join(dup.withColumn("is_dup", F.lit(1)), "dig", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("is_dup").cast("long").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            _q(F.col("n_dup_grams") * F.lit(1.0) / F.col("n_grams"), 4).alias(
                "dup_coverage"
            ),
        )
    )


# --------------------------------------------------------------------------
# PMI collocations
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 20


def _pmi_oracle() -> str:
    pmi = (
        f"({ln_det_int_sql('c12')} + {ln_det_int_sql('n')} "
        f"- {ln_det_int_sql('c1')} - {ln_det_int_sql('c2')})"
    )
    return f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS c12
      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
      WHERE len(t) >= 2 GROUP BY w1, w2),
    m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bg GROUP BY w2),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bg),
    scored AS (
      SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
             CAST(floor({pmi} * 1e6) AS BIGINT) AS pmi_micro
      FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
      WHERE c12 >= {_PMI_MIN_COUNT})
    SELECT w1, w2, c12, pmi_micro,
           CAST(row_number() OVER (ORDER BY pmi_micro DESC, w1, w2) AS BIGINT) AS rk
    FROM scored ORDER BY rk LIMIT 20
    """


@query("pmi_top_collocations", oracle=_pmi_oracle())
def pmi_top_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by pointwise mutual
    information: PMI(w1,w2) = ln(c12·N / (c1·c2)) over the corpus bigram
    table, with marginal counts as the unigram proxies.

    Corpus-scale work is exactly one (w1,w2) aggregate; marginals, the
    grand total, and the score all run on the vocab²-bounded bigram
    table (broadcastable at any corpus size). The log is the
    fixed-expression deterministic integer ln (functions/detmath.py),
    so the 10⁻⁶-grid score is bit-identical cross-engine; count desc /
    lexicographic tie-break makes the top-20 a total order."""
    docs = _spread(spark, _t(spark, sf_dir, "documents").select("text"))
    toks = F.split(F.col("text"), " ")
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    # checkpoint the vocab-scale bigram table: marginals, the grand
    # total, and the scored rows all read it — without the truncation
    # the corpus-scale explode re-runs once per consumer (curation.py's
    # bigram-LM c12 rationale; a window-sum single-plan variant measured
    # SLOWER at fixture scale — more sequential stage barriers)
    bg = (
        docs.where(F.size(toks) >= 2)
        .select(F.inline(pair))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    m1 = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    m2 = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = bg.agg(F.sum("c12").alias("n"))
    scored = (
        bg.where(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .join(F.broadcast(tot))
        .withColumn(
            "pmi_micro",
            F.floor(
                (
                    ln_det_int("c12")
                    + ln_det_int("n")
                    - ln_det_int("c1")
                    - ln_det_int("c2")
                )
                * F.lit(1e6)
            ).cast("long"),
        )
    )
    w = Window.orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
    return (
        scored.select("w1", "w2", F.col("c12").cast("long").alias("c12"), "pmi_micro")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# Character-entropy quality score
# --------------------------------------------------------------------------


def _entropy_oracle() -> str:
    lnc = ln_det_int_sql("c")
    lnn = ln_det_int_sql("n")
    return f"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
    cnt AS (
      SELECT doc_id, ch, count(*) AS c FROM chars
      WHERE ch <> ' ' AND ch <> '' GROUP BY doc_id, ch),
    docsum AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(floor(c * {lnc} * 1e9) AS BIGINT)) AS s_nano
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n AS n_chars,
           floor(({lnn} - (s_nano / 1e9) / n) * 1e4) / 1e4 AS char_entropy
    FROM docsum
    """


@query("char_entropy_quality", oracle=_entropy_oracle())
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the cheap
    quality filter that catches low-entropy spam (aaaa…), binary junk,
    and encoding artifacts before expensive model-based scoring.

    H = ln(n) − (Σ c·ln c)/n over non-space character counts: one
    explode + doc-keyed aggregate (map-side combinable). Each c·ln c
    term is floored onto a 10⁻⁹ integer grid before summing so the
    aggregate is order-independent, and ln is the deterministic
    fixed-expression integer log — both engines emit identical bits
    into the final 10⁻⁴ floor."""
    docs = _spread(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    cnt = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .where((F.col("ch") != " ") & (F.col("ch") != ""))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    docsum = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.floor(F.col("c") * ln_det_int("c") * F.lit(1e9)).cast("long")
        ).alias("s_nano"),
    )
    return docsum.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        _q(
            ln_det_int("n") - (F.col("s_nano") / F.lit(1e9)) / F.col("n"), 4
        ).alias("char_entropy"),
    )


# --------------------------------------------------------------------------
# Interval overlap join via calendar-month bucket blocking
# --------------------------------------------------------------------------


@query(
    "interval_overlap_orders_months",
    oracle="""
    WITH span AS (
      SELECT date_trunc('month', min(o_orderdate)) AS m0,
             date_trunc('month', max(o_orderdate) + INTERVAL 29 DAY) AS m1
      FROM orders),
    months AS (
      SELECT unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS month_start
      FROM span)
    SELECT strftime(m.month_start, '%Y-%m') AS month_start,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM months m
    JOIN orders o
      ON o.o_orderdate < m.month_start + INTERVAL 1 MONTH
     AND o.o_orderdate + INTERVAL 30 DAY > m.month_start
    GROUP BY m.month_start
    """,
)
def interval_overlap_orders_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join, bucket-blocked: each order's 30-day
    fulfillment interval [o_orderdate, +30d) is matched against every
    calendar month it overlaps, and the rollup counts overlapping
    orders and their value per month.

    The Spark plan rewrites the theta join as an explode-to-bucket
    equi-aggregate: ``sequence(month(start), month(start+29d))``
    produces the ≤2 month buckets each interval covers, so there is no
    join at all — just a month-keyed aggregate. The oracle runs the
    honest theta join (``s < m_end AND e > m_start``) against a
    generated month series, certifying the rewrite's equivalence. At
    100 TB the explode factor stays interval/bucket-width bounded while
    a naive range join degenerates to broadcast-nested-loop."""
    orders = _t(spark, sf_dir, "orders")
    months = F.sequence(
        F.date_trunc("month", F.col("o_orderdate")),
        F.date_trunc("month", F.col("o_orderdate") + F.expr("INTERVAL 29 DAYS")),
        F.expr("INTERVAL 1 MONTH"),
    )
    return (
        orders.select(
            F.explode(months).alias("m"),
            F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy(F.date_format("m", "yyyy-MM").alias("month_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


# --------------------------------------------------------------------------
# Per-key OLS trend slope from exact integer moments
# --------------------------------------------------------------------------

#: epoch-hour offset (≈2023-12-19) keeping x values small enough that
#: every moment product stays far inside BIGINT/2⁵³ exactness
_X0 = 473000


@query(
    "user_value_trend_slope",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) - {_X0} AS x,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS y
      FROM events),
    m AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY user_id)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(floor(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_micro_cents_per_hour
    FROM m WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
)
def user_value_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend slope of event value over time — closed-form
    regression as pure mergeable aggregates (the distributed form of
    ``regr_slope``): slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).

    x is epoch-hours offset to a fixed base and y is value cents, so
    all five moments are exact BIGINT sums — order-independent,
    map-side-combinable, one shuffle on user_id. The slope is then a
    single double division of two exactly-representable integers,
    identical in any IEEE engine; built-in ``regr_slope``/``corr``
    accumulate doubles in partition order and can't be hash-gated.
    Degenerate series (n<2 or zero x-variance) are filtered on both
    sides."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / 3600).cast("long") - F.lit(_X0)).alias(
            "x"
        ),
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("y"),
    )
    m = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        m.where((F.col("n") >= 2) & (den > 0))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.floor(F.lit(1e6) * num.cast("double") / den.cast("double"))
            .cast("long")
            .alias("slope_micro_cents_per_hour"),
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------


def _benford_oracle() -> str:
    lnd = ln_det_int_sql("d")
    lnd1 = ln_det_int_sql("dp1")
    ln10 = ln_det_int_sql("ten")
    return f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders),
    cnt AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT sum(n) AS total FROM cnt),
    scored AS (
      SELECT digit, n, total, digit AS d, digit + 1 AS dp1, 10 AS ten
      FROM cnt CROSS JOIN tot)
    SELECT digit, CAST(n AS BIGINT) AS n,
           floor((n * 1.0 / total) * 1e6) / 1e6 AS share,
           floor((({lnd1} - {lnd}) / {ln10}) * 1e6) / 1e6 AS benford_expected,
           floor(((n * 1.0 / total) - ({lnd1} - {lnd}) / {ln10}) * 1e6) / 1e6
             AS deviation
    FROM scored
    """


@query("benford_first_digit_audit", oracle=_benford_oracle())
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-significant-
    digit shares next to the Benford expectation log₁₀(1+1/d) and the
    deviation — the classic fraud/synthetic-data screen.

    The first digit comes from the decimal string of the exact cents
    integer (scaling by 100 preserves the leading digit), so no float
    formatting is involved; map-only + a 9-row aggregate. The Benford
    term is built from the deterministic integer log —
    (ln(d+1) − ln d)/ln 10 — keeping the 10⁻⁶-grid columns
    engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").cast("string"),
        1,
        1,
    ).cast("long")
    cnt = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("total"))
    scored = (
        cnt.join(F.broadcast(tot))
        .withColumn("d", F.col("digit"))
        .withColumn("dp1", F.col("digit") + 1)
        .withColumn("ten", F.lit(10))
    )
    benford = (ln_det_int("dp1") - ln_det_int("d")) / ln_det_int("ten")
    share = F.col("n") * F.lit(1.0) / F.col("total")
    return scored.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        _q(share, 6).alias("share"),
        _q(benford, 6).alias("benford_expected"),
        _q(share - benford, 6).alias("deviation"),
    )


# --------------------------------------------------------------------------
# Decile lift table
# --------------------------------------------------------------------------


@query(
    "decile_lift_customers",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey),
    tiled AS (
      SELECT cents, ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
      FROM spend),
    agg AS (
      SELECT decile, count(*) AS n_customers, sum(cents) AS decile_cents
      FROM tiled GROUP BY decile),
    tot AS (SELECT sum(decile_cents) AS total FROM agg)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(decile_cents AS BIGINT) AS decile_cents,
           floor((decile_cents * 1.0 / total) * 1e6) / 1e6 AS revenue_share,
           floor((sum(decile_cents) OVER (ORDER BY decile) * 1.0 / total) * 1e6)
             / 1e6 AS cum_share
    FROM agg CROSS JOIN tot
    ORDER BY decile
    """,
)
def decile_lift_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table over customer spend — the standard
    model-scoring diagnostic: customers ranked by total order value,
    split into ntile(10) deciles, each reporting its revenue share and
    the cumulative share ("top 10% of customers hold X% of revenue").

    The global sort runs on the per-customer aggregate (one row per
    customer), never on facts; everything downstream is a 10-row
    rollup. Integer-cents sums keep the shares exact; the (spend desc,
    custkey) total order makes ntile deterministic in both engines."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    tiled = spend.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy(F.desc("cents"), F.asc("o_custkey")))
        .alias("decile"),
    )
    agg = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    tot = agg.agg(F.sum("decile_cents").alias("total"))
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.join(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "decile_cents",
            _q(F.col("decile_cents") * F.lit(1.0) / F.col("total"), 6).alias(
                "revenue_share"
            ),
            _q(
                F.sum("decile_cents").over(wcum) * F.lit(1.0) / F.col("total"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# MAD robust outliers
# --------------------------------------------------------------------------

#: modified-z cutoff: |x − med| > 3 robust sigmas (MAD·1.4826)
_MAD_K = "3.0 * 1.4826"


@query(
    "mad_outliers_order_price",
    oracle=f"""
    WITH pts AS (
      SELECT o_orderpriority AS pri,
             CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders),
    med AS (SELECT pri, quantile_cont(cents, 0.5) AS med FROM pts GROUP BY pri),
    dev AS (
      SELECT p.pri, p.cents, m.med, abs(p.cents - m.med) AS dv
      FROM pts p JOIN med m ON p.pri = m.pri),
    mad AS (SELECT pri, quantile_cont(dv, 0.5) AS mad FROM dev GROUP BY pri)
    SELECT d.pri,
           CAST(count(*) AS BIGINT) AS n,
           floor(max(d.med) * 1e2) / 1e2 AS median_cents,
           floor(max(a.mad) * 1e2) / 1e2 AS mad_cents,
           CAST(count(*) FILTER (WHERE d.dv > {_MAD_K} * a.mad) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad a ON d.pri = a.pri
    GROUP BY d.pri
    """,
)
def mad_outliers_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per order priority: median /
    median-absolute-deviation (the estimator that, unlike z-scores,
    doesn't let the outliers inflate their own threshold), flagging
    rows beyond 3 robust sigmas (MAD × 1.4826).

    Exact interpolated medians over the integer-cents grid — every
    interpolated value lands on the half-cent grid, so the doubles are
    engine-identical and even the strict ``>`` cutoff comparison is
    hash-stable. Both medians come from
    :func:`~projet5_spark.operators.quantiles.grouped_exact_quantiles`
    (bit-identical to ``F.percentile`` without its per-group
    all-values buffer — bounded state at any fact size); the facts
    fold once to (pri, cents, count) and every later pass — both
    weighted medians and the outlier count — runs over that
    domain-bounded relation. At 100 TB the medians could also come
    from t-digest sketches attached the same way
    (quantile_sketch_verdict_prices shows the sketch certification)."""
    pts = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # r13 straight-line restructure: the old form ran the fact table
    # through THREE fact-scale passes (the median's fold, the MAD
    # pass's re-fold of pts⋈med, and the final aggregate over the same
    # join again), each quantile built as a separate broadcast subtree
    # re-running its upstream. Now: fold orders ONCE to (pri, cents,
    # c), attach the weighted median THROUGH the window pass
    # (attach_exact_quantiles — no join, no broadcast subquery), fold
    # deviations, attach the MAD the same way, and finish with one
    # aggregate that reuses the MAD window's partitioning. Two
    # exchanges total (fold + window-by-pri), zero joins, one
    # sequential pipeline — vs 7 exchanges / 3 broadcast builds.
    from ..operators.quantiles import attach_exact_quantiles

    folded = pts.groupBy("pri", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dev = attach_exact_quantiles(
        folded, ["pri"], "cents", {"med": 0.5}, weight_col="c"
    ).select(
        "pri",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("dv"),
        "c",
    )
    # deviation fold: many cents collapse onto one |cents − med|; the
    # MAD attach then windows over the deviation domain. Same pri
    # partitioning as the median window — no new exchange.
    dev_folded = dev.groupBy("pri", "med", "dv").agg(
        F.sum("c").cast("long").alias("c")
    )
    scored = attach_exact_quantiles(
        dev_folded, ["pri"], "dv", {"mad": 0.5}, weight_col="c"
    )
    k = F.expr(_MAD_K)
    return scored.groupBy("pri").agg(
        F.sum("c").cast("long").alias("n"),
        _q(F.max("med"), 2).alias("median_cents"),
        _q(F.max("mad"), 2).alias("mad_cents"),
        F.sum(
            F.when(F.col("dv") > k * F.col("mad"), F.col("c")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_outliers"),
    )
