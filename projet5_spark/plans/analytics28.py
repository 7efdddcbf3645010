"""Batch 30 operator battery — corpus observability and the remaining
Spark-4 SQL surface.

- **monthly PSI drift monitor** — the time-sliced form of
  ``psi_population_stability``: every month's price distribution scored
  against a fixed reference epoch, the drift dashboard a production
  ingest watches (a one-shot PSI says "these two snapshots differ"; the
  monitor says WHEN the upstream changed).
- **span-level decontamination** — ``contamination_ngram_overlap``
  reports a RATE per eval doc; excising benchmark leakage from training
  text needs token-offset SPANS in the train docs. Gaps-and-islands
  over contaminated shingle positions.
- **Johnson-Lindenstrauss projection audit** — random-sign projection
  64→16 dims with the per-label distortion profile that decides whether
  the cheap projected index is safe to build.
- **SQL scalar UDFs** (Spark 4: ``CREATE FUNCTION … RETURNS … RETURN``)
  — reusable logic that stays INSIDE Catalyst (inlined, codegen'd,
  pushdown-transparent), the declarative answer to the Python-UDF
  anti-pattern exhibit.
- **parameterized SQL** — ``spark.sql(query, args=…)`` named-marker
  binding: injection-safe templating certified against the literal
  form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import gridsum, query


# --------------------------------------------------------------------------
# Monthly PSI drift monitor
# --------------------------------------------------------------------------

#: 8 fixed price brackets (62,500.00 each, cents grid) — a production
#: drift monitor bins against FIXED cutoffs calibrated once on the
#: reference epoch, so scoring is map-only at any scale (rank-based
#: deciles would re-sort the fact table every run).
_PSI_BIN_CENTS = 6_250_000
_PSI_NBINS = 8
_PSI_DRIFT_NANO = 200_000_000  # the standard PSI > 0.2 "action" line

_PSI_ORACLE = f"""
    WITH o AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS m,
             year(o_orderdate) AS y,
             least(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)
                   // {_PSI_BIN_CENTS}, {_PSI_NBINS - 1}) AS bin
      FROM orders),
    ref AS (SELECT bin, count(*) AS r FROM o WHERE y = 1995 GROUP BY bin),
    reft AS (SELECT sum(r) AS nref FROM ref),
    cur AS (SELECT m, bin, count(*) AS c FROM o WHERE y >= 1996 GROUP BY m, bin),
    curt AS (SELECT m, sum(c) AS nm FROM cur GROUP BY m),
    terms AS (
      SELECT cur.m, curt.nm,
             CAST(cur.c * reft.nref AS BIGINT) AS x,
             CAST(ref.r * curt.nm AS BIGINT) AS y,
             (CAST(cur.c AS DOUBLE) / curt.nm
              - CAST(ref.r AS DOUBLE) / reft.nref) AS pmq
      FROM cur JOIN ref USING (bin) JOIN curt USING (m) CROSS JOIN reft)
    SELECT m AS month,
           CAST(max(nm) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_bins_used,
           CAST(sum(CAST(floor(pmq * ({ln_det_int_sql('x')}
                                      - {ln_det_int_sql('y')}) * 1e9)
                         AS BIGINT)) AS BIGINT) AS psi_nano,
           CAST(sum(CAST(floor(pmq * ({ln_det_int_sql('x')}
                                      - {ln_det_int_sql('y')}) * 1e9)
                         AS BIGINT)) >= {_PSI_DRIFT_NANO} AS BOOLEAN)
             AS drift_flag
    FROM terms GROUP BY m
"""


@query("psi_monthly_drift_monitor", oracle=_PSI_ORACLE)
def psi_monthly_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month PSI of the order-price distribution against the fixed
    1995 reference epoch — the rolling drift dashboard behind "did the
    upstream change this month?". PSI ≥ 0.2 raises the drift flag.

    Shape: map-only fixed-bracket binning (never rank-based cutoffs —
    those re-sort the facts each run), one (month, bin) aggregate, the
    ≤8-row reference table broadcast back, month totals via a window
    over the months×bins relation. Determinism: each bin's PSI term
    rides the deterministic integer log (functions/detmath — ln of
    exact BIGINT cross-products) and is floored to a nano-int BEFORE
    the per-month sum, so the sum is integer and order-independent
    (the woe_iv per-term doctrine extended to a summed statistic).
    Bins empty in the month or the reference are excluded from that
    month's sum (standard PSI practice; n_bins_used reports how many
    contributed)."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        F.year("o_orderdate").alias("y"),
        F.least(
            F.floor(
                F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")
                / _PSI_BIN_CENTS
            ),
            F.lit(_PSI_NBINS - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    ref = (
        o.where(F.col("y") == 1995)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("r"))
        .withColumn("nref", F.sum("r").over(Window.partitionBy()))
    )
    cur = (
        o.where(F.col("y") >= 1996)
        .groupBy("m", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("nm", F.sum("c").over(Window.partitionBy("m")))
    )
    terms = (
        cur.join(F.broadcast(ref), "bin")
        .withColumn("x", (F.col("c") * F.col("nref")).cast("long"))
        .withColumn("y", (F.col("r") * F.col("nm")).cast("long"))
        .withColumn(
            "pmq",
            F.col("c").cast("double") / F.col("nm")
            - F.col("r").cast("double") / F.col("nref"),
        )
        .withColumn(
            "term_nano",
            F.floor(
                F.col("pmq") * (ln_det_int("x") - ln_det_int("y")) * F.lit(1e9)
            ).cast("long"),
        )
    )
    return terms.groupBy(F.col("m").alias("month")).agg(
        F.max("nm").cast("long").alias("n_orders"),
        F.count(F.lit(1)).alias("n_bins_used"),
        F.sum("term_nano").cast("long").alias("psi_nano"),
        (F.sum("term_nano") >= _PSI_DRIFT_NANO).alias("drift_flag"),
    )


# --------------------------------------------------------------------------
# Span-level decontamination
# --------------------------------------------------------------------------

_EVAL_MAX_DOC = 10  # doc_id < 10 is the benchmark set (contamination twin)


@query(
    "decontamination_span_offsets",
    oracle=f"""
    WITH sl AS (
      SELECT doc_id,
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              FOR i IN range(1, greatest(len(toks)-1, 1))] AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t),
    sh AS (
      SELECT doc_id, generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS s
      FROM sl),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id < {_EVAL_MAX_DOC}),
    hits AS (
      SELECT t.doc_id, t.pos,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS rn
      FROM sh t JOIN eval_sh e ON t.s = e.s
      WHERE t.doc_id >= {_EVAL_MAX_DOC})
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start_tok,
           CAST(max(pos) + 2 AS BIGINT) AS span_end_tok,
           CAST(count(*) AS BIGINT) AS n_shingles
    FROM hits GROUP BY doc_id, pos - rn
    """,
)
def decontamination_span_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset spans of benchmark leakage inside train docs: every
    maximal run of consecutive 3-gram positions whose shingle appears
    in the eval set (doc_id < 10, the contamination_ngram_overlap
    twin). A curation pipeline EXCISES these spans instead of dropping
    whole documents — the rate query says how much leaked; this one
    says exactly where.

    Shape: position-carrying shingles (posexplode + lead window — the
    shingle_rows doctrine), a broadcast LEFT-SEMI against the eval
    shingle set (benchmark sets are small by definition — broadcast is
    the honest 100 TB plan), then gaps-and-islands (pos − row_number)
    per doc to collapse hits into maximal spans. ``span_end_tok`` is
    exclusive-ish: the last covered token index is span_end_tok since
    a 3-gram at pos covers pos..pos+2."""
    from .llm import _ATTACH_SHJ_MIN_DOCS, scaled_wide

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    if n_docs >= _ATTACH_SHJ_MIN_DOCS:
        # the shingle window sorts the full token mass per doc_id
        # partition — at x200 docs the one-per-core width spilled
        # 2.7 GB in that single stage; mass-scaled width sorts it
        # spill-free at any mult
        tok = tok.repartition(scaled_wide(spark, n_docs), "doc_id")
    w = Window.partitionBy("doc_id").orderBy("pos")
    t2, t3 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    sh = tok.select(
        "doc_id",
        "pos",
        F.when(t3.isNotNull(), F.concat_ws(" ", F.col("tok"), t2, t3)).alias("s"),
    ).where(F.col("s").isNotNull())
    eval_sh = (
        sh.where(F.col("doc_id") < _EVAL_MAX_DOC).select("s").distinct()
    )
    hits = (
        sh.where(F.col("doc_id") >= _EVAL_MAX_DOC)
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id", "pos")
    )
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
    islands = hits.withColumn("grp", F.col("pos") - rn)
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start_tok"),
            (F.max("pos") + 2).cast("long").alias("span_end_tok"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .drop("grp")
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# --------------------------------------------------------------------------

_JL_K = 16  # target dims (from 64)


@query(
    "jl_projection_distortion",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS v
      FROM embeddings),
    m AS (
      SELECT i.i, j.j,
             CASE WHEN substr(sha256('jl:' || CAST(i.i AS VARCHAR) || ':'
                                     || CAST(j.j AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(range(64)) AS i) i
      CROSS JOIN (SELECT unnest(range({_JL_K})) AS j) j),
    y AS (
      SELECT x.vec_id, x.label, m.j, CAST(sum(x.v * m.sgn) AS BIGINT) AS yj
      FROM x JOIN m ON x.i = m.i GROUP BY 1, 2, 3),
    ynorm AS (
      SELECT vec_id, label, CAST(sum(yj * yj) AS BIGINT) AS ysq
      FROM y GROUP BY 1, 2),
    vnorm AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS vsq FROM x GROUP BY 1),
    ratios AS (
      SELECT label,
             CAST(floor(sqrt(CAST(ysq AS DOUBLE) / {_JL_K}.0)
                        / sqrt(CAST(vsq AS DOUBLE)) * 1e6) AS BIGINT) AS r_micro
      FROM ynorm JOIN vnorm USING (vec_id))
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(r_micro) AS min_ratio_micro,
           max(r_micro) AS max_ratio_micro,
           CAST(sum(r_micro) // count(*) AS BIGINT) AS mean_ratio_micro
    FROM ratios GROUP BY label
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-sign (Achlioptas) Johnson-Lindenstrauss projection
    64→16 dims with the per-label norm-distortion profile
    ``‖y‖/(√k·‖v‖)`` — the audit that decides whether a cheap
    projected ANN index preserves enough geometry to be safe. The
    sign matrix is CONTENT-ADDRESSED (``sha256('jl:'||i||':'||j)``
    first hex nibble), so any engine rebuilds the identical projection
    — no stored matrix, no RNG (the doc_stratified_hash_split doctrine
    applied to linear algebra).

    Shape: the 64×16 sign matrix is d·k rows — broadcast; the exploded
    vectors stream through one hash aggregate per (vec, j) — O(n·d·k)
    work, the honest cost of a dense projection — then two norm
    aggregates and a label rollup. All dot products and norms are
    exact BIGINTs on the micro-int grid; the two sqrt ops are
    structurally identical in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "ev")
    ).select(
        "vec_id",
        "label",
        "i",
        F.floor(F.col("ev").cast("double") * 1e6).cast("long").alias("v"),
    )
    m = (
        spark.range(64)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            spark.range(_JL_K).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "i",
            "j",
            F.when(
                F.substring(
                    F.sha2(
                        F.concat(
                            F.lit("jl:"),
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("j").cast("string"),
                        ),
                        256,
                    ),
                    1,
                    1,
                )
                < "8",
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    y = (
        x.join(F.broadcast(m), "i")
        .groupBy("vec_id", "label", "j")
        .agg(F.sum(F.col("v") * F.col("sgn")).alias("yj"))
    )
    ynorm = y.groupBy("vec_id", "label").agg(
        F.sum(F.col("yj") * F.col("yj")).alias("ysq")
    )
    vnorm = x.groupBy("vec_id").agg(F.sum(F.col("v") * F.col("v")).alias("vsq"))
    r_micro = F.floor(
        F.sqrt(F.col("ysq").cast("double") / float(_JL_K))
        / F.sqrt(F.col("vsq").cast("double"))
        * 1e6
    ).cast("long")
    return (
        ynorm.join(vnorm, "vec_id")
        .select(F.col("label").cast("long").alias("label"), r_micro.alias("r"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("r").alias("min_ratio_micro"),
            F.max("r").alias("max_ratio_micro"),
            F.expr("CAST(sum(r) div count(*) AS BIGINT)").alias(
                "mean_ratio_micro"
            ),
        )
    )


# --------------------------------------------------------------------------
# SQL scalar UDFs (Spark 4 CREATE FUNCTION ... RETURN)
# --------------------------------------------------------------------------


@query(
    "sql_udf_margin_bands",
    oracle="""
    SELECT CASE WHEN l_extendedprice * (1.0 - l_discount) < 20000.0 THEN 'low'
                WHEN l_extendedprice * (1.0 - l_discount) < 45000.0 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1e4 + 0.5)
                    AS BIGINT)) / 1e4 AS revenue
    FROM lineitem GROUP BY 1
    """,
)
def sql_udf_margin_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDFs (Spark 4 ``CREATE FUNCTION … RETURNS … RETURN``):
    a ``disc_price`` helper and a ``price_band`` classifier declared
    ONCE in SQL and reused — the declarative alternative to the Python
    UDF anti-pattern. Catalyst INLINES the function body into the
    plan, so codegen, pushdown, and partial aggregation all still
    apply — the banding query plans identically to writing the CASE
    inline (the oracle IS the inlined form, certifying the inlining
    semantics, not just the syntax). ``CREATE OR REPLACE`` keeps the
    bench protocol's repeated invocations idempotent."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_udf_src")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p < 20000.0 THEN 'low' "
        "WHEN p < 45000.0 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT price_band(disc_price(l_extendedprice, l_discount)) AS band,
               count(*) AS n_items,
               sum(CAST(floor(disc_price(l_extendedprice, l_discount) * 1e4
                              + 0.5d) AS BIGINT)) / 1e4 AS revenue
        FROM li_udf_src GROUP BY 1
        """
    )


# --------------------------------------------------------------------------
# Parameterized SQL (named markers)
# --------------------------------------------------------------------------

_PARAM_LO = "1999-06-01 00:00:00"
_PARAM_MIN_PRICE = 150_000.0


@query(
    "parameterized_sql_orders",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) / 1e2
             AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_PARAM_LO}'
      AND o_totalprice > {_PARAM_MIN_PRICE}
    GROUP BY 1, 2
    """,
)
def parameterized_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named markers): the filter bounds
    arrive via ``spark.sql(query, args=…)`` binding — injection-safe
    templating for user-supplied thresholds; the oracle runs the same
    query with the values INLINED as literals, certifying that bound
    parameters behave exactly like literals (including predicate
    pushdown — markers are folded before optimization, so the scan
    still sees a constant filter)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_param_src")
    return spark.sql(
        """
        SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
               o_orderpriority,
               count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 1e2 + 0.5d) AS BIGINT)) / 1e2
                 AS revenue
        FROM orders_param_src
        WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
          AND o_totalprice > :min_price
        GROUP BY 1, 2
        """,
        args={"lo": _PARAM_LO, "min_price": _PARAM_MIN_PRICE},
    )
