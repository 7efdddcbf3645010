"""Batch 28 operator battery — error-tolerant arithmetic and
rule-based document quality filtering.

- **try_* arithmetic** (SURVEY.md §2.5 scalar surface): under ANSI mode
  (engine default since Spark 4) a bad cast, a division by zero, or a
  BIGINT overflow ABORTS the job — correct for billing, fatal for a
  100 TB ingest where one malformed row of a trillion would kill hour
  ten of the run. ``try_cast`` / ``try_divide`` / ``try_add`` are the
  per-expression opt-outs that turn those rows into NULLs to quarantine
  instead; this query certifies their null-on-error semantics against
  CASE-guarded oracle arms.
- **Gopher-style quality rules** (Rae et al. 2021, §A1.1): the
  rule-based document filter every LLM ingest runs before training —
  word-count bounds, mean-word-length bounds, symbol-ratio cap,
  alphabetic-word floor. All four rules are pure Catalyst expressions
  over the token array (map-only, full codegen, no shuffle until the
  per-source rollup), and every threshold compares as EXACT integer
  arithmetic (``chars ≥ 3·words`` instead of a float mean), so the
  oracle match is tolerance-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# try_* arithmetic: null-on-error semantics under ANSI
# --------------------------------------------------------------------------

_NEAR_MAX = 9_223_372_036_854_775_800  # BIGINT max - 7


@query(
    "try_arithmetic_null_on_error",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN TRY_CAST(o_orderpriority AS BIGINT) IS NULL
                           THEN 1 END) AS BIGINT) AS priority_bad_casts,
           CAST(sum(TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT))
                AS BIGINT) AS priority_digit_sum,
           CAST(count(CASE WHEN TRY_CAST(substring(o_orderpriority, 1, 1)
                                         AS BIGINT) = 1
                           THEN 1 END) AS BIGINT) AS div0_nulls,
           CAST(count(CASE WHEN o_orderkey <= 7 THEN 1 END) AS BIGINT)
             AS add_ovf_survivors,
           CAST(min(CASE WHEN o_orderkey <= 7
                         THEN o_orderkey + {_NEAR_MAX} END) AS BIGINT)
             AS min_surviving_sum
    FROM orders
    """,
)
def try_arithmetic_null_on_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant scalar arithmetic: ``try_cast`` on a non-numeric
    string (every '1-URGENT'-style priority fails whole, its leading
    digit succeeds), ``try_divide`` by ``digit − 1`` (zero exactly for
    the URGENT class → NULL, never an ANSI abort), and ``try_add``
    pushed against BIGINT max so only the smallest order keys survive
    the overflow probe. The oracle mirrors each with CASE-guarded
    exact arithmetic — DuckDB's lazy CASE keeps its own BIGINT
    addition from overflowing — so the null-on-error contract is
    value-certified, not just run-certified.

    Scale note: the try_* expressions knock this stage OUT of
    whole-stage codegen (no WholeStageCodegen node in the plan —
    verified; the projection runs interpreted at ~0.5 µs/row). Fine
    for a quarantine audit; for a 100 TB hot path prefer pre-filtering
    with a cheap codegen-able predicate (rlike / CASE) and reserving
    try_* for the residue."""
    # spread: the try_* projection runs INTERPRETED (see scale note),
    # so on the single-split fixture scan it is one core doing
    # ~0.5 µs/row × 1.5M rows — the llm._spread widen-only-when-heavy
    # rule applies (a real multi-split input never needs this)
    o = _t(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    digit = F.expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)")
    probed = o.select(
        F.expr("try_cast(o_orderpriority AS BIGINT)").alias("prio_cast"),
        digit.alias("prio_digit"),
        F.try_divide(F.col("o_totalprice"), (digit - 1).cast("double")).alias("div0"),
        F.try_add(F.col("o_orderkey"), F.lit(_NEAR_MAX)).alias("near_max_sum"),
    )
    return probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(F.when(F.col("prio_cast").isNull(), 1))
        .cast("long")
        .alias("priority_bad_casts"),
        F.sum("prio_digit").cast("long").alias("priority_digit_sum"),
        F.count(F.when(F.col("div0").isNull(), 1)).cast("long").alias("div0_nulls"),
        F.count("near_max_sum").cast("long").alias("add_ovf_survivors"),
        F.min("near_max_sum").cast("long").alias("min_surviving_sum"),
    )


# --------------------------------------------------------------------------
# Gopher-style rule-based quality filter
# --------------------------------------------------------------------------


@query(
    "gopher_quality_rules_docs",
    oracle="""
    WITH d AS (
      SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS w,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS sym_chars
      FROM documents),
    m AS (
      SELECT source,
             len(w) AS n_words,
             CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                  AS BIGINT) AS word_chars,
             len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
               AS alpha_words,
             n_chars, sym_chars
      FROM d)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN n_words BETWEEN 10 AND 5000 THEN 1 END)
                AS BIGINT) AS pass_word_count,
           CAST(count(CASE WHEN word_chars >= 3 * n_words
                            AND word_chars <= 10 * n_words THEN 1 END)
                AS BIGINT) AS pass_mean_word_len,
           CAST(count(CASE WHEN sym_chars * 10 <= n_chars THEN 1 END)
                AS BIGINT) AS pass_symbol_ratio,
           CAST(count(CASE WHEN alpha_words * 10 >= 8 * n_words THEN 1 END)
                AS BIGINT) AS pass_alpha_words,
           CAST(count(CASE WHEN n_words BETWEEN 10 AND 5000
                            AND word_chars >= 3 * n_words
                            AND word_chars <= 10 * n_words
                            AND sym_chars * 10 <= n_chars
                            AND alpha_words * 10 >= 8 * n_words
                           THEN 1 END) AS BIGINT) AS pass_all
    FROM m GROUP BY source ORDER BY source
    """,
)
def gopher_quality_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter per source: word-count in [10, 5000],
    mean word length in [3, 10] chars, symbol ratio ≤ 10% of chars,
    ≥ 80% of words containing a letter — the pre-training quality gate,
    reported as per-rule pass counts so a curation run sees WHICH rule
    is rejecting a source. Every rule is an integer comparison
    (``3·words ≤ chars ≤ 10·words`` instead of a float mean), so the
    filter is bit-deterministic on any engine; the whole plan is one
    map pass plus a source-level rollup."""
    docs = _t(spark, sf_dir, "documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select(
        "source",
        F.size(w).cast("long").alias("n_words"),
        F.aggregate(
            w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
        ).alias("word_chars"),
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long").alias(
            "alpha_words"
        ),
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
        )
        .cast("long")
        .alias("sym_chars"),
    )
    r_wc = F.col("n_words").between(10, 5000)
    r_mwl = (F.col("word_chars") >= 3 * F.col("n_words")) & (
        F.col("word_chars") <= 10 * F.col("n_words")
    )
    r_sym = F.col("sym_chars") * 10 <= F.col("n_chars")
    r_alpha = F.col("alpha_words") * 10 >= 8 * F.col("n_words")
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(r_wc, 1)).cast("long").alias("pass_word_count"),
            F.count(F.when(r_mwl, 1)).cast("long").alias("pass_mean_word_len"),
            F.count(F.when(r_sym, 1)).cast("long").alias("pass_symbol_ratio"),
            F.count(F.when(r_alpha, 1)).cast("long").alias("pass_alpha_words"),
            F.count(F.when(r_wc & r_mwl & r_sym & r_alpha, 1))
            .cast("long")
            .alias("pass_all"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Multiset EXCEPT ALL (bag difference)
# --------------------------------------------------------------------------


@query(
    "set_except_all_multiplicity",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics: each value keeps
    ``max(0, count_left − count_right)`` occurrences) — the
    per-occurrence counterpart of ``set_except_custkeys``'s distinct
    subtract, and the semantics a ledger reconciliation actually wants
    (a customer with 5 'F' orders and 2 'O' orders survives 3 times,
    not once or zero). Spark plans ``exceptAll`` as a
    count-and-replicate aggregate — one shuffle on the value, no
    row-pairing join — which is exactly the 100 TB-safe shape."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)
