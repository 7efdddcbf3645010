"""Batch 24 operator battery — ML feature preparation: scaler-fit
parameters, inverse-frequency class weights, cross-split leakage
check, and smoothed target encoding.

Scale design notes:
- **Scaler params** is the *fit* half of min-max / robust scaling: one
  explode+aggregate pass folds the embedding corpus to O(dims) rows of
  exact gridded statistics (the transform half is then a broadcast-map
  at any scale).
- **Class weights** fold to label cardinality before any arithmetic;
  the inverse-frequency ratio is one floored division of exact counts.
- **Split leakage** re-derives the content-addressed hash split
  (``doc_stratified_hash_split``'s assignment function — pure, so the
  two queries cannot disagree) and joins train-vs-holdout on
  ``sha2(text)`` digests: the shuffle carries 32-byte keys, never
  bodies, and a non-empty result is exactly the leak a pretraining
  gate must block (the fixtures' planted duplicates guarantee the
  audit path is exercised).
- **Target encoding** is two aggregates (global prior + per-category
  moments) and a broadcast of the category table; the m-estimate
  smoothing runs on exact integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query
from .splits import _SPLIT_CUT


# --------------------------------------------------------------------------
# Feature-scaler fit parameters over embedding dimensions
# --------------------------------------------------------------------------


@query(
    "feature_scaler_params_embeddings",
    oracle="""
    WITH x AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings)
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(floor(min(v) * 1e6) AS BIGINT) AS min_micro,
           CAST(floor(max(v) * 1e6) AS BIGINT) AS max_micro,
           CAST(floor(quantile_cont(v, 0.5) * 1e6) AS BIGINT) AS p50_micro,
           CAST(floor((quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) * 1e6)
                AS BIGINT) AS iqr_micro
    FROM x GROUP BY dim ORDER BY dim
    """,
)
def feature_scaler_params_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIT stage of min-max and robust (median/IQR) feature
    scaling, per embedding dimension: min, max, median, and
    interquartile range — the parameter table a training pipeline
    persists and broadcasts into the transform map.

    Exact interpolated quantiles (type-7, the F.percentile /
    quantile_cont convention) — but NOT via ``F.percentile``: that
    aggregate buffers EVERY value of a group in one in-memory
    ObjectHashAggregate buffer, so per-dim state grows with the corpus
    (measured: 8.1 s at 40k vectors → 90.1 s at 200k in the x100
    embeddings stress, and an eventual OOM at real scale — 64 dims ×
    corpus/64 doubles each in single JVM buffers). Instead the five
    order statistics (min and max are just q=0 and q=1) come from one
    :func:`~projet5_spark.operators.quantiles.grouped_exact_quantiles`
    pass — distinct-value fold, spillable per-dim cumulative window,
    rank-bracket pick with Spark's own type-7 interpolation — so the
    result is bit-identical to ``F.percentile`` with state bounded at
    any corpus size. Values are float32 components
    cast to double identically in both engines, floored to micro AFTER
    the interpolation (the sketch swap for the approx-at-scale variant
    is certified by ``quantile_sketch_verdict_prices``)."""
    from ..operators.quantiles import grouped_exact_quantiles

    x = (
        _t(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("p", "vf"))
        .select(
            (F.col("p") + 1).cast("long").alias("dim"),
            F.col("vf").cast("double").alias("v"),
        )
    )
    qt = grouped_exact_quantiles(
        x,
        ["dim"],
        "v",
        {"mn": 0.0, "q25": 0.25, "q50": 0.5, "q75": 0.75, "mx": 1.0},
    )
    return qt.select(
        "dim",
        F.floor(F.col("mn") * 1e6).cast("long").alias("min_micro"),
        F.floor(F.col("mx") * 1e6).cast("long").alias("max_micro"),
        F.floor(F.col("q50") * 1e6).cast("long").alias("p50_micro"),
        F.floor((F.col("q75") - F.col("q25")) * 1e6)
        .cast("long")
        .alias("iqr_micro"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# Inverse-frequency class weights
# --------------------------------------------------------------------------


@query(
    "class_weights_inverse_freq",
    oracle="""
    WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings
               GROUP BY label),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS k FROM c)
    SELECT CAST(label AS BIGINT) AS label, n,
           CAST(floor(CAST(tot AS DOUBLE) * 1e6 / (k * n)) AS BIGINT)
             AS weight_micro
    FROM c CROSS JOIN t ORDER BY label
    """,
)
def class_weights_inverse_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class weights (sklearn's ``class_weight='balanced'``
    formula: ``total / (k·count)``) over the embedding labels — the
    reweighting table an imbalanced-training run broadcasts into its
    loss.

    Folds to label cardinality before any arithmetic; the weight is a
    single floored division of exact integer counts, so a class with
    half the average frequency gets weight ≈ 2."""
    c = (
        _t(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = c.agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        c.join(F.broadcast(t))
        .select(
            F.col("label").cast("long").alias("label"),
            "n",
            F.floor(F.col("tot").cast("double") * 1e6 / (F.col("k") * F.col("n")))
            .cast("long")
            .alias("weight_micro"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Cross-split exact-duplicate leakage check
# --------------------------------------------------------------------------


@query(
    "split_leakage_exact_dups",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 3),
    assigned AS (
      SELECT doc_id, sha256(text) AS digest,
             CASE WHEN substring(sha256('split:' || CAST(doc_id AS VARCHAR)),
                                 1, 2) < '{_SPLIT_CUT}'
                  THEN 'train' ELSE 'holdout' END AS split
      FROM corpus),
    tr AS (SELECT DISTINCT digest FROM assigned WHERE split = 'train'),
    ho AS (SELECT doc_id, digest FROM assigned WHERE split = 'holdout')
    SELECT CAST(ho.doc_id AS BIGINT) AS holdout_doc_id, ho.digest
    FROM ho JOIN tr ON ho.digest = tr.digest
    ORDER BY holdout_doc_id
    """,
)
def split_leakage_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→holdout leakage check: holdout documents whose EXACT text
    (by sha-256 digest) also appears in the training split — the gate a
    pretraining pipeline runs after splitting, because a hash split is
    leak-free over doc_ids but not over duplicated CONTENT. Exact
    duplicates are planted deterministically (every doc_id ≡ 3 mod 50
    re-enters the corpus under a new id, as a re-crawl would), so the
    audit path is exercised at every fixture scale, not vacuously
    green.

    The split assignment re-derives ``doc_stratified_hash_split``'s
    content-addressed function (pure — the two queries cannot drift),
    and the cross-split join carries 32-byte digests, never bodies:
    the ``doc_exact_dedup`` shuffle shape applied across the split
    boundary. The near-dup version of this gate is
    ``contamination_ngram_overlap``."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.where(F.col("doc_id") % 50 == 3).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    h = F.sha2(F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 256)
    assigned = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("digest"),
        F.when(F.substring(h, 1, 2) < _SPLIT_CUT, "train")
        .otherwise("holdout")
        .alias("split"),
    )
    tr = assigned.where(F.col("split") == "train").select("digest").distinct()
    ho = assigned.where(F.col("split") == "holdout").select("doc_id", "digest")
    return (
        ho.join(tr, "digest")
        .select(F.col("doc_id").cast("long").alias("holdout_doc_id"), "digest")
        .orderBy("holdout_doc_id")
    )


# --------------------------------------------------------------------------
# Smoothed target encoding (m-estimate)
# --------------------------------------------------------------------------

_TE_M = 100  # m-estimate prior strength


@query(
    "target_encoding_segment_smoothed",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(floor(o.o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
                 CAST(sum(cents) AS BIGINT) AS s_all FROM j),
    per AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM j GROUP BY segment)
    SELECT segment, n,
           CAST(floor((CAST(s AS DOUBLE)
                       + {_TE_M} * (CAST(s_all AS DOUBLE) / n_all))
                      / (n + {_TE_M})) AS BIGINT) AS encoded_cents
    FROM per CROSS JOIN g ORDER BY segment
    """,
)
def target_encoding_segment_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (m-estimate, m={m}): each market
    segment's mean order value shrunk toward the global mean by a
    prior worth {m} observations — the leakage-resistant categorical
    encoder feature pipelines use where one-hot explodes.

    Two aggregates (global prior + per-category moments over exact
    integer cents) and a broadcast of the category table; rare
    categories land near the prior, large ones near their own mean.
    The encode table then broadcasts into the transform map at any
    scale.""".format(m=_TE_M)
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    j = o.join(F.broadcast(c), "o_custkey").select("segment", "cents")
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("cents").cast("long").alias("s_all"),
    )
    per = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    return (
        per.join(F.broadcast(g))
        .select(
            "segment",
            "n",
            F.floor(
                (
                    F.col("s").cast("double")
                    + _TE_M * (F.col("s_all").cast("double") / F.col("n_all"))
                )
                / (F.col("n") + _TE_M)
            )
            .cast("long")
            .alias("encoded_cents"),
        )
        .orderBy("segment")
    )
