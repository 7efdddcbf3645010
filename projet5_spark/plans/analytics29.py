"""Batch 31 operator battery — dedup calibration and retention caps.

- **near-dup threshold sensitivity curve** — before picking the dedup
  threshold, a pipeline looks at WHERE the pairwise-similarity mass
  sits: a clean corpus shows a wide empty band between background
  noise and true duplicates (the fixture: noise ≤ 0.07, planted pairs
  ≥ 0.9 — so 0.5 is safe with a 0.4-wide margin). This query emits
  that histogram from the exact pair relation.
- **per-source quality retention cap** — the RefinedWeb-style domain
  cap: keep at most K highest-quality docs per source so no single
  domain dominates the mixture, reporting the kept/dropped token mass
  per source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Near-dup threshold sensitivity curve
# --------------------------------------------------------------------------

_CURVE_FLOOR = 0.02  # ignore the sub-noise tail (pairs sharing 1 shingle)
_CURVE_MAX_DOCS = 20_000  # exact-curve corpus bound; above it, sample

def _curve_slice_spark():
    """Digest-slice predicate, ~1/16 of docs: keep when the leading hex
    char of ``sha256('curve:' || doc_id)`` is '0'. sha-256 (NOT
    xxhash64) so the ORACLE replays the identical slice — DuckDB has no
    xxhash64, and an engine-private slice hash means a larger fixture
    would hash-mismatch by construction the moment sampling kicks in.
    (A function, not a module constant: Column construction needs a
    live SparkContext.)"""
    return (
        F.substring(
            F.sha2(
                F.concat(F.lit("curve:"), F.col("doc_id").cast("string")), 256
            ),
            1,
            1,
        )
        == "0"
    )


_CURVE_SLICE_DUCK = (
    "substr(sha256('curve:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0'"
)


def curve_corpus(docs: DataFrame, max_docs: int = _CURVE_MAX_DOCS):
    """Enforce the calibration-sampling posture: the exact pairwise
    curve is quadratic in duplicate mass, so above ``max_docs`` the
    corpus is cut to a DETERMINISTIC digest slice (keep doc when
    ``sha256('curve:' || doc_id)`` starts with hex '0' — ~1/16) before
    any pair is generated — content-addressed, so reruns and engines
    agree on the slice, and duplicate clusters survive proportionally
    (slicing is per-doc uniform, Jaccard mass shape converges fast).
    The sha-256 grid keeps the slice ENGINE-REPLAYABLE: the DuckDB
    oracle applies the byte-identical predicate under the same corpus-
    count condition, so the entry certifies above the bound too.

    Returns ``(docs', sampled)``. The size check is ONE bounded count
    at plan-build time (the verify_pairs_dense max_cells pattern at
    llm.py — guard BEFORE the quadratic object exists, not after);
    digest prefix 'curve:' is disjoint from the minhash/simhash seeds.
    """
    n = docs.agg(F.count(F.lit(1)).alias("n")).head()["n"]
    if n <= max_docs:
        return docs, False
    return docs.where(_curve_slice_spark()), True


@query(
    "near_dup_threshold_curve",
    oracle=f"""
    WITH corpus AS (
      -- replay of curve_corpus: the same count condition and the same
      -- sha-256 digest slice, so plan and oracle agree at ANY fixture
      -- size (below the bound the predicate never applies)
      SELECT doc_id, text FROM documents
      WHERE (SELECT count(*) FROM documents) <= {_CURVE_MAX_DOCS}
         OR {_CURVE_SLICE_DUCK}),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               FOR i IN range(1, greatest(len(toks)-1, 1))]) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus) t1) t2),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    j AS (SELECT common * 1.0 / (s1.n + s2.n - common) AS jac
          FROM pairs JOIN sizes s1 ON da = s1.doc_id
                     JOIN sizes s2 ON db = s2.doc_id)
    SELECT floor(jac * 20) / 20 AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(min(jac) * 1e4) / 1e4 AS min_jaccard,
           floor(max(jac) * 1e4) / 1e4 AS max_jaccard
    FROM j WHERE jac >= {_CURVE_FLOOR}
    GROUP BY 1
    """,
)
def near_dup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-Jaccard mass histogram (0.05-wide buckets above the
    sub-noise floor) — the calibration artifact that justifies a dedup
    threshold: the empty band between the background-noise buckets and
    the duplicate buckets IS the safe threshold range.

    Reuses the DF-capped exact pair generator at the low floor, so
    every background pair's true Jaccard is reconstructed (candidate
    completeness proof at llm.ngram_near_dup_pairs). Scale note: a
    0.02-floor exact curve is a CALIBRATION pass — and that posture is
    ENFORCED, not documented: :func:`curve_corpus` cuts any corpus
    above {_CURVE_MAX_DOCS} docs to a deterministic digest slice
    BEFORE pair generation, so the quadratic object can never form at
    corpus scale (the curve's shape converges fast under uniform
    per-doc sampling); the production dedup then runs banded at the
    chosen threshold. The slice is sha-256-addressed and the oracle
    replays it under the same corpus-count condition, so certification
    holds on EITHER side of the sampling bound. The bucket floor is
    computed from the identical rational Jaccard in both engines, so
    bucketing is bit-stable."""
    from .llm import ngram_near_dup_pairs

    docs, _sampled = curve_corpus(_t(spark, sf_dir, "documents"))
    pairs = ngram_near_dup_pairs(spark, docs, threshold=_CURVE_FLOOR)
    bucket = F.floor(F.col("jaccard") * 20) / 20
    return (
        pairs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.floor(F.min("jaccard") * 1e4) / 1e4).alias("min_jaccard"),
            (F.floor(F.max("jaccard") * 1e4) / 1e4).alias("max_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Per-source quality retention cap
# --------------------------------------------------------------------------

_CAP_K = 15  # max docs retained per source


@query(
    "source_quality_cap_topk",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(floor((0.5 * least(n_chars, 500) / 500.0
                         + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                             t -> t IN ('the', 'a')))
                                             AS DOUBLE)
                                        / len(string_split(text, ' ')))) * 1e4)
                  AS BIGINT) AS q
      FROM documents),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY q DESC, doc_id) AS rn
      FROM scored)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN rn <= {_CAP_K} THEN 1 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= {_CAP_K} THEN n_tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN rn > {_CAP_K} THEN n_tokens ELSE 0 END)
                AS BIGINT) AS dropped_tokens,
           min(CASE WHEN rn <= {_CAP_K} THEN q END) AS min_kept_q
    FROM ranked GROUP BY source
    """,
)
def source_quality_cap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source retention cap: keep at most K highest-quality docs
    per source (quality ties broken by doc_id — total order), report
    kept/dropped token mass and the realized quality floor. The domain
    cap that stops one boilerplate-heavy crawl host from dominating
    the mixture, applied BEFORE mixture weighting.

    Shape: the integer-grid quality score is map-only; ONE window pass
    ranks each source's docs, and the rank feeds both the kept and the
    dropped aggregates — so no WindowGroupLimit prune applies (that
    optimization needs a ``rn <= K`` FILTER, which would discard the
    dropped-token ledger this query exists to report; a keep-only
    variant would compile to it, as window_top3_customers_per_nation
    does). Cost is one per-source sort + a sources-scale rollup."""
    from .llm import _STOPWORDS, _toks

    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / F.size(toks)
    )
    q = 0.5 * F.least(F.col("n_chars"), F.lit(500)) / 500.0 + 0.5 * (
        1.0 - stop_ratio
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.floor(q * 1e4).cast("long").alias("q"),
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    )
    ranked = scored.withColumn("rn", rn)
    kept = F.col("rn") <= _CAP_K
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
        F.sum(F.when(~kept, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("dropped_tokens"),
        F.min(F.when(kept, F.col("q"))).alias("min_kept_q"),
    )
