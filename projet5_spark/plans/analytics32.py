"""Batch 34 operator battery — round-11 depth addition.

- **winnowing-fingerprint near-dup pairs** — the pair-generation pass
  the winnowing family promised: MOSS-style document fingerprints
  (``win_fp_rows``, plans/analytics9.py) equi-joined into candidate
  pairs with a document-frequency cap on degenerate fingerprints and
  an exact shared-fingerprint overlap score. This is the third
  content-defined dedup signal family made pairwise (after minshingle
  Jaccard and SimHash hamming): winnowing's guarantee — any shared
  token run of ≥ w + k − 1 tokens yields a shared fingerprint — makes
  it the *plagiarism/quotation* detector of the set (localized copies
  that global-similarity measures dilute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .analytics9 import _WIN_W, _win_grams_duck, win_fp_rows
from .registry import query


# --------------------------------------------------------------------------
# Winnowing-fingerprint near-dup pairs
# --------------------------------------------------------------------------

#: fingerprints shared by more docs than this are dropped from pair
#: generation — a fingerprint this common is boilerplate (the DF-cap
#: doctrine of the ngram family: a hot key emits C(df, 2) pairs, so
#: the cap bounds the join at C(cap, 2) per fingerprint forever)
_WNP_DF_CAP = 200
#: report pairs sharing at least this many fingerprints. Two is the
#: deterministic floor winnowing guarantees for a shared run of
#: ~3w tokens (>= ceil((run - k + 1 - w + 1) / w) distinct interior
#: window minima), and it rejects single-fingerprint coincidences
#: from short incidental matches. NO overlap-coefficient floor: the
#: operator exists to surface quotation-length copies inside long,
#: globally-dissimilar documents — exactly the pairs a relative
#: floor would erase. overlap_micro is reported as a score.
_WNP_MIN_SHARED = 2


def _wnp_oracle() -> str:
    return f"""
    WITH g AS ({_win_grams_duck()}),
    w AS (
      SELECT doc_id, pos, h,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS wmin,
             count(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS wn
      FROM g),
    fp AS (SELECT DISTINCT doc_id, wmin AS h FROM w WHERE wn = {_WIN_W}),
    kept AS (
      SELECT fp.doc_id, fp.h FROM fp
      JOIN (SELECT h FROM fp GROUP BY h
            HAVING count(*) <= {_WNP_DF_CAP}) c ON fp.h = c.h),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM kept
           GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           sa.n AS fp_a, sb.n AS fp_b,
           CAST(floor(CAST(n_shared AS DOUBLE) * 1e6 / least(sa.n, sb.n))
                AS BIGINT) AS overlap_micro
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE n_shared >= {_WNP_MIN_SHARED}
    """


@query("winnowing_near_dup_pairs", oracle=_wnp_oracle())
def winnowing_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from winnowing fingerprints (the MOSS pair pass):
    docs sharing ≥ {min_shared} DF-capped fingerprints, scored by the
    exact overlap coefficient ``shared / min(|A|, |B|)`` on a 1e-6
    integer grid (reported, not filtered — a relative floor would
    erase exactly the quotation-length matches this detector exists
    for). Winnowing's guarantee makes this the localized-copy
    detector: any shared run of ≥ w + k − 1 tokens produces a shared
    fingerprint, so quotation-length overlap surfaces even when
    whole-document Jaccard is tiny — the complementary signal to
    ``ngram_jaccard_near_dup`` (global similarity) and
    ``shingle_containment_pairs`` (subset structure).

    Scale shape is the ngram family's: fingerprint density is
    ~2/(w+1) of the shingle mass, the DF cap bounds the self-join at
    C(cap, 2) pairs per fingerprint, pair keys are near-unique so the
    count aggregate widens at the mass-scaled width past the pivot,
    and the doc-scale size attach pins a bounded shuffled-hash build
    (the x200 SHJ rules)."""
    from .llm import _ATTACH_SHJ_MIN_DOCS, scaled_wide

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    big = n_docs >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs) if big else None
    fp = win_fp_rows(spark, docs, n_parts=wide)
    if big:
        from ..operators.materialize import parquet_checkpoint

        # three consumers (df cap, sizes, both join sides share one):
        # the big path re-reads a long-only parquet leaf instead of
        # re-running the gram/window pipeline per consumer
        fp, _release = parquet_checkpoint(fp, label="wnp-fp")
    else:
        fp = fp.localCheckpoint(eager=True)
    dfc_src = fp.repartition(wide, "h") if big else fp
    keep = (
        dfc_src.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _WNP_DF_CAP)
        .select("h")
    )
    kept = fp.join(keep.hint("shuffle_hash") if big else keep, "h")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    joined = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    if big:
        # near-unique pair keys: the count aggregate's hash state is
        # the pair MASS — widen past AQE coalescing
        joined = joined.repartition(wide, "doc_a", "doc_b")
    pairs = joined.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    if big:
        # doc-scale build vs pair-scale stream: pin a bounded
        # shuffled-hash build (non-spillable — the x200 OOM rule)
        sizes = sizes.repartition(wide, "doc_id").hint("shuffle_hash")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("fp_b"))
    overlap = F.floor(
        F.col("n_shared").cast("double") * 1e6 / F.least("fp_a", "fp_b")
    ).cast("long")
    return (
        pairs.where(F.col("n_shared") >= _WNP_MIN_SHARED)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", "fp_a", "fp_b",
                overlap.alias("overlap_micro"))
    )


winnowing_near_dup_pairs.__doc__ = winnowing_near_dup_pairs.__doc__.format(
    min_shared=_WNP_MIN_SHARED
)
