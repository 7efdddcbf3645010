"""Batch 35 operator battery — round-12 depth addition.

Multi-signal near-dup adjudication: the step a production curation
stack runs once it has MORE THAN ONE dedup detector. The engine now
certifies three content-defined pair families with complementary
failure modes — exact n-gram Jaccard (global similarity; dilutes
localized copies), winnowing fingerprints (localized/quotation copies;
blind to paraphrase-level global overlap), SimHash hamming
(bit-signature similarity; robust to small edits, coarser than exact
Jaccard) — and the operators here fuse them:

- **near_dup_signal_matrix** — one row per candidate pair flagged by
  ANY family, with every family's score side by side (NULL where a
  family did not flag the pair) and the signal count. This is the
  audit table a data curator reads before picking thresholds: which
  detectors agree, which pairs are single-signal outliers.
- **multi_signal_dedup_verdict** — the combined keep/drop decision:
  connected components over the UNION of the three edge sets (a pair
  flagged by any certified detector is an edge), each cluster
  collapsed to its highest-quality member (the
  ``near_dup_cluster_quality_keep`` retention policy), every clustered
  doc labeled keep or drop.

Both are oracle-paired end-to-end: DuckDB recomputes all three
families bit-for-bit (their existing certified oracles, composed as
CTE subqueries), the full-outer signal join, the recursive-CTE
transitive closure, and the quality ranking — so hash equality
certifies the fusion logic on top of the already-certified signals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .analytics31 import _sh_oracle
from .analytics32 import _wnp_oracle
from .registry import query


def _pair_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three certified family pair relations as lazy subtrees of
    the fused plan — deliberately NOT materialized first.

    The x200 (1M-doc) readings: the fusion queries spill ~27.6 GB
    (summed metric) apiece, and stage attribution shows it is entirely
    the exact-Jaccard leg's own documented residual — the ground-truth
    ngram family spills the SAME 26-28 GB summed metric (~1-4 GB
    physical, reduce-rerun class) run in isolation (SCALING.md round-11
    "exact ground-truth ngram family"); winnowing and simhash-sha are
    zero-spill at that scale. A sequential-parquet-checkpoint variant
    (materialize each family, fuse the leaves) was A/B-measured at
    x200 and REJECTED: spill unchanged (28.4 vs 27.6 GB — it lives
    inside the jaccard pipeline, not the fusion joins) and the matrix
    wall 52% WORSE (193.9 vs 128.0 s) for the three extra round-trips
    — the same verdict as the pair-ledger checkpoint A/B in
    ``ngram_near_dup_pairs``. At 100 TB the fusion's inputs are
    maintained materialized pair TABLES (each family's incremental
    ingest), so the production form reads three parquet leaves anyway;
    this query certifies the merge logic, and its cost profile is the
    certification family's documented linear-sequential-spill
    posture."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .analytics31 import simhash_sha_near_dup
    from .analytics32 import winnowing_near_dup_pairs
    from .llm import ngram_jaccard_near_dup

    # Build the three legs CONCURRENTLY (guide §2.6 "overlap
    # independent jobs"): each leg runs eager plan-build work (the
    # n_docs pivot count; the jaccard/winnowing fixture-scale
    # localCheckpoints), and building them serially left the box idle
    # while each leg's materialization drained — the r12 interleaved
    # A/B measured the signal matrix at 8.48 s serial vs 5.76 s
    # threaded (−32%) at matched sentinels. inheritable_thread_target
    # propagates the job group / description thread-locals so the
    # legs' jobs stay correctly labeled; the returned DataFrames are
    # identical to the sequential form's.
    builders = (
        lambda: ngram_jaccard_near_dup(spark, sf_dir).select(
            "doc_a", "doc_b", "jaccard"
        ),
        lambda: winnowing_near_dup_pairs(spark, sf_dir).select(
            "doc_a", "doc_b", "overlap_micro"
        ),
        lambda: simhash_sha_near_dup(spark, sf_dir).select(
            "doc_a", "doc_b", "hamming"
        ),
    )
    # inheritable_thread_target(session) only acts as a decorator
    # factory in Connect / pinned-thread (ClientServer gateway) modes;
    # with PYSPARK_PIN_THREAD=false the non-ClientServer branch returns
    # its argument UNCHANGED — a SparkSession, not a callable — and
    # `wrap(b)` would raise TypeError. Guard on callability and fall
    # back to submitting the bare builder: in that gateway mode JVM
    # thread-locals are shared process-wide anyway (r13 advice fix).
    wrap = inheritable_thread_target(spark)
    if not callable(wrap):
        wrap = lambda b: b  # noqa: E731
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futs = [pool.submit(wrap(b)) for b in builders]
        jac, win, sim = (f.result() for f in futs)
    return jac, win, sim


def _jac_oracle_edges() -> str:
    """The certified ``ngram_jaccard_near_dup`` oracle (threshold 0.5),
    verbatim — kept in sync by the shared ``_DUCK_SHINGLES`` grid and
    the differential gate on that entry."""
    from .llm import _DUCK_SHINGLES

    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1) t2),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           floor((common * 1.0 / (s1.n + s2.n - common)) * 1e4) / 1e4 AS jaccard
    FROM pairs JOIN sizes s1 ON doc_a = s1.doc_id
               JOIN sizes s2 ON doc_b = s2.doc_id
    WHERE common * 1.0 / (s1.n + s2.n - common) >= 0.5
    """


def _signal_ctes() -> str:
    """The three certified pair relations as composable CTEs."""
    return f"""
    jac AS (SELECT doc_a, doc_b, jaccard FROM ({_jac_oracle_edges()}) t),
    win AS (SELECT doc_a, doc_b, overlap_micro FROM ({_wnp_oracle()}) t),
    sim AS (SELECT doc_a, doc_b, hamming FROM ({_sh_oracle()}) t)
    """


@query(
    "near_dup_signal_matrix",
    oracle=f"""
    WITH {_signal_ctes()},
    keys AS (
      SELECT doc_a, doc_b FROM jac
      UNION
      SELECT doc_a, doc_b FROM win
      UNION
      SELECT doc_a, doc_b FROM sim)
    SELECT k.doc_a, k.doc_b, j.jaccard, w.overlap_micro, s.hamming,
           CAST((CASE WHEN j.jaccard IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN w.overlap_micro IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN s.hamming IS NOT NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS n_signals
    FROM keys k
    LEFT JOIN jac j ON k.doc_a = j.doc_a AND k.doc_b = j.doc_b
    LEFT JOIN win w ON k.doc_a = w.doc_a AND k.doc_b = w.doc_b
    LEFT JOIN sim s ON k.doc_a = s.doc_a AND k.doc_b = s.doc_b
    """,
)
def near_dup_signal_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair signal matrix over the three certified near-dup
    families: every pair flagged by ANY detector, with exact Jaccard
    (≥ 0.5 or NULL), winnowing overlap (micro grid, ≥ 2 shared
    fingerprints or NULL), SimHash hamming (≤ 3 or NULL), and the
    agreeing-signal count. The table a curator audits before choosing
    fusion thresholds — which families agree, which pairs are
    single-signal outliers.

    Scale: the three family pipelines each carry their own certified
    x100+/x200 zero-spill posture (DF caps, mass-scaled widths,
    bounded SHJ builds); the fusion adds two pair-keyed full-outer
    joins — pair-mass shuffles on (doc_a, doc_b) longs, no new
    quadratic stage, no driver collect. On a 100 TB corpus the three
    relations are materialized tables maintained incrementally and
    this query is their three-way merge (``_pair_relations`` documents
    why recomputing them lazily here beat materializing first in the
    1M-doc A/B)."""
    jac, win, sim = _pair_relations(spark, sf_dir)
    m = jac.join(win, ["doc_a", "doc_b"], "full").join(
        sim, ["doc_a", "doc_b"], "full"
    )
    n_signals = (
        F.col("jaccard").isNotNull().cast("int")
        + F.col("overlap_micro").isNotNull().cast("int")
        + F.col("hamming").isNotNull().cast("int")
    )
    return m.select(
        "doc_a",
        "doc_b",
        "jaccard",
        "overlap_micro",
        "hamming",
        n_signals.alias("n_signals"),
    )


@query(
    "multi_signal_dedup_verdict",
    oracle=f"""
    WITH RECURSIVE {_signal_ctes()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac
      UNION
      SELECT doc_a, doc_b FROM win
      UNION
      SELECT doc_a, doc_b FROM sim),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach AS (
      SELECT DISTINCT a, a AS b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    ),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_rep FROM reach GROUP BY a),
    scored AS (
      SELECT doc_id,
             CAST(floor((0.5 * least(n_chars, 500) / 500.0
                         + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                             t -> t IN ('the', 'a')))
                                             AS DOUBLE)
                                        / len(string_split(text, ' ')))) * 1e6)
                  AS BIGINT) AS q_micro
      FROM documents),
    ranked AS (
      SELECT c.doc_id, c.cluster_rep, s.q_micro,
             row_number() OVER (PARTITION BY c.cluster_rep
                                ORDER BY s.q_micro DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size
      FROM clusters c JOIN scored s USING (doc_id))
    SELECT doc_id, cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size,
           q_micro, rn = 1 AS keep
    FROM ranked
    """,
)
def multi_signal_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined keep/drop verdict over ALL certified near-dup
    signals: a pair flagged by exact Jaccard, winnowing, or SimHash is
    an edge; connected components over the union graph form the
    multi-signal clusters; each cluster keeps its highest-quality
    member (integer-grid quality score, doc_id tie-break — the
    ``near_dup_cluster_quality_keep`` retention policy) and every
    other clustered doc is marked drop. This is the decision table a
    100 TB curation run joins back to the corpus to filter it —
    single-signal clustering misses what only another detector sees
    (quotation-length copies invisible to global Jaccard; bit-level
    near-misses invisible to winnowing).

    Union semantics (deliberately recall-biased): fusing at the EDGE
    level before clustering means transitive multi-signal chains merge
    — A≈B by Jaccard and B≈C by winnowing puts A, C in one cluster
    even though no single detector links them. That is the curation
    default (duplicates cost training quality; a dropped near-copy
    costs one document); a precision-biased deployment would filter
    the signal matrix to ``n_signals >= 2`` before clustering.

    Scale: the union edge list is pair-mass (three certified
    pipelines, distinct-merged); min-label propagation runs on the
    checkpointed edge list (operators/graph — constant-size per-round
    plans); the quality score is map-only over documents; the keep
    window partitions per cluster (WindowGroupLimit-prunable top-1,
    never a global sort)."""
    from ..operators.graph import connected_components
    from .llm import _STOPWORDS, _toks

    jac, win, sim = _pair_relations(spark, sf_dir)
    pair_keys = (
        jac.select("doc_a", "doc_b")
        .unionByName(win.select("doc_a", "doc_b"))
        .unionByName(sim.select("doc_a", "doc_b"))
        .distinct()
    )
    cc = connected_components(
        pair_keys.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
    )
    clusters = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )
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
        "doc_id", F.floor(q * 1e6).cast("long").alias("q_micro")
    )
    j = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("q_micro"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_rep")
    return j.select(
        "doc_id",
        "cluster_rep",
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
        "q_micro",
        (F.row_number().over(w) == 1).alias("keep"),
    )


@query(
    "near_dup_signal_agreement",
    oracle=f"""
    WITH {_signal_ctes()},
    keys AS (
      SELECT doc_a, doc_b FROM jac
      UNION
      SELECT doc_a, doc_b FROM win
      UNION
      SELECT doc_a, doc_b FROM sim)
    SELECT j.doc_a IS NOT NULL AS has_jaccard,
           w.doc_a IS NOT NULL AS has_winnow,
           s.doc_a IS NOT NULL AS has_simhash,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM keys k
    LEFT JOIN jac j ON k.doc_a = j.doc_a AND k.doc_b = j.doc_b
    LEFT JOIN win w ON k.doc_a = w.doc_a AND k.doc_b = w.doc_b
    LEFT JOIN sim s ON k.doc_a = s.doc_a AND k.doc_b = s.doc_b
    GROUP BY 1, 2, 3
    """,
)
def near_dup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-agreement Venn over the signal matrix: pair counts per
    (jaccard, winnowing, simhash) flag combination — the 7-cell rollup
    a curator reads to choose the fusion policy (how many pairs are
    three-signal consensus vs single-detector outliers) and the
    monitoring aggregate a production pipeline tracks per ingest batch
    (a drift in the Venn shape means a detector's threshold or the
    corpus changed). Integer-exact: pure counts on the certified
    matrix, bounded output (≤ 7 rows at any corpus size — an
    all-reduce, no per-pair state survives the aggregate)."""
    m = near_dup_signal_matrix(spark, sf_dir)
    return m.groupBy(
        F.col("jaccard").isNotNull().alias("has_jaccard"),
        F.col("overlap_micro").isNotNull().alias("has_winnow"),
        F.col("hamming").isNotNull().alias("has_simhash"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@query(
    "multi_signal_consensus_verdict",
    oracle=f"""
    WITH RECURSIVE {_signal_ctes()},
    keys AS (
      SELECT doc_a, doc_b FROM jac
      UNION
      SELECT doc_a, doc_b FROM win
      UNION
      SELECT doc_a, doc_b FROM sim),
    edges AS (
      SELECT k.doc_a AS a, k.doc_b AS b
      FROM keys k
      LEFT JOIN jac j ON k.doc_a = j.doc_a AND k.doc_b = j.doc_b
      LEFT JOIN win w ON k.doc_a = w.doc_a AND k.doc_b = w.doc_b
      LEFT JOIN sim s ON k.doc_a = s.doc_a AND k.doc_b = s.doc_b
      WHERE (CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN w.doc_a IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END) >= 2),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach AS (
      SELECT DISTINCT a, a AS b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    ),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_rep FROM reach GROUP BY a),
    scored AS (
      SELECT doc_id,
             CAST(floor((0.5 * least(n_chars, 500) / 500.0
                         + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                             t -> t IN ('the', 'a')))
                                             AS DOUBLE)
                                        / len(string_split(text, ' ')))) * 1e6)
                  AS BIGINT) AS q_micro
      FROM documents),
    ranked AS (
      SELECT c.doc_id, c.cluster_rep, s.q_micro,
             row_number() OVER (PARTITION BY c.cluster_rep
                                ORDER BY s.q_micro DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size
      FROM clusters c JOIN scored s USING (doc_id))
    SELECT doc_id, cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size,
           q_micro, rn = 1 AS keep
    FROM ranked
    """,
)
def multi_signal_consensus_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRECISION-biased twin of ``multi_signal_dedup_verdict``:
    only pairs flagged by ≥ 2 independent detectors become edges, so a
    single detector's false positive can never collapse two documents.
    The recall-biased union form is the curation default (a dropped
    near-copy costs one document); this consensus form is what a
    compliance-sensitive deployment runs when a wrong merge is the
    expensive error — e.g. licensed-content pools where dropping a
    legitimately distinct document loses paid data. Having BOTH
    certified makes the policy a one-line choice, not a code fork.

    Same scale shape as the union verdict (the matrix's pair-keyed
    full-outer joins, then the CC loop over a strictly SMALLER edge
    set); the n_signals filter is map-side on the fused relation."""
    from ..operators.graph import connected_components
    from .llm import _STOPWORDS, _toks

    m = near_dup_signal_matrix(spark, sf_dir)
    edges = m.where(F.col("n_signals") >= 2).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(edges)
    clusters = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )
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
        "doc_id", F.floor(q * 1e6).cast("long").alias("q_micro")
    )
    j = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("q_micro"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_rep")
    return j.select(
        "doc_id",
        "cluster_rep",
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
        "q_micro",
        (F.row_number().over(w) == 1).alias("keep"),
    )
