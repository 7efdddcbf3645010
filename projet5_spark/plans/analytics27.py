"""Batch 29 operator battery — training-pipeline split discipline and
the dedup lifecycle a GROWING corpus needs.

Everything certified so far dedups / splits a corpus as a one-shot
batch. A production pretraining pipeline is not one-shot: data arrives
daily, splits must not drift as the corpus grows, and near-dup checks
must run NEW-batch-vs-history, never corpus×corpus. This battery adds
the missing lifecycle operators (reference scope: the reference engine,
migration.py:105-251, is a one-shot batch loader; these generalize its
R7/R13 dedup discipline to the planned §2.5-2.7 engine surface):

- **temporal train/valid split with an embargo gap** — time-series
  models leak if validation rows sit within the label horizon of
  training rows; the embargo band between the two is dropped outright.
- **stratified k-fold assignment** — content-addressed fold ids (hash
  ranges, not ``rand(seed)``) so a row keeps its fold across engines,
  retries, and corpus growth; per-(fold, stratum) balance audit.
- **incremental near-dup ingest** — dedup TODAY's batch against the
  historical corpus + itself (keep-first), with the candidate join
  keyed so the shuffle is sized by the BATCH, not the corpus.
- **near-dup cluster quality retention** — collapse each near-dup
  cluster to its HIGHEST-QUALITY member (not its smallest id): the
  curation policy that keeps the clean copy of a boilerplated page.
- **temperature-scaled source mixture** — the standard
  ``w_i ∝ c_i^(1/2)`` upsampling of small sources, on an exact integer
  grid so the allocation is engine-reproducible.
- **hard-negative mining against label centroids** — for contrastive
  training: vectors of OTHER labels that sit suspiciously close to a
  label's centroid, via broadcast centroids (never a vector×vector
  cross join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import gridsum, query


# --------------------------------------------------------------------------
# Temporal split with embargo
# --------------------------------------------------------------------------

_SPLIT_TS = "2000-01-01 00:00:00"
_TRAIN_END_TS = "1999-10-03 00:00:00"  # split minus a 90-day embargo


@query(
    "temporal_split_embargo",
    oracle=f"""
    SELECT CASE WHEN o_orderdate < TIMESTAMP '{_TRAIN_END_TS}' THEN 'train'
                WHEN o_orderdate < TIMESTAMP '{_SPLIT_TS}' THEN 'embargo'
                ELSE 'valid' END AS split,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) / 1e2
             AS revenue
    FROM orders GROUP BY 1
    """,
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/valid split with an embargo band: train strictly
    before ``split − 90d``, validation at/after the split date, and the
    90 days between DROPPED from both sides — the standard guard
    against label-horizon leakage when features aggregate a trailing
    window (a train row whose 90-day rolling feature window overlaps
    validation time would leak future signal).

    Unlike the content-addressed splits (doc_stratified_hash_split),
    the key here is EVENT TIME: reproducibility comes from the date
    literals, and the split is stable under corpus growth by
    construction — new data lands strictly in one band. Map-only
    classification + one bounded aggregate; at 100 TB the date
    predicate is also the partition-pruning key of a date-partitioned
    fact table, so each split's scan touches only its partitions."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    split = (
        F.when(d < F.lit(_TRAIN_END_TS).cast("timestamp"), "train")
        .when(d < F.lit(_SPLIT_TS).cast("timestamp"), "embargo")
        .otherwise("valid")
    )
    return orders.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        gridsum("o_totalprice", 2).alias("revenue"),
    )


# --------------------------------------------------------------------------
# Stratified k-fold assignment
# --------------------------------------------------------------------------

# 5 equal ranges of the first 4 sha256 hex chars: 65536/5 = 13107.2,
# and floor(65536·i/5) lands exactly on 0x3333/0x6666/0x9999/0xcccc.
_FOLD_BOUNDS = ("3333", "6666", "9999", "cccc")


@query(
    "stratified_kfold_assignment",
    oracle=f"""
    WITH f AS (
      SELECT o_orderstatus, o_totalprice,
             CASE WHEN substr(sha256('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 4)
                       < '{_FOLD_BOUNDS[0]}' THEN 0
                  WHEN substr(sha256('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 4)
                       < '{_FOLD_BOUNDS[1]}' THEN 1
                  WHEN substr(sha256('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 4)
                       < '{_FOLD_BOUNDS[2]}' THEN 2
                  WHEN substr(sha256('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 4)
                       < '{_FOLD_BOUNDS[3]}' THEN 3
                  ELSE 4 END AS fold
      FROM orders)
    SELECT CAST(fold AS INTEGER) AS fold, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) / 1e2
             AS revenue
    FROM f GROUP BY 1, 2
    """,
)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment by content-addressed hash
    ranges — ``substr(sha256('fold:'||key),1,4)`` bucketed against
    fixed hex boundaries — with the per-(fold, stratum) count/revenue
    audit that validates the folds are balanced within each stratum.

    Hash ranges, not ``rand(seed)`` and not ``pmod(hash, k)``: a seeded
    rand changes with partition layout (doc_stratified_hash_split
    doctrine), and Spark's ``hash``/``xxhash64`` have no DuckDB
    counterpart, while lowercase-hex sha256 compares identically in
    both engines (ASCII order). The fold id travels WITH the row into
    any engine that can compute sha256 — the property CV folds need so
    fold k's holdout can never appear in fold k's training run months
    later. Map-only expression, one bounded aggregate; the fold column
    is free at any scale."""
    orders = _t(spark, sf_dir, "orders")
    h4 = F.substring(
        F.sha2(F.concat(F.lit("fold:"), F.col("o_orderkey").cast("string")), 256),
        1,
        4,
    )
    fold = (
        F.when(h4 < _FOLD_BOUNDS[0], 0)
        .when(h4 < _FOLD_BOUNDS[1], 1)
        .when(h4 < _FOLD_BOUNDS[2], 2)
        .when(h4 < _FOLD_BOUNDS[3], 3)
        .otherwise(4)
        .cast("int")
    )
    return orders.groupBy(fold.alias("fold"), F.col("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        gridsum("o_totalprice", 2).alias("revenue"),
    )


# --------------------------------------------------------------------------
# Incremental near-dup ingest (new batch vs history)
# --------------------------------------------------------------------------


@query(
    "incremental_near_dup_ingest",
    oracle="""
    WITH b AS (SELECT (max(doc_id) + 1) * 4 // 5 AS lo FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               FOR i IN range(1, greatest(len(toks)-1, 1))]) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1) t2),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b2.doc_id AS db, count(*) AS common
      FROM sh a JOIN sh b2 ON a.s = b2.s AND a.doc_id < b2.doc_id
      WHERE b2.doc_id >= (SELECT lo FROM b)
      GROUP BY 1, 2),
    e AS (
      SELECT da, db FROM pairs
      JOIN sizes s1 ON da = s1.doc_id JOIN sizes s2 ON db = s2.doc_id
      WHERE common * 1.0 / (s1.n + s2.n - common) >= 0.5),
    flags AS (
      SELECT d.doc_id, d.source,
             max(CASE WHEN e.da < (SELECT lo FROM b) THEN 1 ELSE 0 END) AS hist,
             max(CASE WHEN e.da >= (SELECT lo FROM b) THEN 1 ELSE 0 END) AS batch
      FROM documents d LEFT JOIN e ON d.doc_id = e.db
      WHERE d.doc_id >= (SELECT lo FROM b)
      GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(hist) AS BIGINT) AS n_dup_vs_history,
           CAST(sum(CASE WHEN hist = 0 AND batch = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_within_batch,
           CAST(sum(CASE WHEN hist = 0 AND batch = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ingested
    FROM flags GROUP BY source
    """,
)
def incremental_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the newest 20% of docs (by doc_id — the
    stand-in for today's crawl partition) near-dup-checked (exact
    3-gram Jaccard ≥ 0.5) against the historical 80% AND against
    earlier docs in the same batch (keep-first). Per-source ledger:
    arrived / dropped-vs-history / dropped-within-batch / ingested.

    This is the shape a growing corpus actually runs — NEVER re-dedup
    the whole corpus per day. Every qualifying pair has its new-batch
    member on the greater-id side, so one predicate (``doc_b ≥ lo``) on
    the DF-capped pair generator (llm.ngram_near_dup_pairs — candidate
    completeness proof there) restricts verification to pairs touching
    the batch: the pair relation, the Jaccard verify, and the flags
    aggregate are all BATCH-sized. The boundary is fetched as a scalar
    aggregate (constant-size driver fetch, analytics23 precedent) so
    the batch-side predicates are static literals Catalyst pushes into
    the scans; in production the boundary is the ingest date literal
    and history's shingle index is a maintained table, not recomputed
    — that form is REAL and certified as
    ``shingle_index_incremental_ingest`` (analytics31: idempotent
    partition landing + probe straight off the stored index; this
    recompute twin keeps the two hash-equal). Chain semantics are
    greedy keep-first:
    a batch doc pairing only with an already-dropped earlier batch doc
    still drops (standard MinHash-dedup greedy policy)."""
    from .llm import ngram_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    from ..sources.readers import fixture_column_max

    # footer-statistics max (exact for int64; Spark-agg fallback) —
    # same integer arithmetic, minus a per-invocation driver job
    lo = ((int(fixture_column_max(spark, sf_dir, "documents", "doc_id")) + 1) * 4) // 5
    from ..sources.readers import fixture_rowcount

    pairs = ngram_near_dup_pairs(
        spark,
        docs,
        threshold=0.5,
        n_docs=fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs),
    ).where(F.col("doc_b") >= lo)
    new_docs = docs.where(F.col("doc_id") >= lo).select("doc_id", "source")
    flags = (
        new_docs.join(pairs, new_docs.doc_id == pairs.doc_b, "left")
        .groupBy("doc_id", "source")
        .agg(
            F.max(
                F.when(F.col("doc_a") < lo, 1).otherwise(0)
            ).alias("hist"),
            F.max(
                F.when(F.col("doc_a") >= lo, 1).otherwise(0)
            ).alias("batch"),
        )
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum("hist").alias("n_dup_vs_history"),
        F.sum(
            F.when((F.col("hist") == 0) & (F.col("batch") == 1), 1).otherwise(0)
        ).alias("n_dup_within_batch"),
        F.sum(
            F.when((F.col("hist") == 0) & (F.col("batch") == 0), 1).otherwise(0)
        ).alias("n_ingested"),
    )


# --------------------------------------------------------------------------
# Near-dup cluster quality retention
# --------------------------------------------------------------------------


@query(
    "near_dup_cluster_quality_keep",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               FOR i IN range(1, greatest(len(toks)-1, 1))]) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1) t2),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    edges AS (
      SELECT doc_a AS a, doc_b AS b
      FROM pairs JOIN sizes s1 ON doc_a = s1.doc_id
                 JOIN sizes s2 ON doc_b = s2.doc_id
      WHERE common * 1.0 / (s1.n + s2.n - common) >= 0.5),
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
      SELECT c.cluster_rep, c.doc_id, s.q_micro,
             row_number() OVER (PARTITION BY c.cluster_rep
                                ORDER BY s.q_micro DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size
      FROM clusters c JOIN scored s USING (doc_id))
    SELECT cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size,
           doc_id AS kept_doc, q_micro AS kept_q_micro
    FROM ranked WHERE rn = 1
    """,
)
def near_dup_cluster_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each near-dup cluster to its highest-quality member —
    the retention policy that keeps the CLEAN copy of a page whose
    near-dups carry boilerplate, instead of near_dup_clusters'
    smallest-id exemplar (which keeps whichever copy crawled first).
    Tie-break on doc_id keeps the winner total and engine-independent.

    Composition: connected components (operators/graph min-label
    propagation; the oracle recomputes them with a recursive-CTE
    transitive closure) joined to the same integer-grid quality score
    the calibration queries use, then one per-cluster top-1 window.
    Scale: the window partitions on cluster_rep — cluster-sized state,
    WindowGroupLimit-prunable top-1, never a global sort; the quality
    score is map-only. Singleton docs never enter (components are
    defined over edge endpoints), so every output row is a real
    collapse decision at any corpus size."""
    from .llm import _STOPWORDS, _toks, near_dup_clusters

    clusters = near_dup_clusters(spark, sf_dir)
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
    return (
        j.select(
            "cluster_rep",
            "doc_id",
            "q_micro",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cluster_size"),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_rep",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("doc_id").alias("kept_doc"),
            F.col("q_micro").alias("kept_q_micro"),
        )
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixture
# --------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000  # tokens to allocate across sources


@query(
    "source_temperature_mixture",
    oracle=f"""
    WITH c AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    s AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_raw
      FROM c)
    SELECT source, n_tokens,
           CAST(w_raw * 1000000 // sum(w_raw) OVER () AS BIGINT) AS w_micro,
           CAST(w_raw * {_MIX_BUDGET} // sum(w_raw) OVER () AS BIGINT)
             AS alloc_tokens
    FROM s
    """,
)
def source_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source — ``w_i ∝ c_i^0.5``
    (temperature 2 in the ``p^(1/T)`` convention), the standard
    upsampling that keeps big sources from drowning small ones, with
    each source's token allocation under a fixed training budget.

    Exactness: the weight numerator is ``floor(sqrt(tokens))`` as a
    BIGINT (sqrt of an integer-valued double is correctly rounded in
    every IEEE engine, so the floor is engine-stable), the normalizer
    is an exact BIGINT sum, and the weight/allocation are INTEGER
    division — no float summation-order anywhere, so the allocation a
    Spark run publishes is bit-identical to what any other engine
    derives from the same counts. One token-count aggregate (sources-
    scale output) + one unpartitioned window over the ~sources rows —
    free at 100 TB where the corpus pass dominates."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens")
    )
    s = c.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long").alias("w_raw"),
    )
    total = F.sum("w_raw").over(Window.partitionBy())
    return s.withColumn("__tot", total).select(
        "source",
        "n_tokens",
        F.expr("CAST(w_raw * 1000000 div __tot AS BIGINT)").alias("w_micro"),
        F.expr(f"CAST(w_raw * {_MIX_BUDGET} div __tot AS BIGINT)").alias(
            "alloc_tokens"
        ),
    )


# --------------------------------------------------------------------------
# Hard-negative mining against label centroids
# --------------------------------------------------------------------------

_HARD_NEG_COS_MICRO = 250_000  # cosine ≥ 0.25 on the micro grid


@query(
    "hard_negative_mining_centroids",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS v
      FROM embeddings),
    cm AS (
      SELECT label AS clabel, i,
             CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS c
      FROM x GROUP BY 1, 2),
    dots AS (
      SELECT x.vec_id, x.label, cm.clabel,
             CAST(sum(x.v * cm.c) AS BIGINT) AS dot,
             CAST(sum(x.v * x.v) AS BIGINT) AS vsq,
             CAST(sum(cm.c * cm.c) AS BIGINT) AS csq
      FROM x JOIN cm ON x.i = cm.i AND x.label <> cm.clabel
      GROUP BY 1, 2, 3),
    cos AS (
      SELECT label, clabel,
             CAST(floor(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(vsq AS DOUBLE)) * sqrt(CAST(csq AS DOUBLE)))
                        * 1e6) AS BIGINT) AS cos_micro
      FROM dots)
    SELECT CAST(label AS BIGINT) AS vec_label,
           CAST(clabel AS BIGINT) AS centroid_label,
           CAST(count(*) AS BIGINT) AS n_hard,
           max(cos_micro) AS max_cos_micro
    FROM cos WHERE cos_micro >= {_HARD_NEG_COS_MICRO}
    GROUP BY 1, 2
    """,
)
def hard_negative_mining_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: vectors whose
    cosine to ANOTHER label's centroid clears a threshold — the
    near-boundary negatives a triplet/InfoNCE sampler wants, and the
    label-noise smell test (a vector hugging a foreign centroid is
    often mislabeled).

    Shape: per-(label, dim) centroid aggregate (k·d rows — tiny),
    BROADCAST back against the exploded vectors — the corpus-side
    relation is n·k·d rows streamed through one hash aggregate keyed
    on (vec, other-label), never a vector×vector cross join (the
    SemDeDup kernel exists for that; this is the O(n·k) path). All
    sums ride the micro-int grid (analytics19 centroid doctrine), so
    dot products and norms are exact BIGINTs and the single float op
    (the final cosine) is structurally identical in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i", "ev"),
    ).select(
        "vec_id",
        "label",
        "i",
        F.floor(F.col("ev").cast("double") * 1e6).cast("long").alias("v"),
    )
    cm = x.groupBy(F.col("label").alias("clabel"), F.col("i")).agg(
        F.floor(
            F.sum("v").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("c")
    )
    dots = (
        x.join(
            F.broadcast(cm),
            (x.i == cm.i) & (x.label != cm.clabel),
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("vsq"),
            F.sum(F.col("c") * F.col("c")).alias("csq"),
        )
    )
    cos_micro = F.floor(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("vsq").cast("double")) * F.sqrt(F.col("csq").cast("double")))
        * 1e6
    ).cast("long")
    return (
        dots.select("label", "clabel", cos_micro.alias("cos_micro"))
        .where(F.col("cos_micro") >= _HARD_NEG_COS_MICRO)
        .groupBy(
            F.col("label").cast("long").alias("vec_label"),
            F.col("clabel").cast("long").alias("centroid_label"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_hard"),
            F.max("cos_micro").alias("max_cos_micro"),
        )
    )
