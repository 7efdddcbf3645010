"""Batch 22 operator battery — similarity-join machinery & surface
completion: PPJoin-style prefix-filtered set-similarity join,
first-touch-to-conversion latency histogram, higher-order-function
surface (zip_with / exists / forall), and schema-evolution union.

Scale design notes:
- **PPJoin prefix filter** is the third bounded candidate-generation
  technique in the catalog (after DF-band + chain links and
  MinHash-LSH banding): for Jaccard ≥ t, two sets MUST share a token
  inside each other's first ``⌊(1−t)·|A|⌋+1`` tokens when both are
  ordered rarest-first — so the self-join runs only on those prefix
  tokens (globally rare by construction), and exact verification runs
  only on bucket-mates. This is the bound production set-similarity
  joins (PPJoin/AllPairs) use.
- **Conversion histogram** folds events to one (first view, first
  purchase) pair per user before bucketing — entity-scale, exact
  integer µs latencies, fixed 6-hour buckets.
- **HOF battery** keeps zip_with/exists/forall inside Catalyst
  expressions over the embedding arrays (no explode, no UDF); sums
  grid to BIGints per row, so output is engine-exact.
- **Schema union** exercises ``unionByName(allowMissingColumns)`` —
  the schema-drift ingestion path — and accounts the null backfill
  per group, which is what a migration monitor alerts on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# PPJoin-style prefix-filtered set-similarity join
# --------------------------------------------------------------------------

_PP_T_MICRO = 800_000  # Jaccard threshold 0.8


def _pp_oracle() -> str:
    from .llm import _DUCK_SHINGLES

    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, s AS tok FROM (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents) t1) t2),
    dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY tok),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok
           GROUP BY doc_id),
    ranked AS (
      SELECT t.doc_id, t.tok,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.tok) AS rn,
             s.n
      FROM tok t JOIN dfc d ON t.tok = d.tok JOIN sz s ON t.doc_id = s.doc_id),
    prefix AS (
      SELECT doc_id, tok FROM ranked
      WHERE rn <= CAST(floor(0.2 * n) AS BIGINT) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b, i AS inter, sa.n AS sz_a, sb.n AS sz_b,
           CAST(floor(CAST(i AS DOUBLE) * 1e6 / (sa.n + sb.n - i)) AS BIGINT)
             AS jaccard_micro
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(floor(CAST(i AS DOUBLE) * 1e6 / (sa.n + sb.n - i)) AS BIGINT)
          >= {_PP_T_MICRO}
    ORDER BY doc_a, doc_b
    """


@query("ppjoin_prefix_filter_pairs", oracle=_pp_oracle())
def ppjoin_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join (3-gram shingle Jaccard ≥ 0.8) via the
    PPJoin prefix filter: order each doc's distinct shingles
    rarest-first; two docs at Jaccard ≥ t must share a shingle within
    each other's first ``⌊(1−t)·|A|⌋+1`` shingles, so candidate
    generation joins ONLY on those prefix shingles — globally rare by
    construction — and the exact Jaccard verification runs per
    candidate pair. (Shingles, not unigrams: the fixture's small
    vocabulary makes unigram SETS near-identical corpus-wide, which is
    exactly the degenerate case shingling exists to avoid.)

    This is the third bounded candidate-generation strategy in the
    catalog (vs DF-banding in ``ngram_jaccard_near_dup`` and banded
    MinHash in ``minhash_lsh_near_dup``), the one production AllPairs/
    PPJoin engines use when exact (non-probabilistic) output is
    required without an all-pairs scan.

    Physical shape: one shuffle builds a per-doc shingle ARRAY sorted
    rarest-first (array_sort over (df, tok) structs replaces the
    row_number window — no per-doc window state); the prefix is a
    ``slice`` of that array, and verification is ``array_intersect``
    on the two materialized arrays per candidate pair — the standard
    PPJoin verify step — instead of re-exploding token rows through a
    three-way join + re-aggregation. Per-task memory stays O(doc), the
    arrays are document-bounded (~|text| shingles), and the candidate
    join still runs only on globally-rare prefix tokens.

    The candidate join also applies PPJoin's LENGTH filter (Jaccard
    >= 0.8 forces 4*max(n_a,n_b) <= 5*min(n_a,n_b)) and POSITIONAL
    filter (at the shared token's 0-based prefix positions p_a/p_b the
    overlap can't exceed 1 + min(n_a-p_a-1, n_b-p_b-1), which must
    reach the overlap floor ceil(t/(1+t)*(n_a+n_b))). Both discard
    only pairs that cannot reach the threshold — a qualifying pair's
    FIRST shared token in the global rarest-first order sits inside
    both prefixes and satisfies the bound, so one of its join rows
    always survives. Measured at sf0.1 they cut candidate pairs 9.3x
    (118 826 -> 12 784), which is the point: the verify stage is
    bounded by genuinely-plausible pairs, not by prefix collisions.

    Token identity is the 128-bit (h1, h2) shingle hash (the ngram
    family's rekey), not the raw shingle: the df aggregate and dedup
    distinct shuffle two longs, and the per-doc arrays re-encode each
    hash as one injective 'h1:h2' hex string so array_intersect keeps
    its atomic-type hash-set fast path. The global rarest-first order
    is (df, h1, h2) instead of (df, tok) — the prefix, length, and
    positional filters are lossless under ANY consistent total order
    (the qualifying pair's first shared token in that order sits in
    both prefixes and meets the bound), so the thresholded output set
    is identical to the oracle's string-ordered computation."""
    from ..operators.materialize import parquet_checkpoint
    from .llm import _ATTACH_SHJ_MIN_DOCS, hashed_shingle_rows, scaled_wide

    docs_t = _t(spark, sf_dir, "documents")
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs_t)
    big = n_docs >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs)
    # two consumers (df aggregate, per-doc array build): materialize
    # once. Past the 150k-doc pivot the block cache's storage pressure
    # smears spill across every stage (first x100 battery: 16.8 GB,
    # fat string+array rows) — scratch parquet + the wide dedup
    # distinct runs the same corpus spill-free (the ngram recipe).
    # A window-count df attach (one shuffle, no join-back) was A/B'd
    # at x100 and LOST: 47.3 s vs 40.5 s — WindowExec's per-partition
    # sort of the 50M-row shingle mass costs more than the hash
    # aggregate plus shuffled-hash join it replaced.
    if big:
        tok, _release = parquet_checkpoint(
            hashed_shingle_rows(spark, docs_t, n_parts=wide), label="ppj-sh"
        )
    else:
        tok = hashed_shingle_rows(spark, docs_t).localCheckpoint(eager=True)
    # df keys are near-unique (most shingles appear once): hash state
    # scales with the shingle MASS, so widen past AQE coalescing on
    # the big path
    dfc_src = tok.repartition(wide, "h1", "h2") if big else tok
    dfc = dfc_src.groupBy("h1", "h2").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    # df attach: build on the banded df table, stream the shingle
    # relation — the SMJ fallback sorts the full shingle mass
    joined = tok.join(dfc.hint("shuffle_hash") if big else dfc, ["h1", "h2"])
    if big:
        # collect_list state is the per-doc shingle array — doc-scale
        # keys but shingle-mass state; widen like the pair aggregates
        joined = joined.repartition(wide, "doc_id")
    # array elements are the 128-bit hash re-encoded as ONE injective
    # hex string ('h1:h2'): array_intersect's O(n+m) hash-set fast
    # path covers atomic element types only — struct elements fall
    # back to the quadratic generic-equality scan, which dominated the
    # first rewrite's x100 wall (1493 executor-s in the verify stage)
    docs = (
        joined.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h1", "h2"))).alias("arr"))
        .select(
            "doc_id",
            F.expr(
                "transform(arr, x -> concat(hex(x.h1), ':', hex(x.h2)))"
            ).alias("toks"),
            F.size("arr").cast("long").alias("n"),
        )
    )
    # three consumers (prefix explode, both verify sides): one row per
    # document, entity-scale — but the rows carry the full shingle
    # array, so past the pivot the fat relation goes through scratch
    # parquet, not the block cache
    if big:
        docs, _release2 = parquet_checkpoint(docs, label="ppj-docs")
    else:
        docs = docs.localCheckpoint(eager=True)
    prefix = docs.select(
        "doc_id",
        "n",
        F.posexplode(
            F.slice(
                "toks",
                F.lit(1),
                (F.floor(0.2 * F.col("n")) + 1).cast("int"),
            )
        ).alias("p", "tok"),
    )
    a = prefix.alias("a")
    # every pinned shuffled-hash build below repartitions on its join
    # key at the mass-scaled width FIRST: a pinned SHJ build is
    # non-spillable, and leaving its partition count to AQE's
    # byte-based sizing OOM'd at x200 ("can't acquire memory to build
    # hash relation" in the array attach) — the explicit repartition
    # is on exactly the join key, so it replaces the join's own
    # exchange rather than adding one (the minhash verify-bound rule)
    b = (prefix.repartition(wide, "tok").hint("shuffle_hash") if big else prefix).alias("b")
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.p") - 1, F.col("b.n") - F.col("b.p") - 1
    )
    cand = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: max size <= min size / t
        & (4 * F.greatest("a.n", "b.n") <= 5 * F.least("a.n", "b.n"))
        # positional filter: overlap upper bound >= overlap floor
        # ceil(t/(1+t)*(n_a+n_b)) with t = 0.8 -> 9*ub >= 4*(na+nb)
        & (9 * ubound >= 4 * (F.col("a.n") + F.col("b.n"))),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    if big:
        # near-unique pair keys: widen the dedup distinct too
        cand = cand.repartition(wide, "doc_a", "doc_b")
    cand = cand.distinct()
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("sz_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("sz_b"),
    )
    if big:
        # attach joins: doc-scale fat-array build sides vs the pair
        # stream — pin shuffled-hash builds so the SMJ fallback never
        # sorts the array rows, and bound each build's per-task state
        # by repartitioning on the join key at the mass-scaled width
        da = da.repartition(wide, "doc_a").hint("shuffle_hash")
        db = db.repartition(wide, "doc_b").hint("shuffle_hash")
    jac = F.floor(
        F.col("inter").cast("double")
        * 1e6
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    ).cast("long")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long").alias("inter"),
            "sz_a",
            "sz_b",
        )
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", jac.alias("jaccard_micro"))
        .where(F.col("jaccard_micro") >= _PP_T_MICRO)
        # no global orderBy: the range sort executes its child twice
        # (sampling + sort) for a presentation order nothing consumes
        # — driver compare and tests are order-insensitive
    )


# --------------------------------------------------------------------------
# First-view → first-purchase conversion latency histogram
# --------------------------------------------------------------------------

_CONV_BUCKET_US = 6 * 3_600_000_000  # 6-hour buckets


@query(
    "conversion_time_histogram",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS v_us,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS p_us
      FROM events GROUP BY user_id),
    conv AS (
      SELECT (p_us - v_us) // {_CONV_BUCKET_US} AS bucket
      FROM firsts WHERE v_us IS NOT NULL AND p_us IS NOT NULL
        AND p_us >= v_us)
    SELECT CAST(bucket AS BIGINT) AS bucket_6h,
           CAST(count(*) AS BIGINT) AS n_users
    FROM conv GROUP BY bucket ORDER BY bucket_6h
    """,
)
def conversion_time_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation-latency distribution: per user, the time from first
    view to first purchase, bucketed into 6-hour bins — the histogram
    growth teams read before setting nudge timers.

    Events fold to one (first view, first purchase) row per user in a
    single filtered-aggregate pass (map-side combinable mins), so the
    bucketing and histogram run at entity scale. Latencies are exact
    integer microseconds; the bucket is integer division."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias(
            "p_us"
        ),
    )
    conv = firsts.where(
        F.col("v_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("v_us"))
    ).select(
        F.floor((F.col("p_us") - F.col("v_us")) / F.lit(_CONV_BUCKET_US))
        .cast("long")
        .alias("bucket_6h")
    )
    return (
        conv.groupBy("bucket_6h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("bucket_6h")
    )


# --------------------------------------------------------------------------
# Higher-order-function surface: zip_with / exists / forall
# --------------------------------------------------------------------------


@query(
    "hof_zip_exists_forall_embeddings",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(list_sum(
             [CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e6)
                   AS BIGINT)
              FOR p IN list_zip(embedding, list_reverse(embedding))])
             AS BIGINT) AS revdot_grid,
           len(list_filter(embedding, x -> x < 0)) > 0 AS has_negative,
           len(list_filter(embedding, x -> abs(x) >= 10)) = 0 AS all_small
    FROM embeddings
    ORDER BY vec_id
    """,
)
def hof_zip_exists_forall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order-function surface not yet exercised elsewhere:
    ``zip_with`` (element-wise product of the embedding with its own
    reverse — a palindromic self-correlation), ``exists`` (any negative
    component) and ``forall`` (all components bounded) — all evaluated
    inside Catalyst expressions over the array column, no explode, no
    UDF, map-only.

    Per-element products floor onto a 1e-6 integer grid BEFORE the
    array sum, so the fold is order-independent and engine-exact
    (``F.aggregate`` over BIGINTs)."""
    emb = _t(spark, sf_dir, "embeddings")
    prod = F.zip_with(
        F.col("embedding"),
        F.reverse(F.col("embedding")),
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * 1e6).cast(
            "long"
        ),
    )
    revdot = F.aggregate(prod, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        revdot.alias("revdot_grid"),
        F.exists("embedding", lambda x: x < 0).alias("has_negative"),
        F.forall("embedding", lambda x: F.abs(x) < 10).alias("all_small"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Schema-evolution union (allowMissingColumns)
# --------------------------------------------------------------------------


@query(
    "schema_evolution_union_orders",
    oracle="""
    WITH unioned AS (
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus, NULL AS o_orderpriority FROM orders
      WHERE o_orderkey % 2 = 1)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT)
             AS n_backfilled,
           CAST(floor(CAST(count(*) FILTER (WHERE o_orderpriority IS NULL)
                           AS DOUBLE) * 1e6 / count(*)) AS BIGINT)
             AS backfill_micro
    FROM unioned GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def schema_evolution_union_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingestion: a new-schema slice (even keys, has
    ``o_orderpriority``) unions with an old-schema slice (odd keys,
    column absent) via ``unionByName(allowMissingColumns=True)`` —
    Spark aligns by NAME and null-backfills the missing column — and
    the audit counts the backfill per status, which is what a
    migration monitor alerts on until the old producer drains.

    Positional UNION would silently mis-align here; by-name union is
    the schema-evolution primitive. Map-only plus one hash
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    new_slice = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    old_slice = o.where(F.col("o_orderkey") % 2 == 1).select("o_orderstatus")
    unioned = new_slice.unionByName(old_slice, allowMissingColumns=True)
    return (
        unioned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.when(F.col("o_orderpriority").isNull(), 1))
            .cast("long")
            .alias("n_backfilled"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            "n_backfilled",
            F.floor(
                F.col("n_backfilled").cast("double") * 1e6 / F.col("n_rows")
            )
            .cast("long")
            .alias("backfill_micro"),
        )
        .orderBy("o_orderstatus")
    )
