"""LLM-data-pipeline surface (SURVEY.md §2.7): dedup (exact, MinHash-LSH,
SimHash, n-gram Jaccard), similarity search over embeddings, text
analysis, multimodal plumbing — over the ``documents`` / ``embeddings``
fixtures.

Scale design notes (the whole point of this module):
- **Exact dedup** shuffles a 32-byte digest, never the document body.
- **Near-dup at 100 TB** is LSH-first: candidate generation via banded
  MinHash buckets (equi-join on band hash = shuffle on small keys), and
  exact Jaccard only on candidates. The exact all-pairs form here doubles
  as the oracle/ground truth at test scale.
- **ANN**: brute-force cosine is the correctness baseline (broadcast the
  query set, stream the corpus — no shuffle at all); the scale path is
  bucketed LSH so each query only scans its buckets.
- **Everything text-side stays in Catalyst expressions** (split /
  higher-order transform / aggregate); Python appears only where
  vectorization genuinely needs it (SimHash bit-packing) and then as an
  Arrow-batched pandas UDF.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.vectors import cosine_similarity, l2_norm
from ..operators.dedup import exact_text_dedup
from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q

_STOPWORDS = ("the", "a")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Fan a small single-file scan out to all cores.

    The sf fixtures are one parquet file each → one input split → heavy
    per-row compute (sha256 over shingles, LSH transforms, Arrow decode
    batches) runs single-threaded without this. A real 100 TB table has
    thousands of splits and never needs it; for CPU-bound ops over few
    input splits an explicit round-robin repartition is the difference
    between 1 core and all of them.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def _toks() -> F.Column:
    return F.split(F.col("text"), " ")


def _shingles(toks: F.Column) -> F.Column:
    """Token 3-gram shingles as a native expression: sequence over start
    positions + element_at — no explode until the caller wants one."""
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    )


# DuckDB-side shingle list (same 3-grams, 1-indexed lists).
_DUCK_SHINGLES = (
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    "FOR i IN range(1, greatest(len(toks)-1, 1))]"
)


def shingle_rows(
    spark: SparkSession, docs: DataFrame, n_parts: int | None = None
) -> DataFrame:
    """Exploded token 3-gram shingles as ``(doc_id, s)`` rows, built with
    posexplode + window ``lead`` — every step whole-stage-codegen'd.

    Why not ``explode(transform(...))``: higher-order functions run
    interpreted (~40µs/shingle measured) AND a generator over a complex
    child re-evaluates it per output row — O(shingles²) per document.
    The window form costs one shuffle on doc_id and is ~20× faster at
    sf0.1; the shuffle amortizes because every consumer (sizes, pair
    join) needs doc_id-keyed rows anyway.

    ``n_parts`` widens that doc_id exchange: the window SORTS the full
    token mass, and at one partition per core it holds ~6M rows/task
    by x200 docs — the uniform 2.7 GB spill signature the x200 sweeps
    found under every shingle consumer. Big-corpus callers pass
    ``scaled_wide``; the explicit repartition is on the window's own
    partition key, so it replaces (not adds to) the implicit exchange.
    """
    toks = _spread(spark, docs.select("doc_id", "text")).select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    if n_parts is not None:
        toks = toks.repartition(n_parts, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("pos")
    t2, t3 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    return toks.select(
        "doc_id",
        F.when(t3.isNotNull(), F.concat_ws(" ", F.col("tok"), t2, t3)).alias("s"),
    ).where(F.col("s").isNotNull())


# --------------------------------------------------------------------------
# Dedup family
# --------------------------------------------------------------------------


@query(
    "doc_exact_dedup",
    oracle="""
    SELECT min(doc_id) AS doc_id,
           min_by(text, doc_id) AS text,
           count(*) AS dup_count
    FROM documents
    GROUP BY text
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus dedup keyed on sha2(text) — the shuffle carries the
    digest, not the body (operators.dedup.exact_text_dedup). Oracle
    groups on the raw text: identical result unless sha256 collides."""
    return exact_text_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


#: shingles present in more than this fraction of docs are "stop
#: shingles": they carry almost no near-dup signal but each one makes
#: the shingle self-join emit ~(DF²/2) rows — the quadratic hotspot
#: AQE skew-splitting can only partially absorb.
_NGRAM_MAX_DF_FRAC = 0.10
#: absolute DF floor so tiny corpora never drop their whole vocabulary
_NGRAM_MIN_DF_CAP = 5
#: corpus size past which the pair-verify attach join pins a shuffled
#: hash build instead of riding the AQE broadcast upgrade (the
#: doc-scale side-table crosses the broadcast threshold around here,
#: and the SMJ fallback would sort the pair mass; ngram_near_dup_pairs)
_ATTACH_SHJ_MIN_DOCS = 150_000
#: absolute DF CEILING: a shingle shared by more docs than this is
#: stop regardless of corpus size. The relative cap alone lets the
#: quadratic pair term grow with the corpus — at n docs the threshold
#: is 0.1·n, so a shingle can legally emit C(0.1·n, 2) pairs, and the
#: x50 docs stress measured exactly that failure (27 GB of pair-join
#: spill once 0.1·n outgrew every real cluster). The ceiling bounds
#: the self-join at C(ceiling,2) pairs per shingle FOREVER; exactness
#: is untouched because the rare/stop partition only routes WORK:
#: stop-only pairs stay covered by the _heavy_stop_pairs lemma (which
#: is threshold-agnostic) and every emitted pair still scores its
#: exact Jaccard with the stop contribution reconstructed.
_NGRAM_ABS_DF_CEILING = 2000

#: corpus size up to which the shingle relation localCheckpoints at
#: plan-build (r12): small corpora are DRIVER-bound — the lazy plan
#: repeats the shingle pipeline per consumer (~5×) and per-invocation
#: analysis + AQE stage rounds outweigh the few-MB block cache
#: (6.64 → 4.29 s interleaved A/B at sf0.1). The ceiling stays an
#: order of magnitude under the x20-docs (100k) reading that REJECTED
#: localCheckpoint there (2.2 GB cache-build spill): between the two,
#: runtime exchange reuse remains the no-footprint materialization.
_LC_MATERIALIZE_MAX_DOCS = 20_000

#: corpus size at which the 4x-cores widened exchanges hold the same
#: per-task state the x100 batteries measured zero-spill (~390k
#: shingle rows/task on this box); scaled_wide doubles the width per
#: additional step so rows/task stays constant as the corpus grows
_WIDE_STEP_DOCS = 500_000


def scaled_wide(spark: SparkSession, n_docs: int) -> int:
    """Partition width for the big-corpus shingle/pair exchanges:
    4x cores per 500k docs, so per-task sort/hash/build state stays at
    the density the x100 batteries certified spill-free. A FIXED 4x
    width re-inflates per-task state linearly with corpus — at x200
    docs (1M) it re-spilled 50 GB in the containment/tfidf shapes and
    OOM'd the ppjoin df-attach's non-spillable shuffled-hash build.
    On a cluster the same rule holds against total executor cores."""
    wide = spark.sparkContext.defaultParallelism * 4
    return wide * max(1, -(-n_docs // _WIDE_STEP_DOCS))


def hashed_shingle_rows(
    spark: SparkSession, docs: DataFrame, n_parts: int | None = None
) -> DataFrame:
    """Distinct ``(doc_id, h1, h2)`` hashed shingle rows — the unit the
    ngram family shuffles (rekey rationale at _split_shingles_by_df)
    and the ROW FORMAT of the maintained shingle-index table
    (sources.writers.append_index_partition): an ingest pipeline lands
    each batch's rows once and later runs pair generation straight off
    the stored index via ``ngram_near_dup_pairs(sh_rows=...)``.

    ``n_parts`` widens the dedup distinct's partitioning (the explicit
    repartition is on exactly the distinct columns, so the aggregate
    reuses it — same single exchange, more waves of smaller hash
    maps). Big-corpus callers pass 4x cores: at x100 docs the default
    one-partition-per-core reduce side held ~1.5M rows/task of hash
    state and spilled 2.15 GB; at 4x width the same distinct runs
    spill-free at equal wall (A/B, round 11). Fixture-scale callers
    leave it None so AQE keeps coalescing. The width also threads into
    shingle_rows' window exchange — the token sort upstream of the
    distinct carries ~4x the row mass and spills first."""
    hashed = shingle_rows(spark, docs, n_parts=n_parts).select(
        "doc_id",
        F.xxhash64(F.lit(-1), F.col("s")).alias("h1"),
        F.xxhash64(F.lit(-2), F.col("s")).alias("h2"),
    )
    if n_parts is not None:
        hashed = hashed.repartition(n_parts, "doc_id", "h1", "h2")
    return hashed.distinct()


def _split_shingles_by_df(
    spark: SparkSession,
    docs: DataFrame,
    max_df_frac: float = _NGRAM_MAX_DF_FRAC,
    min_df_cap: int = _NGRAM_MIN_DF_CAP,
    materialize: bool | str = False,
    sh_rows: DataFrame | None = None,
    n_parts: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Partition the distinct (doc_id, s) shingle rows into rare vs stop
    shingles by document frequency.

    Returns ``(all_rows, rare_rows, stop_shingles)``. The DF threshold
    is ``max(min_df_cap, max_df_frac · n_docs)``, computed fully
    declaratively (single-row count aggregate broadcast into the DF
    table — no driver action). ``materialize=True`` localCheckpoints
    the shingle rows: every downstream branch (sizes, both pair-join
    sides, DF counts, stop-set arrays) re-reads the materialized rows
    instead of re-running the explode+window pipeline ~5×.
    ``materialize="parquet"`` routes the same truncation through a
    scratch-parquet round-trip instead (operators/materialize.py) —
    the big-corpus form: exchange reuse only dedupes the shuffle MAP
    side, so each consumer stage re-runs the reduce-side dedup
    distinct, and at x100 docs those four re-runs were the family's
    whole remaining spill (4 × 2.15 GB memory / 0.09 GB disk) and
    ~40% of its wall; a long-only parquet leaf replaces them with
    column-pruned scans (the exact round-10 minhash_lsh fix, measured
    44.5 → 27.4 s and 8.6 → 2.15 GB memory spill at 500k docs).

    Rows carry ``(doc_id, h1, h2)`` — two independently-seeded
    ``xxhash64`` of the shingle — and NOT the shingle string, which is
    hashed away at the scan boundary: the dedup distinct, the
    rare-pair self-join, the DF count, the anti/semi splits, and the
    stop-set intersections all shuffle and sort 16-byte longs instead
    of ~30–60-byte strings (the string-keyed sorts were the ngram
    family's last x50 spiller, 8–9 GB; SCALING.md).
    Shingle identity ≡ hash-pair identity up to a ~128-bit birthday
    bound (~n²/2¹²⁹: ~10⁻¹⁵ even at 10¹² distinct shingles — below
    hardware error rates). That bound assumes the two 64-bit hashes
    are INDEPENDENT, which seed-prefixed xxhash64 (h1 = hash(-1, s),
    h2 = hash(-2, s) — one hash function, chained arguments) only
    approximates, so treat it as a heuristic rather than a theorem;
    tests/test_operators.py additionally asserts zero collisions on
    the fixture corpus, which is the operative guard. Seeds −1/−2 are
    disjoint from the minhash band seeds (0..7).
    """
    # hash FIRST, then dedup on the hashes: the (doc_id, shingle)
    # distinct was itself a string-keyed sort (and the checkpoint held
    # the strings); after the rekey nothing downstream reads `s`, so
    # the string dies at the scan boundary and every sort/shuffle/
    # checkpoint in the family carries only longs
    if sh_rows is not None:
        # maintained-index path: (doc_id, h1, h2) rows come from a
        # stored shingle-index table instead of re-shingling text.
        # n_docs counts docs WITH shingles (a sub-3-token doc has no
        # index rows) — that only nudges the DF threshold, and the
        # exact per-pair verification makes output independent of
        # where the rare/stop split lands (candidate completeness
        # holds for any split).
        sh = sh_rows.select("doc_id", "h1", "h2")
        if materialize == "parquet":
            # same wide-distinct treatment as the docs branch below
            sh = sh.repartition(
                n_parts or spark.sparkContext.defaultParallelism * 4,
                "doc_id",
                "h1",
                "h2",
            )
        sh = sh.distinct()
        ntot = sh.agg(F.count_distinct("doc_id").alias("n_docs"))
    else:
        sh = hashed_shingle_rows(
            spark,
            docs,
            # the parquet branch IS the big-corpus branch (callers gate
            # it on the 150k-doc pivot): widen its dedup distinct (and
            # the shingle window upstream) so the aggregates that ran
            # with corpus-scale hash state per task go spill-free —
            # callers pass the mass-scaled width (scaled_wide)
            n_parts=(
                (n_parts or spark.sparkContext.defaultParallelism * 4)
                if materialize == "parquet"
                else None
            ),
        )
        ntot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    if materialize == "parquet":
        from ..operators.materialize import parquet_checkpoint

        # lazy consumer contract: the scratch outlives this function
        # (released by the inter-query sweep / atexit, same as
        # minhash_lsh_near_dup's shingle checkpoint)
        sh, _release = parquet_checkpoint(sh, label="ngram-sh")
    elif materialize:
        sh = sh.localCheckpoint(eager=True)
    dfc = sh.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("df"))
    stop = (
        dfc.join(F.broadcast(ntot))
        .where(
            F.col("df")
            > F.least(
                F.lit(_NGRAM_ABS_DF_CEILING).cast("double"),
                F.greatest(
                    F.lit(min_df_cap).cast("double"),
                    F.col("n_docs") * F.lit(max_df_frac),
                ),
            )
        )
        .select("h1", "h2")
    )
    rare = sh.join(stop, ["h1", "h2"], "left_anti")
    return sh, rare, stop


def _pairs_from_rare(
    rare: DataFrame, n_parts: int | None = None, pack_ids: bool = False
) -> DataFrame:
    # project the string away BEFORE the self-join: the quadratic join
    # shuffles/sorts only (doc_id, h1, h2) longs
    hr = rare.select("doc_id", "h1", "h2")
    if n_parts is not None:
        # pin the self-join's width on exactly its equi keys: AQE's
        # byte-based coalescing ran the SMJ at one partition per core
        # at x200 docs (~1.7 GB of deserialized sort state per task —
        # the two sort stages were 2/3 of the family's 26 GB x200
        # spill); the explicit exchange computes once and both join
        # sides reuse it
        hr = hr.repartition(n_parts, "h1", "h2")
    a, b = hr.alias("a"), hr.alias("b")
    # no join hint here: an x100-docs A/B of a shuffled-hash build on
    # the self-join changed neither wall nor spill at scale (the
    # family's remaining x100 spill is shuffle-WRITE sorter spill of
    # the pair exchange, not SMJ sort state) and cost +1.6 s at
    # fixture scale by blocking AQE's strategy choice.
    joined = a.join(
        b,
        (F.col("a.h1") == F.col("b.h1"))
        & (F.col("a.h2") == F.col("b.h2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # widen the count aggregate's partitioning explicitly when the
    # caller says the corpus is big: pair keys are near-unique
    # (background pairs share ~1 shingle), so the agg hash map holds
    # ~one entry per input row and its memory is the pair MASS, not
    # the reduced output — at one-partition-per-core (and worse, AQE's
    # 64 MB-target coalescing) that state crossed the per-task budget
    # at x50 docs and cascaded into sort-fallback spill. A user
    # repartition survives AQE coalescing and the groupBy reuses the
    # partitioning — same single exchange, more waves of smaller hash
    # maps. 4x the core count is the measured sweet spot (an x100 A/B
    # of 500 partitions spilled ~2x more via the wider shuffle write);
    # below the pivot the plain groupBy + AQE coalescing wins (~2 s at
    # fixture scale), so small corpora pass n_parts=None.
    if pack_ids:
        # MEASURED AND REJECTED for the production path (x100 docs,
        # round 11) — kept only as the documented A/B: packing the two
        # ids into ONE long (doc_a·2³¹ + doc_b, ids ∈ [0, 2³¹)) cut
        # the pair-exchange write just 6.84 → 6.47 GB (compression
        # already collapses two-long rows) with no spill or wall
        # change, and it BREAKS predicate pushdown through the pair
        # aggregate — downstream `doc_b >= lo` filters become
        # `(pk & mask) >= lo`, which Catalyst cannot trace to the
        # b-side scan (incremental_near_dup_ingest doubled its x100
        # wall that way). Unit-tested for equivalence; no caller
        # enables it.
        packed = joined.select(
            (
                F.shiftleft(F.col("a.doc_id"), 31) + F.col("b.doc_id")
            ).alias("pk")
        )
        agg = (
            packed
            if n_parts is None
            else packed.repartition(n_parts, "pk")
        )
        return (
            agg.groupBy("pk")
            .agg(F.count(F.lit(1)).alias("common_rare"))
            .select(
                F.shiftright("pk", 31).alias("doc_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 31) - 1)).alias("doc_b"),
                "common_rare",
            )
        )
    joined = joined.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    if n_parts is None:
        return joined.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("common_rare")
        )
    return (
        joined.repartition(n_parts, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common_rare"))
    )


def _stop_chain_pairs(sh: DataFrame, stop: DataFrame) -> DataFrame:
    """Linear-cost safety net for clusters bigger than the DF cap: for
    each stop shingle, link ADJACENT sharers (doc_id order) instead of
    all k²/2 pairs — k−1 chain edges keep every group of stop-shingle
    sharers connected in the candidate graph, so a duplicate cluster
    whose shared shingles all crossed the DF threshold still collapses
    (its chain pairs score J≈1 and survive verification), while output
    stays linear in the stop-row count."""
    srows = sh.select("doc_id", "h1", "h2").join(stop, ["h1", "h2"])
    w = Window.partitionBy("h1", "h2").orderBy("doc_id")
    nxt = F.lead("doc_id").over(w)
    return (
        srows.select(F.col("doc_id").alias("doc_a"), nxt.alias("doc_b"))
        .where(F.col("doc_b").isNotNull())
        .distinct()
    )


def ngram_candidate_pairs(
    spark: SparkSession,
    docs: DataFrame,
    max_df_frac: float = _NGRAM_MAX_DF_FRAC,
    min_df_cap: int = _NGRAM_MIN_DF_CAP,
) -> DataFrame:
    """Candidate (doc_a, doc_b, common_rare) pairs: the DF-capped
    shingle self-join plus stop-shingle chain links. A shingle shared
    by k docs emits ~k²/2 pair rows in the naive join, so rare-only
    pairing bounds that at ``distinct_shingles × cap²/2``; the chain
    links add at most one edge per stop-shingle row. A chain pair that
    shares no rare shingle carries ``common_rare = 0`` — exact, since
    by construction its overlap is stop-only and reconstructed later."""
    sh, rare, stop = _split_shingles_by_df(spark, docs, max_df_frac, min_df_cap)
    chains = _stop_chain_pairs(sh, stop).withColumn("common_rare", F.lit(0).cast("long"))
    return (
        _pairs_from_rare(rare)
        .unionByName(chains)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("common_rare").alias("common_rare"))
    )


def _heavy_docs(
    sh: DataFrame, stop: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Doc ids whose stop-shingle count reaches ``threshold`` of their
    total shingle count — the "boilerplate-heavy" set of the
    :func:`_heavy_stop_pairs` lemma (one ``doc_id`` column)."""
    srows = sh.select("doc_id", "h1", "h2").join(stop, ["h1", "h2"])
    return (
        srows.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_stop"))
        .join(sizes, "doc_id")
        .where(F.col("n_stop") >= F.lit(threshold) * F.col("n"))
        .select("doc_id")
    )


def _heavy_stop_pairs(
    sh: DataFrame,
    stop: DataFrame,
    sizes: DataFrame,
    threshold: float,
    heavy: DataFrame | None = None,
) -> DataFrame:
    """All-pairs candidates among *boilerplate-heavy* docs — the exact
    completion of DF-capped candidate generation.

    Lemma: if a pair qualifies at J ≥ t but shares NO rare shingle,
    every common shingle is a stop shingle, so
    ``|stop(A)| ≥ |A∩B| ≥ t·|A∪B| ≥ t·|A|`` — BOTH docs are
    ≥ t-fraction stop ("heavy"), and they share ≥ 1 stop shingle.
    Hence pairing heavy docs that co-occur on a stop shingle ⊇ every
    qualifying pair the rare join misses, restoring exact all-pairs
    semantics for over-cap duplicate clusters (where the true output
    is itself quadratic in the cluster size). The quadratic term is
    confined to heavy docs: ordinary boilerplate (a nav bar on diverse
    pages) leaves docs far below t-fraction stop and contributes
    nothing here; a corpus that is wall-to-wall boilerplate pays the
    cost its exact answer requires — the bounded scale path remains
    minhash_lsh_near_dup.

    ``heavy`` lets the caller pass the precomputed :func:`_heavy_docs`
    set when it also needs it downstream (ngram_near_dup_pairs uses it
    for the anti-join dedup) — otherwise the stop-join + groupBy scan
    of the shingle relation would run twice per call."""
    srows = sh.select("doc_id", "h1", "h2").join(stop, ["h1", "h2"])
    if heavy is None:
        heavy = _heavy_docs(sh, stop, sizes, threshold)
    hrows = srows.join(heavy, "doc_id", "left_semi")
    a, b = hrows.alias("a"), hrows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_near_dup_pairs(
    spark: SparkSession,
    docs: DataFrame,
    threshold: float = 0.5,
    max_df_frac: float = _NGRAM_MAX_DF_FRAC,
    min_df_cap: int = _NGRAM_MIN_DF_CAP,
    sh_rows: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact-Jaccard near-dup pairs with DF-capped candidate generation.

    Stop shingles are excluded from the main pair join (bounded
    candidates) but their contribution to Jaccard is reconstructed
    *exactly*: each doc carries its (small, ≤ distinct-stop-shingle-
    count) array of stop shingles, and the shared-stop count is
    ``array_intersect`` size at the pair level. So every emitted pair
    has its true Jaccard.

    Candidate completeness (what makes the all-pairs oracle sound for
    EVERY input, not just the fixture): candidates are the rare-shingle
    pairs — covering every pair that shares ≥ 1 rare shingle — plus
    :func:`_heavy_stop_pairs`, which by the lemma there covers every
    qualifying pair whose overlap is stop-only (e.g. a mass-duplicate
    cluster bigger than the DF cap, where ALL shared shingles crossed
    the threshold). Union ⊇ every pair with J ≥ threshold; the exact
    Jaccard filter then makes the output identical to the naive
    all-pairs join.
    """
    # ONE bounded plan-build action steers every scale pivot below:
    # the materialization strategy, the verify attach-join strategy,
    # and the packed-key precondition. (A corpus-scaled pair-aggregate
    # width was A/B'd at x100 docs and REJECTED: 500 partitions
    # spilled 17 GB where 4x-cores spills 9 GB — the wider shuffle
    # WRITE of the pair mass costs more than the narrower aggregate
    # saves; the agg's per-task state at 4x-cores stays under budget
    # up to ~1M pairs/task.)
    # callers holding the raw fixture table pass its footer-metadata
    # row count (sources.readers.fixture_rowcount — the same exact
    # number, ~1 ms instead of a ~0.2 s count job per invocation)
    if n_docs is not None:
        n_docs_exact = n_docs
    else:
        size_src = (
            docs if sh_rows is None else sh_rows.select("doc_id").distinct()
        )
        n_docs_exact = size_src.agg(F.count(F.lit(1)).alias("n")).first()["n"]
    big = n_docs_exact >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs_exact) if big else None
    # Materialization pivot, now THREE-way (r10/r11 + r12 A/Bs):
    # - big (≥150k docs): parquet round-trip — exchange reuse dedupes
    #   only the map side, so all four consumer stages re-ran the
    #   reduce-side dedup distinct (4 × 2.15 GB memory spill, ~40% of
    #   the x100 wall; 44.5 → 27.4 s after).
    # - SMALL (≤20k docs, r12): localCheckpoint. At fixture scale the
    #   cost is not spill but the DRIVER: the lazy form's plan carries
    #   the whole shingle pipeline once per consumer (616 physical
    #   nodes, 84 parquet scans for ngram_jaccard_near_dup), and
    #   per-invocation analysis + AQE stage rounds dominate the wall.
    #   Truncating to a LogicalRDD leaf cut the interleaved A/B median
    #   6.64 → 4.29 s at sf0.1 (−35%); the checkpointed longs are a
    #   few MB, far below any cache-pressure regime. eager=True beat
    #   eager=False 3.45 vs 3.86 in the same protocol.
    # - middle: materialize=False — the x20-docs A/B measured the
    #   localCheckpoint cache-build path spilling 2.2 GB there, while
    #   runtime exchange reuse is the no-footprint materialization.
    sh, rare, stop = _split_shingles_by_df(
        spark,
        docs,
        max_df_frac,
        min_df_cap,
        materialize=(
            "parquet"
            if big
            else n_docs_exact <= _LC_MATERIALIZE_MAX_DOCS
        ),
        sh_rows=sh_rows,
        n_parts=wide,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # one heavy-doc aggregate feeds BOTH the all-pairs completion and
    # the anti-join dedup below (it used to run twice — once inside
    # _heavy_stop_pairs, once for rp_heavy)
    hdocs = _heavy_docs(sh, stop, sizes, threshold)
    heavies = _heavy_stop_pairs(sh, stop, sizes, threshold, heavy=hdocs)
    # pack_ids stays OFF here (x100 A/B, round 11): the packed key
    # saved only 5% of the pair-exchange write (6.84 → 6.47 GB —
    # compression already flattens two-long rows) and changed neither
    # spill nor wall, while BREAKING Catalyst's pushdown of caller
    # predicates through the aggregate — doc_b becomes `pk & mask`, so
    # incremental_near_dup_ingest's `doc_b >= lo` stopped reaching the
    # b-side scan and the batch-sized pair relation inflated to the
    # full-corpus one (28.9 → 61.6 s at x100).
    # the pair-aggregate width scales with corpus too (scaled_wide):
    # the x100 A/B that rejected 500 partitions rejected OVER-widening
    # at fixed corpus (wider shuffle write, same pair mass) — the
    # scaled width keeps pairs/task at the x100-certified ~0.9M as the
    # mass grows, which is the budget the note below pins
    rare_pairs = _pairs_from_rare(rare, n_parts=wide)
    # NOT materialized, by measurement (x200 A/B, round 11): rare_pairs
    # does feed two consumers, but a scratch-parquet checkpoint of the
    # pair ledger MADE SPILL WORSE (27.9 -> 45.9 GB at equal wall) —
    # writing 226M pair rows through the parquet sorter costs more
    # than the second consumer's reduce-side re-run saves. The
    # materialization rule pays for shingle-scale relations with 4+
    # consumers, not pair-scale ones with 2.
    # dedup heavies against rare_pairs WITHOUT re-aggregating the pair
    # mass: the old union + groupBy(max) pushed every rare pair through
    # a second full-width aggregate just to absorb the (tiny) heavy
    # set. Any overlap pair necessarily has BOTH ends heavy, so
    # restrict rare_pairs to heavy endpoints first (two semi joins
    # against the heavy-doc set — map-side once AQE broadcasts it) and
    # anti-join the heavies against that heavy-scale slice instead:
    # heavies \ rare_pairs == heavies \ rare_pairs[both ends heavy].
    rp_heavy = (
        rare_pairs.select("doc_a", "doc_b")
        .join(hdocs.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi")
        .join(hdocs.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi")
    )
    extra = heavies.join(rp_heavy, ["doc_a", "doc_b"], "left_anti").withColumn(
        "common_rare", F.lit(0).cast("long")
    )
    pairs = rare_pairs.unionByName(extra.select("doc_a", "doc_b", "common_rare"))
    # stop-set elements are the hash pair PACKED into one string
    # ("h1:h2", injective for decimal longs): array_intersect only has
    # its fast hash-lookup path for atomic element types — over struct
    # elements it falls back to an O(n·m) interpreted scan (measured
    # 13× on the ppjoin verify before this was caught), and heavy docs
    # in a boilerplate-dominated corpus can carry long stop arrays
    stop_rows = sh.select("doc_id", "h1", "h2").join(
        stop, ["h1", "h2"], "left_semi"
    )
    if big:
        # collect_set state is the stop-row STRING mass per task
        # (ObjectHashAggregate falls back to sort when it outgrows its
        # budget — a 4.6 GB x200 spill stage); widen on the group key
        stop_rows = stop_rows.repartition(wide, "doc_id")
    stop_sets = stop_rows.groupBy("doc_id").agg(
        F.collect_set(F.concat_ws(":", F.col("h1"), F.col("h2"))).alias("ds")
    )
    empty = F.array().cast("array<string>")
    # ONE doc-level side-table (size + stop set) instead of four
    # separate attach joins: the pair relation is pair-SCALE
    # (candidate mass ≫ doc count — 63M rows in the x50 stress), so
    # halving the number of joins it flows through halves its
    # exchanges. Join-strategy pivot: while doc_info fits the AQE
    # broadcast threshold (fixture..x20 ≈ ≤150k docs) the upgrade is
    # free and the pair mass is never re-shuffled — but past it the
    # sort-merge fallback SORTS the pair relation twice (measured
    # 1.0 + 2.7 GB sort spill at x50), while a pinned shuffled-hash
    # build streams it sort-free (x50: zero spill, −4 s wall; the pin
    # at x20 instead costs ~6 s by blocking the broadcast upgrade —
    # measured both ways, round 10). The plan-build count above picks
    # the side of that pivot explicitly.
    doc_info = sizes.join(stop_sets, "doc_id", "left")
    if big:
        # pinned SHJ builds are non-spillable — bound the per-task
        # build by repartitioning on the join key at the mass-scaled
        # width (the ppjoin/minhash x200 OOM lesson; AQE's byte-based
        # sizing of the stop-array rows can overshoot the budget)
        doc_info = doc_info.repartition(wide, "doc_id").hint("shuffle_hash")
    ia = doc_info.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n1"),
        F.col("ds").alias("ds_a"),
    )
    ib = doc_info.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n2"),
        F.col("ds").alias("ds_b"),
    )
    shared_stop = F.size(
        F.array_intersect(F.coalesce("ds_a", empty), F.coalesce("ds_b", empty))
    )
    common = F.col("common_rare") + shared_stop
    jac = common / (F.col("n1") + F.col("n2") - common)
    return (
        pairs.join(ia, "doc_a")
        .join(ib, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "ngram_jaccard_near_dup",
    oracle=f"""
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
    """,
)
def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (threshold 0.5; the fixture
    plants pairs at J≥0.9 over background noise ≤0.07).

    Candidate generation drops document-frequency-capped stop shingles
    (>10% of docs) before the self-join — the scale guard the all-pairs
    form needs — then reconstructs exact Jaccard including the stop
    shingles (see ngram_near_dup_pairs). At 100 TB this same shape is
    the *verification* stage run on LSH candidates
    (see minhash_lsh_near_dup).
    """
    from ..sources.readers import fixture_rowcount

    docs = _t(spark, sf_dir, "documents")
    out = ngram_near_dup_pairs(
        spark,
        docs,
        threshold=0.5,
        n_docs=fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs),
    )
    return out.select("doc_a", "doc_b", _q(F.col("jaccard"), 4).alias("jaccard"))


#: MinHash-LSH knobs: 8 single-hash bands (any-band match = candidate,
#: miss probability (1-J)^8 ≤ 0.4% at the J ≥ 0.5 threshold) and a
#: per-band bucket cap — a bucket this hot means thousands of docs
#: share a minimum shingle hash (boilerplate-dominated corpus); the
#: production move is dropping it, like the DF-cap in the shingle
#: family, not joining it quadratically.
_MH_BANDS = 8
_MH_BUCKET_CAP = 1024
#: non-spillable SHJ build budget for the exact-verify joins: the
#: build sides repartition to ~this many rows per task once the
#: shingle mass crosses the bound (below it AQE's sizing cannot
#: overshoot the budget and fixture plans keep coalescing). The x200
#: lesson: a pinned shuffled-hash build that is NOT explicitly
#: bounded OOMs outright when AQE's byte-based sizing meets a
#: high-compression long relation (~24:1 lz4 → 64 MB advisory
#: ≈ 1.5 GB deserialized hash map).
_VERIFY_BUILD_ROWS_PER_TASK = 500_000
_VERIFY_BOUND_MIN_ROWS = 16_000_000


@query("minhash_lsh_near_dup")  # no oracle: LSH hash family is engine-specific
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — the 100 TB path: shingle →
    seeded ``xxhash64`` minhash signatures (one hash aggregate computes
    all bands) → banded bucket equi-join for candidates → EXACT
    shingle-set Jaccard on candidates only, keeping J ≥ 0.5.
    Deterministic (fixed seeds); ground-truthed against
    ngram_jaccard_near_dup in tests (recall 1.0 on the planted pairs).

    Pure Catalyst. An earlier version delegated to ``pyspark.ml``'s
    ``MinHashLSH.approxSimilarityJoin``, which carries each doc's
    2^18-dim sparse feature vector through the exploded hash-table
    self-join — at the x20 corpus stress that was 55.9 s and the docs
    battery's entire 30 GB spill. Here the only payloads shuffled are
    (doc_id, band, minhash) longs and the candidate-bounded verify.

    Round 10: the shingle STRING dies immediately after the 128-bit
    rekey — signatures minhash the seed-chained (h1, h2) pair instead
    of the raw string (a hash of a hash is as much a random minhash
    family as a hash of the string; rows-only entry, and the exact
    verify makes the OUTPUT invariant to the band family wherever
    banding recall holds — the tested planted-pair recall stays 1.0) —
    and the four-consumer shingle relation materializes through a
    PARQUET round-trip instead of the old string-laden
    ``localCheckpoint`` (block-cache materialization was the round-10
    spill root cause, operators/materialize.py; the string checkpoint
    carried 39.8 GB of spill at x100 docs, and plain exchange-reuse
    re-ran the explode 4x for +70 s wall — the long-only parquet leaf
    avoids both)."""
    from ..operators.materialize import parquet_checkpoint

    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    # the release handle cannot fire here — the returned DataFrame is
    # lazy and the consuming action runs in the caller; loop harnesses
    # reclaim the scratch between queries via sweep_checkpoint_scratch
    # (bench.time_query / scale_stress.run_battery), and atexit covers
    # one-shot sessions
    sh, _release = parquet_checkpoint(
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(_shingles(_toks()))).alias("s"),
        ).select(
            "doc_id",
            F.xxhash64(F.lit(-1), F.col("s")).alias("h1"),
            F.xxhash64(F.lit(-2), F.col("s")).alias("h2"),
        ),
        label="minhash-sh",
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("h1"), F.col("h2"))).alias(f"mh{i}")
            for i in range(_MH_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"mh{i}").alias("mh")
                    )
                    for i in range(_MH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.mh")
    cool = bands.join(
        bands.groupBy("band", "mh")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") <= _MH_BUCKET_CAP)
        .select("band", "mh"),
        ["band", "mh"],
    )
    cand = (
        cool.alias("a")
        .join(cool.alias("b"), ["band", "mh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # exact verify on the 128-bit rekeyed rows (seeds -1/-2, disjoint
    # from the band seeds 0..7 — same grid as _split_shingles_by_df).
    # Both verify joins pin a shuffled-hash BUILD on the shingle side:
    # candidate mass outgrows the shingle relation with corpus size
    # (banding emits ~bucket²/2 rows per bucket), and the SMJ fallback
    # sorted the candidate relation twice — ALL 37 GB of this query's
    # x100-docs spill lived in that one verify stage; the hash build
    # of the doc-scale side streams candidates sort-free.
    #
    # A pinned SHJ build is NON-SPILLABLE, so its per-task state must
    # be bounded explicitly: at x200 docs (1M) the AQE-sized verify
    # exchange left ~64 MB compressed (≈1.5 GB deserialized — longs
    # lz4 ~24:1) of build per task and the join OOM'd outright
    # ("not enough memory to build hash map", 8 failed tasks). The
    # build side therefore repartitions to ~500k rows/task scaled by
    # the ACTUAL shingle mass — one metadata-cheap count on the
    # materialized parquet leaf — which is the cluster posture too:
    # partition count grows with data, per-task build state does not.
    wide = sh.sparkSession.sparkContext.defaultParallelism * 4
    n_sh = sh.count()
    n_verify = max(wide, -(-n_sh // _VERIFY_BUILD_ROWS_PER_TASK))
    # below the bound AQE's sizing stays far under the build budget —
    # keep the implicit exchange so fixture/x20 plans coalesce
    bounded = n_sh >= _VERIFY_BOUND_MIN_ROWS
    build_a = sh.select(F.col("doc_id").alias("doc_a"), "h1", "h2")
    build_b = sh.select(F.col("doc_id").alias("doc_b"), "h1", "h2")
    if bounded:
        build_a = build_a.repartition(n_verify, "doc_a")
        build_b = build_b.repartition(n_verify, "doc_b", "h1", "h2")
    inter = (
        cand.join(build_a.hint("shuffle_hash"), "doc_a")
        .join(build_b.hint("shuffle_hash"), ["doc_b", "h1", "h2"])
        .repartition(n_verify if bounded else wide, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb")), "doc_b")
        .where(j >= 0.5)
        .select("doc_a", "doc_b", _q(1 - j, 4).alias("jaccard_dist"))
    )


def simhash_signatures(docs: DataFrame, n_parts: int | None = None) -> DataFrame:
    """64-bit SimHash signatures as a pure-JVM expression pipeline:
    explode tokens → ``xxhash64`` per token → one hash aggregate with 64
    per-bit vote sums → bit-pack votes back into an int64.

    No Python in the hot path (an earlier pandas-UDF md5 version was
    ~5× slower at sf0.1): the explode+agg shape is one shuffle keyed on
    doc_id with map-side partial votes, which is exactly the plan that
    survives a 100 TB corpus. Bit 63 is folded in as +min-long to stay
    inside signed-int64 under ANSI overflow checking.

    Features are token 3-gram shingles, not unigrams: with a small
    shared vocabulary, unigram bags are near-identical across unrelated
    docs and the banded join degenerates quadratically; shingles keep
    signatures discriminative. The shingle feature hash is
    ``xxhash64(h(t1), h(t2), h(t3))`` over per-token hashes — no shingle
    string is ever materialized, everything stays codegen'd.

    ``n_parts`` widens the doc_id exchange the window sorts on —
    big-corpus callers pass 4x cores: at x200 docs the one-per-core
    window sort held ~6M token rows/task and spilled 2.4 GB (the
    query's only spilling stage); wider tasks sort the same mass
    spill-free. Fixture callers leave it None (AQE coalesces).
    """
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    ).select("doc_id", "pos", F.xxhash64("tok").alias("h1"))
    if n_parts is not None:
        toks = toks.repartition(n_parts, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("pos")
    h2, h3 = F.lead("h1", 1).over(w), F.lead("h1", 2).over(w)
    hashed = (
        toks.select("doc_id", F.when(h3.isNotNull(), F.xxhash64("h1", h2, h3)).alias("h"))
        .where(F.col("h").isNotNull())
    )

    # Pack the 64 per-bit one-counters into 16 longs of 4×16-bit lanes
    # (feature counts stay < 2¹⁶, so lanes cannot carry into each other):
    # 16 aggregate columns instead of 64 → ~4× less agg-buffer traffic
    # and a much smaller codegen unit.
    #
    # All wide expressions are built as SQL strings parsed in ONE call:
    # constructing the same trees through the Column API costs thousands
    # of py4j round-trips (~2 s of driver time per invocation, measured
    # — more than the job's entire execution time at sf0.1).
    def packed(k: int) -> str:
        lanes = " + ".join(
            f"shiftleft(shiftrightunsigned(h, {4 * k + f}) & 1, {16 * f})"
            for f in range(4)
        )
        return f"sum({lanes}) AS p{k}"

    votes = hashed.groupBy("doc_id").agg(
        F.expr("count(1) AS n"), *[F.expr(packed(k)) for k in range(16)]
    )

    def ones(i: int) -> str:
        # ones-count for bit i lives in lane i%4 of packed column i//4;
        # majority vote: 2·ones > n
        return f"(shiftrightunsigned(p{i // 4}, {16 * (i % 4)}) & 65535)"

    terms = [f"IF({ones(i)} * 2 > n, {1 << i}L, 0L)" for i in range(63)]
    # bit 63 folds in as +min-long to stay inside signed int64 under
    # ANSI overflow checking
    terms.append(f"IF({ones(63)} * 2 > n, -9223372036854775807L - 1L, 0L)")
    sig = " + ".join(terms)
    return votes.select("doc_id", F.expr(f"({sig}) AS simhash"))


# --- SimHash banding ------------------------------------------------------
#
# Block partition of the 64-bit signature: 5 blocks (13,13,13,13,12
# bits). Any hamming-≤3 pair differs in ≤3 blocks → at least 2 blocks
# agree → the pair collides on at least one of the C(5,2)=10
# block-pairs (pigeonhole). Using a *pair* of blocks (~26-bit key)
# instead of one 16-bit band is the scale fix: bucket space grows from
# 2^16 to ~2^26, so random candidate pairs fall off by ~2^10 per band
# while the guarantee for hamming ≤ 3 is unchanged — the block-combination
# scheme from Manku et al., WWW'07, tuned so each doc emits only 10
# band rows.
_SIMHASH_BLOCK_OFFSETS = (0, 13, 26, 39, 52)
_SIMHASH_BLOCK_WIDTHS = (13, 13, 13, 13, 12)
_SIMHASH_COMBOS = tuple(
    (i, j) for i in range(5) for j in range(i + 1, 5)
)
#: safety valve: buckets bigger than this are dropped from candidate
#: generation. A bucket this size means thousands of docs agree on 33
#: signature bits — degenerate boilerplate mass-duplicates that exact
#: dedup already collapses; keeping them would emit cap²/2 pairs each.
_SIMHASH_BUCKET_CAP = 10_000


def simhash_band_rows(sigs: DataFrame) -> DataFrame:
    """``(doc_id, simhash, band, key)`` rows — 10 block-pair band keys
    per signature, all pure bit arithmetic (codegen'd, no Python; the
    whole projection is one parsed SQL expression to keep driver-side
    plan construction cheap)."""

    def block(i: int) -> str:
        mask = (1 << _SIMHASH_BLOCK_WIDTHS[i]) - 1
        return f"(shiftrightunsigned(simhash, {_SIMHASH_BLOCK_OFFSETS[i]}) & {mask})"

    structs = ", ".join(
        f"struct({c} AS band, shiftleft({block(i)}, 13) | {block(j)} AS key)"
        for c, (i, j) in enumerate(_SIMHASH_COMBOS)
    )
    return sigs.selectExpr(
        "doc_id", "simhash", f"explode(array({structs})) AS bk"
    ).select("doc_id", "simhash", "bk.band", "bk.key")


@query("simhash_near_dup")  # no oracle: custom 64-bit hash family
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: expression-only signatures
    (:func:`simhash_signatures`), then banded self-join on 10
    block-pair keys (~26 bits each — see :func:`simhash_band_rows`)
    with a per-bucket cardinality cap. Candidates sharing a band are
    verified with exact ``bit_count`` hamming ≤ 3. Deterministic
    (xxhash64 token hashes, fixed block layout).
    """
    from ..sources.readers import fixture_rowcount

    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    # footer rowcount (r13): the scale pivot ran a count JOB per
    # invocation — the r12 footer fast path (mechanism 3) applied here
    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    n_parts = (
        scaled_wide(spark, n_docs) if n_docs >= _ATTACH_SHJ_MIN_DOCS else None
    )
    # localCheckpoint: both sides of the banded self-join read the
    # signatures — without materialization the explode+agg pipeline
    # runs twice (2× wall-clock measured), and the checkpoint also
    # truncates the (wide) signature lineage so the join analyzes a
    # constant-size plan. Checkpoint blocks are released by the
    # ContextCleaner once the frame is unreachable (the session pins
    # periodicGC to 15s), so no manual cache bookkeeping is needed.
    sigs = simhash_signatures(docs, n_parts=n_parts).localCheckpoint(eager=True)
    bands = simhash_band_rows(sigs)
    # bucket-cardinality guard before the self-join: the window count
    # shuffles on exactly the join key, so it reuses the partitioning
    # the join needs anyway.
    wb = Window.partitionBy("band", "key")
    bands = bands.withColumn("__bn", F.count(F.lit(1)).over(wb)).where(
        F.col("__bn") <= _SIMHASH_BUCKET_CAP
    ).drop("__bn")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    # verify BEFORE the dedup shuffle: only true hamming-≤3 pairs (a
    # tiny fraction of band collisions) pay the distinct
    return (
        cand.where(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "doc_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           floor((CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                 / len(toks)) * 1e4) / 1e4 AS avg_token_len
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting entirely in expressions — split once, then
    size/array_distinct/aggregate over the array column."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    total_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        _q(total_len / F.size(toks), 4).alias("avg_token_len"),
    )


@query(
    "doc_quality_score",
    oracle=f"""
    SELECT doc_id,
           floor((CAST(len(list_filter(toks, t -> t IN {_STOPWORDS})) AS DOUBLE)
                 / len(toks)) * 1e4) / 1e4 AS stopword_ratio,
           floor((0.5 * least(n_chars, 500) / 500.0
                 + 0.5 * (1.0 - CAST(len(list_filter(toks, t -> t IN {_STOPWORDS})) AS DOUBLE)
                                / len(toks))) * 1e4) / 1e4 AS quality
    FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents) t
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length + stopword-density), the
    filter-before-train shape: a pure expression over the token array, so
    scoring 100 TB is a map-only pass with full codegen."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / F.size(toks)
    )
    quality = 0.5 * F.least(F.col("n_chars"), F.lit(500)) / 500.0 + 0.5 * (
        1.0 - stop_ratio
    )
    return docs.select(
        "doc_id",
        _q(stop_ratio, 4).alias("stopword_ratio"),
        _q(quality, 4).alias("quality"),
    )


@query(
    "quality_threshold_calibration",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(floor((0.5 * least(n_chars, 500) / 500.0
                   + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                       t -> t IN {_STOPWORDS}))
                                       AS DOUBLE)
                                  / len(string_split(text, ' ')))) * 1e4)
                  AS BIGINT) AS q
      FROM documents),
    c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(quantile_disc(q, 0.4) AS BIGINT) AS cutoff
      FROM s GROUP BY source)
    SELECT source, n_docs, cutoff,
           CAST(count(CASE WHEN s.q >= cutoff THEN 1 END) AS BIGINT) AS n_kept,
           CAST(floor(count(CASE WHEN s.q >= cutoff THEN 1 END) * 1e6
                      / n_docs) AS BIGINT) AS keep_micro
    FROM s JOIN c USING (source)
    GROUP BY source, n_docs, cutoff
    ORDER BY source
    """,
)
def quality_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrate a per-source quality cutoff from the data instead of
    hardcoding one: the keep threshold is each source's 40th-percentile
    quality score (percentile_disc — an actually-occurring grid value),
    targeting a ~60% keep rate per source, with the realized keep count
    and rate reported. This is how a curation run picks thresholds that
    won't accidentally wipe out a source whose score distribution sits
    lower than the corpus average.

    Scale shape: scores are the same map-only integer-grid expression
    as doc_quality_score; the per-source quantile uses
    ``operators/quantiles.grouped_exact_quantiles`` (distinct-value
    relation — bounded by the 10⁴ score grid per source, never by
    corpus rows); the cutoff table is sources-scale and broadcast back
    for the keep count. Two corpus passes, zero unbounded state."""
    from ..operators.quantiles import grouped_exact_quantiles

    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / F.size(toks)
    )
    quality = 0.5 * F.least(F.col("n_chars"), F.lit(500)) / 500.0 + 0.5 * (
        1.0 - stop_ratio
    )
    s = docs.select(
        "source", F.floor(quality * 1e4).cast("long").alias("q")
    )
    cuts = grouped_exact_quantiles(
        s, ["source"], "q", {}, count_col="n_docs", disc_qs={"cutoff": 0.4}
    ).select("source", "n_docs", F.col("cutoff").cast("long").alias("cutoff"))
    joined = s.join(F.broadcast(cuts), "source")
    return (
        joined.groupBy("source", "n_docs", "cutoff")
        .agg(
            F.sum(F.when(F.col("q") >= F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
        .select(
            "source",
            "n_docs",
            "cutoff",
            "n_kept",
            F.floor(F.col("n_kept") * 1e6 / F.col("n_docs"))
            .cast("long")
            .alias("keep_micro"),
        )
    )


@query(
    "lang_filter_en_stats",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           floor((sum(n_chars) * 1.0 / count(n_chars)) * 1e4) / 1e4 AS avg_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source
    """,
)
def lang_filter_en_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filter + profile: the predicate pushes to the parquet
    scan (lang is a low-cardinality column — at scale, partition or
    z-order on it so pruning skips the other languages entirely)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            _q(F.sum("n_chars") / F.count("n_chars"), 4).alias("avg_chars"),
        )
    )


#: per-language marker-token profiles for the lang-ID heuristic —
#: module-level so the DuckDB oracle derives from the SAME table
_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "fr": ("le", "la", "de"),
    "de": ("der", "die", "das"),
    "es": ("el", "la", "que"),
    "zh": ("的", "了", "是"),
}


def _lang_id_oracle() -> str:
    structs = ",\n           ".join(
        "{'score': len(list_intersect(toks, ["
        + ", ".join(f"'{m}'" for m in ms)
        + f"])), 'lang': '{lang}'}}"
        for lang, ms in _LANG_MARKERS.items()
    )
    return f"""
    WITH t AS (
      SELECT doc_id, lang AS labeled_lang,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    s AS (
      SELECT doc_id, labeled_lang,
             list_aggregate([
           {structs}
             ], 'max') AS best
      FROM t)
    SELECT doc_id, labeled_lang, best.lang AS predicted_lang,
           CAST(best.score AS BIGINT) AS marker_hits
    FROM s
    """


@query("lang_id_heuristic", oracle=_lang_id_oracle())
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-profile language ID heuristic: score each doc against
    per-language marker-token sets (expression-only: array intersect
    sizes), emit the argmax language. The fixture's text is synthetic
    word-soup, so this demonstrates the *operator shape* (deterministic,
    vectorized, no UDF); accuracy against the ``lang`` column is
    reported, not asserted.

    Oracle-paired: the scoring is pure set arithmetic, and the argmax
    struct (score, lang) compares lexicographically identically in
    Spark (``array_max`` over structs) and DuckDB (``list_aggregate
    'max'``) — ties resolve to the lexicographically greatest language
    on both engines."""
    docs = _t(spark, sf_dir, "documents")
    markers = _LANG_MARKERS
    toks = F.array_distinct(_toks())
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(m) for m in ms]))
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, ms in markers.items()
        ]
    )
    best = F.array_max(scores)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best.getField("lang").alias("predicted_lang"),
        best.getField("score").cast("long").alias("marker_hits"),
    )


@query(
    "doc_fingerprint_minshingle",
    oracle=f"""
    SELECT doc_id,
           list_aggregate([sha256(s) FOR s IN {_DUCK_SHINGLES}], 'min') AS fingerprint
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    """,
)
def doc_fingerprint_minshingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing-style): min sha256 over token
    3-gram shingles — content-defined and robust to suffix edits.

    Built on :func:`shingle_rows` + a min aggregate rather than
    ``array_min(transform(...))``: higher-order functions evaluate
    interpreted and proved fragile under long-session memory pressure,
    while this shape is whole-stage-codegen'd end to end. Docs too short
    to have a shingle keep a NULL fingerprint via the left join (the
    oracle's empty-list min is NULL too)."""
    docs = _t(spark, sf_dir, "documents")
    fp = (
        shingle_rows(spark, docs)
        .select("doc_id", F.sha2(F.col("s"), 256).alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"))
    )
    return docs.select("doc_id").join(fp, "doc_id", "left")


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_DUCK_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)
_DUCK_NORM = (
    "sqrt(list_aggregate(list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))"
)


@query(
    "embedding_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
    sims AS (
      SELECT q_id, e.vec_id,
             {_DUCK_DOT.format(a='q_emb', b='e.embedding')}
               / ({_DUCK_NORM.format(a='q_emb')} * {_DUCK_NORM.format(a='e.embedding')}) AS sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q_id),
    ranked AS (
      SELECT q_id, vec_id, floor((sim) * 1e6) / 1e6 AS sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
      FROM sims)
    SELECT q_id, vec_id, sim, rk FROM ranked WHERE rk <= 5
    """,
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine — the ANN correctness baseline. The query
    set broadcasts; the corpus streams map-side (no shuffle of the
    corpus), then a per-query window takes k. Math is double-accumulated
    zip_with/aggregate expressions (functions.vectors) — JVM-side, no
    Python, engine-identical to the oracle's explicit double formula."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sims = (
        emb.join(F.broadcast(q), emb.vec_id != q.q_id)
        .select(
            "q_id",
            "vec_id",
            cosine_similarity("q_emb", "embedding").alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.select(
            "q_id",
            "vec_id",
            _q("sim", 6).alias("sim"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 5)
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label, count(*) AS n_vecs,
           floor((sum(CAST(floor(({_DUCK_NORM.format(a='embedding')}) * 1e8) AS BIGINT))
                  / (1e8 * count(*))) * 1e4) / 1e4 AS avg_norm,
           floor((min({_DUCK_NORM.format(a='embedding')})) * 1e4) / 1e4 AS min_norm,
           floor((max({_DUCK_NORM.format(a='embedding')})) * 1e4) / 1e4 AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    n = l2_norm("embedding")
    # avg over raw doubles is summation-order-dependent (the PageRank
    # hazard); floor each norm onto a 1e-8 integer grid and sum as
    # BIGINT so both engines average identical exact integers
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        _q(
            F.sum(F.floor(n * F.lit(1e8)).cast("long"))
            / (F.lit(1e8) * F.count(F.lit(1))),
            4,
        ).alias("avg_norm"),
        _q(F.min(n), 4).alias("min_norm"),
        _q(F.max(n), 4).alias("max_norm"),
    )


@query("embedding_ann_lsh")  # no oracle: LSH bucketing is engine-specific
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane bucketing
    (BucketedRandomProjectionLSH, seeded) — each query probes only its
    buckets instead of the full corpus. Recall vs the brute-force
    baseline is measured in tests; rows-only driver check."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("vec")
    )
    q = emb.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(q, emb, 12.0, distCol="dist")
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        pairs.select(
            F.col("datasetA.q_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("vec_id"),
            _q("dist", 4).alias("dist"),
        )
        .where(F.col("q_id") != F.col("vec_id"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


@query(
    "multimodal_bytes_profile",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           upper(hex(substring(text, 1, 8))) AS prefix_hex
    FROM documents
    """,
)
def multimodal_bytes_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling pattern: payloads profiled by byte length /
    digest / magic-bytes prefix without decoding. Fixture has no real
    binary column, so the documents' UTF-8 bytes stand in; the plumbing
    (octet_length, digest, prefix) is exactly what a BinaryType image
    column gets at scale."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.upper(F.hex(F.substring(F.col("text"), 1, 8))).alias("prefix_hex"),
    )


_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("kind", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_frames", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


@query("multimodal_decode_features")  # rows-only: the PNG half (zlib) has no
# closed SQL form; the WAV half is hash-certified by the
# multimodal_decode_wav_certified twin below
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature-extract over ``mapInPandas`` with a
    REAL decoder (functions.multimodal): spec-valid PNG and WAV payloads
    are synthesized per doc (the fixture has no binary column), then
    decoded the hard way — chunk walk, CRC32 verification, zlib inflate,
    filter-byte strip, PCM frame parse — and per-channel pixel means /
    mean-absolute-amplitude come from the actual payload bytes. The
    Spark-side shape is the production one: BinaryType column in, Arrow
    batches through Python, typed struct out, partition-parallel;
    swapping in PIL/ffmpeg for more formats changes only
    ``decode_payload``, not the plan.
    """
    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id"))

    def synth_batch(it):
        # absolute import: the closure executes on executor workers
        from projet5_spark.functions.multimodal import synth_payload

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_payload(int(d)) for d in pdf["doc_id"]],
                }
            )

    payloads = docs.mapInPandas(
        synth_batch,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )

    def decode_batch(it):
        from projet5_spark.functions.multimodal import decode_payload

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                meta = decode_payload(data)
                rows.append(
                    (
                        doc_id,
                        len(data),
                        meta["kind"],
                        meta["width"],
                        meta["height"],
                        meta["channels"],
                        meta["sample_rate"],
                        meta["n_frames"],
                        meta["features"],
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _DECODE_SCHEMA.fields])

    return payloads.mapInPandas(decode_batch, schema=_DECODE_SCHEMA)


@query(
    "multimodal_decode_wav_certified",
    oracle="""
    WITH RECURSIVE odd AS (
      SELECT doc_id,
             CAST(8000 + 100 * (doc_id % 5) AS BIGINT) AS sample_rate,
             CAST(256 + doc_id % 128 AS BIGINT) AS n_frames
      FROM documents WHERE doc_id % 2 = 1),
    lcg AS (
      -- seed mask mirrors synth_wav's `seed & 0x7FFFFFFF`; also keeps
      -- the first `state * 1103515245` product inside BIGINT for any
      -- doc_id (unmasked, doc_id >= 2^31 would diverge / overflow)
      SELECT doc_id, n_frames, CAST(0 AS BIGINT) AS i,
             CAST(doc_id % 2147483648 AS BIGINT) AS state,
             CAST(0 AS BIGINT) AS sum_abs
      FROM odd
      UNION ALL
      SELECT doc_id, n_frames, i + 1,
             (state * 1103515245 + 12345) % 2147483648,
             sum_abs + abs(((state * 1103515245 + 12345) % 2147483648)
                           % 65536 - 32768)
      FROM lcg WHERE i < n_frames)
    SELECT o.doc_id AS doc_id, o.sample_rate AS sample_rate,
           CAST(1 AS BIGINT) AS channels, o.n_frames AS n_frames, l.sum_abs
    FROM odd o JOIN lcg l ON o.doc_id = l.doc_id AND l.i = o.n_frames
    """,
)
def multimodal_decode_wav_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal DECODE with a hash-certified oracle — the audio half
    of ``multimodal_decode_features`` made engine-neutral: the WAV
    fixture payloads are PCM streams from a 31-bit LCG
    (``state' = (state·1103515245 + 12345) mod 2^31``, sample =
    ``state' mod 2^16 − 2^15``, seed = doc_id), so DuckDB replays the
    ENTIRE decode closed-form in a recursive CTE and equality certifies
    the real decoder end-to-end — RIFF framing, fmt parse, 16-bit PCM
    unpack, and the integer amplitude aggregate (``sum_abs`` instead of
    the float mean: exact on both engines by construction). The PNG
    half stays rows-only in the sibling entry — zlib inflation has no
    closed SQL form (the resize twin covers the pixel path instead,
    multimodal_resize_thumbnails).

    Spark-side shape is the production one and identical to the
    rows-only sibling: synthesize a BinaryType payload column, Arrow
    batches through ``mapInPandas``, typed struct out, partition-
    parallel; the decoder is projet5_spark.functions.multimodal's
    chunk-walking parser, not a shortcut that trusts the synth
    parameters."""
    docs = _spread(
        spark,
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 2 == 1),
    )

    def synth_batch(it):
        from projet5_spark.functions.multimodal import synth_payload

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_payload(int(d)) for d in pdf["doc_id"]],
                }
            )

    payloads = docs.mapInPandas(
        synth_batch,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )

    def decode_batch(it):
        from projet5_spark.functions.multimodal import decode_wav

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_wav(bytes(payload))
                rows.append(
                    (
                        int(doc_id),
                        meta["sample_rate"],
                        meta["channels"],
                        meta["n_frames"],
                        meta["sum_abs"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "channels", "n_frames", "sum_abs"],
            )

    return payloads.mapInPandas(
        decode_batch,
        schema=(
            "doc_id bigint, sample_rate bigint, channels bigint, "
            "n_frames bigint, sum_abs bigint"
        ),
    )


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
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
    )
    SELECT a AS doc_id, min(b) AS cluster_rep FROM reach GROUP BY a
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: Jaccard edges (≥0.5) → connected components
    by iterative min-label propagation (operators.graph) — every doc in
    a cluster maps to the cluster's minimum doc_id as representative.

    The oracle computes the same components with a recursive-CTE
    transitive closure; equality proves the iterative loop converged to
    the true components. This is the "collapse near-dup clusters to one
    exemplar" step of a training-data dedup pipeline.
    """
    from ..operators.graph import connected_components

    edges = ngram_jaccard_near_dup(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(edges, "src", "dst")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


@query(
    "training_set_selection",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text, lang, n_chars,
             0.5 * least(n_chars, 500) / 500.0
             + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                 t -> t IN {_STOPWORDS})) AS DOUBLE)
                            / len(string_split(text, ' '))) AS q
      FROM documents)
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM scored
    WHERE lang IN ('en', 'de') AND q >= 0.55
    GROUP BY text
    """,
)
def training_set_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set selection: language filter + quality
    threshold + exact dedup keeping the lowest doc_id — the composed
    filter-then-dedup pass of a data pipeline, one declarative plan
    (filters reach the scan; dedup is one digest-keyed aggregate).

    The dedup groups on ``sha2(text, 256)``, never the raw body: the
    shuffle carries a 32-byte key per row regardless of document size
    (operators/dedup.py doctrine — at 100 TB this is the difference
    between shuffling hashes and shuffling the corpus). Grouping by
    digest ≡ grouping by text up to SHA-256 collisions (~2⁻¹²⁸ at any
    realistic corpus size)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / F.size(toks)
    )
    q = 0.5 * F.least(F.col("n_chars"), F.lit(500)) / 500.0 + 0.5 * (1.0 - stop_ratio)
    return (
        docs.where(F.col("lang").isin("en", "de"))
        .where(q >= 0.55)
        .groupBy(F.sha2(F.col("text"), 256).alias("__h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


@query(
    "doc_repetition_quality",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
    uni AS (
      SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct, max(c) AS top_c
      FROM tf GROUP BY doc_id),
    bg AS (
      SELECT doc_id,
             CAST(len(toks) - 1 AS BIGINT) AS n_bigrams,
             CAST(len(list_distinct([toks[i] || ' ' || toks[i+1]
                    FOR i IN range(1, len(toks))])) AS BIGINT) AS n_distinct_bigrams
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
      WHERE len(toks) >= 2)
    SELECT u.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           floor((CAST(n_distinct AS DOUBLE) / n_tokens) * 1e4) / 1e4
             AS distinct_token_ratio,
           floor((CAST(top_c AS DOUBLE) / n_tokens) * 1e4) / 1e4
             AS top_token_share,
           floor((1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams) * 1e4) / 1e4
             AS dup_bigram_frac
    FROM uni u JOIN bg USING (doc_id)
    """,
)
def doc_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token
    ratio, most-frequent-token share, duplicate-bigram fraction — the
    boilerplate/spam filters a pretraining pipeline applies before
    near-dup dedup.

    Shape: one token explode → (doc, term) count aggregate → per-doc
    rollup (all map-side-combinable), plus a bigram pass over the array
    column in pure expressions. One doc_id-keyed shuffle total; ratios
    are integer-over-integer doubles, engine-identical.
    """
    # _spread AFTER projecting to (doc_id, text): the interpreted bigram
    # HOFs below are per-row compute that runs one-core on the
    # single-split fixture without the fan-out. The round-4 regression
    # came from spreading the full 5-column rows (defeating column
    # pruning); noop-sink medians at sf0.1: full-row spread ~2.3 s,
    # no spread ~2.8 s (serial HOFs), projected spread ~0.8 s.
    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    uni = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    toks = _toks()
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        ),
    )
    bg = docs.select(
        "doc_id",
        (F.size(toks) - 1).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    ).where(F.size(toks) >= 2)
    return uni.join(bg, "doc_id").select(
        "doc_id",
        "n_tokens",
        _q(F.col("n_distinct").cast("double") / F.col("n_tokens"), 4).alias(
            "distinct_token_ratio"
        ),
        _q(F.col("top_c").cast("double") / F.col("n_tokens"), 4).alias(
            "top_token_share"
        ),
        _q(
            1.0 - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams"), 4
        ).alias("dup_bigram_frac"),
    )


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1) t2),
    eval_sh AS (SELECT doc_id, s FROM sh WHERE doc_id < 10),
    corpus_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id >= 10)
    SELECT e.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           floor((CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) * 1e4) / 1e4 AS contamination_frac
    FROM eval_sh e LEFT JOIN corpus_sh c ON e.s = c.s
    GROUP BY e.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for each held-out "eval" doc
    (doc_id < 10 stands in for an eval set), the fraction of its
    distinct 3-gram shingles that appear anywhere in the training
    corpus (doc_id ≥ 10).

    Shape: the eval side is tiny and the corpus side reduces to its
    DISTINCT shingle set before the join, so the join input is bounded
    by corpus vocabulary, not corpus size; the shuffle key is the
    shingle. This is the decontamination pass run before training-set
    selection at scale.
    """
    docs = _t(spark, sf_dir, "documents")
    sh = shingle_rows(spark, docs).distinct()
    eval_sh = sh.where(F.col("doc_id") < 10)
    corpus_sh = (
        sh.where(F.col("doc_id") >= 10).select("s").distinct().withColumn(
            "__hit", F.lit(1)
        )
    )
    return (
        eval_sh.join(corpus_sh, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            _q(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"), 4
            ).alias("contamination_frac"),
        )
    )


@query(
    "embedding_cosine_near_dup",
    oracle=f"""
    WITH sims AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')}) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, floor((sim) * 1e4) / 1e4 AS sim
    FROM sims WHERE sim >= 0.4
    """,
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-dup pairs — the SemDeDup-style
    dedup signal: all pairs with cosine ≥ τ (τ=0.4 against this
    fixture's random embeddings; real corpora use ~0.95+).

    Exact and fully distributed via :func:`cosine_pairs_blocked`: no
    driver collect, no corpus broadcast — the corpus is replicated B
    times across B(B+1)/2 co-located block-pair groups (one shuffle of
    O(n·B) rows, per-task memory O(n/B)), and each group computes its
    cosine block with one vectorized numpy matmul, emitting only the
    ≥ τ survivors — the O(n²) pair space is never materialized.
    τ-recall is exact (unlike the ANN candidate paths, whose recall is
    probabilistic); for provably bounded corpora
    :func:`verify_pairs_dense` is the guarded single-broadcast variant.

    Determinism note: the matmul may reassociate each dot sum — a sim
    within ULPs of the τ cut or a 1e-4 grid edge could floor
    differently than the oracle's sequential reduction. The fixture's
    sims sit nowhere near those edges (and this pairing has passed the
    gate since round 2); pin τ away from attainable values for
    adversarial data. Zero-norm vectors are excluded on both engines
    (dropped in the kernel here, NaN/0-division there).
    """
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_pairs_blocked(spark, emb, tau=0.4)


def cosine_pairs_blocked(
    spark: SparkSession,
    emb: DataFrame,
    tau: float,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 8192,
) -> DataFrame:
    """Exact all-pairs cosine ≥ τ via block-pair co-location +
    per-block vectorized matmul.

    Classic distributed all-pairs: hash every vector to one of B
    blocks; a tiny broadcast map replicates each vector into the B
    (block-pair) groups it participates in; one shuffle on the pair
    key (i, j) co-locates every unordered block pair; then each group
    computes its (n/B × n/B) cosine block with ONE numpy matmul over
    the Arrow batch and emits only the ≥ τ survivors.

    Why not a pure-JVM join residual: the O(n²) hot loop is the dot
    product, and per-pair Catalyst evaluation measured 6–48 µs/pair
    (interpreted HOFs; a dim-expanded flat expression is too large to
    JIT, and AQE coalesces the tiny-by-bytes shuffle onto 2 tasks,
    blind to the quadratic compute behind each row). The Arrow batch +
    matmul does the same pairs at ~ns/pair. This is exactly the
    "vectorized Python beats non-codegen expression" tradeoff — the
    shuffle and partitioning stay declarative, the flop kernel is
    numpy.

    Scale: shuffle is O(n·B) rows, per-task memory O(n/B) vectors,
    compute O(n²) spread over B(B+1)/2 independent groups — no driver
    collect, no corpus broadcast, no full pair materialization (only
    matches leave the kernel). With ``n_blocks=None`` (the default) B
    adapts to the corpus: one entity-scale ``count()`` at plan-build
    sizes B = max(8, ⌈n / rows_per_block⌉), bounding every block at
    ~``rows_per_block`` vectors no matter the corpus — a fixed B of 8
    would put n/8 vectors in each block, and the kernel's similarity
    tile grows with the SQUARE of the block size (200k vectors → 25k×25k
    float64 = 5 GB per task). CAVEAT: that sizing ``count()`` executes
    the upstream plan once at plan-build time and again for the real
    job — free for a parquet scan (pruned to the id column), but a
    DERIVED ``emb`` (joins, UDF-normalized vectors) pays its full cost
    twice. Callers with an expensive upstream should either
    ``localCheckpoint`` it first or pass a known row count via
    ``n_blocks = max(8, ceil(n / rows_per_block))`` to skip the scan. The kernel additionally walks the tile in
    row chunks so its peak allocation is ``chunk × |block|`` doubles
    (~128 MB at the defaults), never the full block pair. The op is
    EXACT under any B — blocking changes only the physical plan, so the
    adaptive switch can never alter results.

    Determinism: numpy's matmul may reassociate each dot sum, so a sim
    within ULPs of the τ cut or a 1e-4 grid edge could floor
    differently than a sequential engine — identical across runs on
    one host. Pin τ away from attainable values (τ=0.4 here) for
    oracle-compared runs. Zero-norm vectors are dropped inside the
    kernel (the oracle's NaN sims fail every comparison).
    """
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        # entity-scale pruned scan; bounds the per-task tile regardless
        # of corpus size (see docstring)
        n = emb.count()
        B = max(8, -(-n // rows_per_block))
    else:
        B = n_blocks
    # each block b participates in B unordered pairs: (min(b,x), max(b,x))
    bmap = spark.createDataFrame(
        sorted({(b, min(b, x), max(b, x)) for b in range(B) for x in range(B)}),
        "blk int, i int, j int",
    )
    src = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("blk"),
    )
    if B >= 16:
        # widen the MAP side of the block-pair exchange BEFORE the B-way
        # replication: a few-split scan leaves a handful of map tasks
        # each sorting the full replicated vector mass into the shuffle
        # write (the x200-emb battery's only spill, ~8-10 GB in this
        # exchange's write sorter). Spreading the unreplicated corpus
        # first costs a 1/B-sized round-robin shuffle and bounds each
        # map task's write at mass/width. Real multi-split tables get
        # this parallelism from the scan itself.
        src = src.repartition(spark.sparkContext.defaultParallelism * 4)
    tagged = src.join(F.broadcast(bmap), "blk")
    if B >= 16:
        # ...and the REDUCE side: the block-pair grouping sorts the
        # replicated mass (n·B rows of float arrays) on its read side,
        # and at conf-width (32 tasks) each task's deserialized sort
        # state is ~600k vectors — the x200-emb (400k-vector) probe
        # spilled 7.7 GB in exactly that stage AFTER the map-side fix
        # above (stage-attributed: final stage, 32 tasks, 3 GB shuffle
        # read). Hash-repartitioning on the group key at a width scaled
        # to the replicated mass (~150k rows/task) bounds the sort
        # state; the planner reuses the partitioning for applyInPandas
        # (same key), so this widens the one exchange rather than
        # adding another. Fixture plans (B < 16) keep AQE coalescing.
        # n is unknown when the caller passed n_blocks; B·rows_per_block
        # bounds it from above by construction (B = ceil(n / rpb))
        n_est = n if n_blocks is None else B * rows_per_block
        repl_parts = max(
            spark.sparkContext.defaultParallelism * 4,
            -(-(n_est * B) // 150_000),
        )
        tagged = tagged.repartition(repl_parts, "i", "j")

    def block_pairs(key, pdf):
        i, j = key
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        a = pdf[pdf["blk"] == i]
        b = pdf[pdf["blk"] == j] if i != j else a
        if a.empty or b.empty:
            return empty

        def prep(part):
            ids = part["vid"].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in part["vec"]])
            norms = np.linalg.norm(mat, axis=1)
            keep = norms > 0.0  # zero-norm: undefined sim on both engines
            return ids[keep], mat[keep] / norms[keep, None]

        ia, ma = prep(a)
        ib, mb = prep(b)
        if ia.size == 0 or ib.size == 0:
            return empty
        # row-chunked tile walk: peak allocation is chunk×|b| doubles,
        # not |a|×|b| — the full tile at a 25k-row block is 5 GB
        chunk = 2048
        outs = []
        for lo in range(0, ia.size, chunk):
            sims = ma[lo : lo + chunk] @ mb.T
            mask = sims >= tau
            if i == j:
                mask &= ia[lo : lo + chunk, None] < ib[None, :]
            ra, rb = np.nonzero(mask)
            if ra.size == 0:
                continue
            va, vb = ia[lo + ra], ib[rb]
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": np.minimum(va, vb),
                        "vec_b": np.maximum(va, vb),
                        "sim": np.floor(sims[ra, rb] * 1e4) / 1e4,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return tagged.groupBy("i", "j").applyInPandas(
        block_pairs, schema="vec_a long, vec_b long, sim double"
    )


def verify_pairs_dense(
    spark: SparkSession,
    emb: DataFrame,
    tau: float,
    max_cells: int = 50_000_000,
) -> DataFrame:
    """Dense-matmul variant of :func:`cosine_pairs_blocked` for provably
    bounded corpora: broadcast the L2-normalized float64 corpus matrix,
    then each Arrow batch computes a vectorized (batch × corpus) matmul.

    Hard guard BEFORE any collect: ``rows × dim`` must not exceed
    ``max_cells`` (default 5e7 cells = 400 MB float64), else ValueError —
    the unbounded path is the blocked scheme above. The size check is
    ONE bounded aggregate job (count + first dim together, not separate
    count/head actions re-running the upstream plan); the collect is
    what the guard licenses.

    Determinism caveat (why this is not the oracle-paired path): BLAS
    may reassociate the reduction, so a sim within ULPs of the τ cut or
    a grid edge can floor differently than a sequential engine.
    """
    import numpy as np

    stats = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size("embedding"), ignorenulls=True).alias("dim"),
    ).head()
    n, dim = stats["n"], stats["dim"] or 0
    if n * max(dim, 1) > max_cells:
        raise ValueError(
            f"verify_pairs_dense: corpus {n} rows × {dim} dims = "
            f"{n * dim} cells exceeds max_cells={max_cells}; "
            "use cosine_pairs_blocked (exact, distributed) or the "
            "embedding_ann_* candidate paths"
        )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = np.inf  # zero vectors -> sim 0, never ±inf/NaN
    mat /= norms
    bc = spark.sparkContext.broadcast((ids, mat))

    def pairs_batch(it):
        b_ids, b_mat = bc.value
        for pdf in it:
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
            a_norms = np.linalg.norm(a, axis=1, keepdims=True)
            a_norms[a_norms == 0.0] = np.inf
            a /= a_norms
            sims = a @ b_mat.T
            ai, bi = np.nonzero((sims >= tau) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": b_ids[bi],
                    "sim": np.floor(sims[ai, bi] * 1e4) / 1e4,
                }
            )

    return _spread(spark, emb).mapInPandas(
        pairs_batch, schema="vec_a long, vec_b long, sim double"
    )


@query(
    "source_quality_rollup",
    oracle=f"""
    WITH scored AS (
      SELECT source, lang,
             CAST(floor((0.5 * least(n_chars, 500) / 500.0
                  + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                      t -> t IN {_STOPWORDS})) AS DOUBLE)
                                 / len(string_split(text, ' ')))) * 1e4) AS BIGINT) AS q_grid
      FROM documents)
    SELECT source, lang,
           count(*) AS n_docs,
           floor((CAST(sum(q_grid) AS DOUBLE) / (1e4 * count(*))) * 1e6) / 1e6
             AS avg_quality,
           floor((CAST(sum(CASE WHEN q_grid >= 5500 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) * 1e4) / 1e4 AS keep_share
    FROM scored
    GROUP BY source, lang
    """,
)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-curation dashboard rollup: per (source, lang), document
    count, mean quality, and the share that clears the training-set
    threshold — the per-provenance view a pipeline operator uses to
    decide which feeds to keep, re-crawl, or drop.

    Quality is floor-quantized to a 1e-4 integer grid *per document*
    before summation, so the mean is an exact integer ratio in both
    engines (double summation order can't drift). Map-only scoring +
    one small grouped aggregate.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / F.size(toks)
    )
    quality = (
        0.5 * F.least(F.col("n_chars"), F.lit(500)) / 500.0 + 0.5 * (1.0 - stop_ratio)
    )
    q_grid = F.floor(quality * 1e4).cast("long")
    scored = docs.select("source", "lang", q_grid.alias("q_grid"))
    return scored.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _q(F.sum("q_grid").cast("double") / (1e4 * F.count(F.lit(1))), 6).alias(
            "avg_quality"
        ),
        _q(
            F.sum(F.when(F.col("q_grid") >= 5500, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("keep_share"),
    )


@query(
    "sequence_packing_bins",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
      FROM tok)
    SELECT doc_id, source, n_tokens,
           CAST(start_off // 2048 AS BIGINT) AS bin
    FROM packed
    """,
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: greedy-concatenate documents into
    fixed 2048-token windows, assigning each doc the bin its starting
    offset falls in. Packing is PER SOURCE (partitioned window ordered
    by doc_id) — the shard-local packing real pipelines use, so the
    window never needs a global single-partition sort; a 100 TB corpus
    packs each shard independently and in parallel. Integer token
    counts and offsets make the bin assignment engine-exact.
    """
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(_toks()).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tok = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    start_off = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return tok.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start_off / 2048).cast("long").alias("bin"),
    )


@query(
    "mixture_token_budget_selection",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    offs AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start_off
      FROM tok)
    SELECT doc_id, lang, n_tokens, start_off
    FROM offs
    WHERE start_off < (CASE WHEN lang = 'en' THEN 4000 ELSE 1500 END)
    """,
)
def mixture_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture selection under per-language token budgets: take
    documents (deterministic doc_id order) per language until the
    language's budget is exhausted — the up-/down-sampling step that
    sets a pretraining mixture (e.g. 4 000 English tokens for every
    1 500 of each other language here).

    Same partitioned-window shape as sequence_packing_bins: cumulative
    offsets per language, a doc is kept iff its start offset is inside
    the budget — no global sort, integer-exact in both engines.
    """
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(_toks()).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tok = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    start_off = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off")
    budget = F.when(F.col("lang") == "en", F.lit(4000)).otherwise(F.lit(1500))
    return (
        tok.select("doc_id", "lang", "n_tokens", start_off)
        .where(F.col("start_off") < budget)
    )


@query(
    "multimodal_resize_thumbnails",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             8 + doc_id % 16 AS w,
             8 + (doc_id // 2) % 12 AS h
      FROM documents WHERE doc_id % 2 = 0),
    px AS (
      SELECT d.doc_id, d.w, d.h,
             ((d.doc_id * 31 + ((x.i * d.w) // 4) * 7
                             + ((y.i * d.h) // 4) * 13) % 256) AS base
      FROM d, range(4) x(i), range(4) y(i))
    SELECT doc_id,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(sum(base) AS DOUBLE) / 16 AS thumb_mean_r,
           CAST(sum((base * 3 + 1) % 256) AS DOUBLE) / 16 AS thumb_mean_g,
           CAST(sum((base * 5 + 2) % 256) AS DOUBLE) / 16 AS thumb_mean_b
    FROM px GROUP BY doc_id, w, h
    """,
)
def multimodal_resize_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal RESIZE (SURVEY.md §2.7): decode each PNG payload,
    nearest-neighbor-resample it to a 4×4 thumbnail (emitting a new
    spec-valid PNG), re-decode the thumbnail, and report its
    per-channel means — the thumbnail/preview stage of an image
    pipeline, run as Arrow-batched ``mapInPandas`` exactly like the
    decode query (swap PIL in for more formats and only the Python
    kernel changes, never the plan).

    Oracle-paired the honest way: the synthetic pixel function and the
    resampler's floor mapping ⌊x·W/out⌋ are both closed-form integer
    arithmetic, so DuckDB reconstructs every sampled pixel of every
    thumbnail and the means compare EXACTLY (all sums are multiples of
    1/16 — binary-exact doubles in both engines). The payload still
    goes through the full encode → CRC-verified decode → resample →
    re-encode → re-decode byte path on the Spark side, so a one-pixel
    defect anywhere in that chain fails the value hash."""
    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id")).where(
        F.col("doc_id") % 2 == 0
    )

    def thumbs(it):
        # absolute import: the closure executes on executor workers
        from projet5_spark.functions.multimodal import (
            decode_png,
            resize_png,
            synth_payload,
        )

        for pdf in it:
            out = {
                "doc_id": [], "width": [], "height": [],
                "thumb_mean_r": [], "thumb_mean_g": [], "thumb_mean_b": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                png = synth_payload(d)
                orig = decode_png(png)
                th = decode_png(resize_png(png, 4, 4))
                out["doc_id"].append(d)
                out["width"].append(orig["width"])
                out["height"].append(orig["height"])
                out["thumb_mean_r"].append(th["features"][0])
                out["thumb_mean_g"].append(th["features"][1])
                out["thumb_mean_b"].append(th["features"][2])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        thumbs,
        schema=(
            "doc_id long, width long, height long, "
            "thumb_mean_r double, thumb_mean_g double, thumb_mean_b double"
        ),
    )
