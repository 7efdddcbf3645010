"""Batch 11 operator battery: winnowing fingerprints (MOSS-style),
corpus n-gram novelty decay, CDC in-batch conflict detection, and the
DataFrame-API grouping-sets surface.

Scale design notes:
- **Winnowing** (the document-fingerprinting scheme behind plagiarism
  detectors) selects, in every sliding window of w consecutive k-gram
  hashes, the window's minimum hash — guaranteeing any sufficiently
  long match between documents shares a fingerprint, at a fraction of
  the full shingle set's size. Here: position-ordered gram digests per
  doc, one `min` over a row frame, the distinct per-window minima are
  the fingerprint set. Everything is doc-partitioned
  window work over digests — the selected fingerprint set (~2/(w+1)
  density) is what a 100 TB near-dup pass would bucket-join on.
- **Novelty decay** orders the corpus by doc_id and asks, per document,
  what fraction of its 3-gram shingles has never appeared in any
  earlier document — the curve data engineers watch flatten as a crawl
  saturates. First-seen is min(doc_id) per digest (one digest-keyed
  aggregate), joined back positionally — no ordered scan of the corpus
  is ever required.
- **CDC conflict detection** profiles an upsert batch before merging:
  keys touched more than once in the same batch (last-writer-wins
  hazards), with op-mix per conflicted key. The batch derives
  deterministically from orders; the aggregate is batch-scale.
- **groupingSets (DataFrame API)** is the Spark-4 method form of
  GROUPING SETS — parser-less multi-granularity rollups; the oracle is
  the classic SQL. Same plan as the SQL spelling
  (`grouping_sets_order_breakdown` keeps that form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


# --------------------------------------------------------------------------
# Winnowing fingerprints
# --------------------------------------------------------------------------

#: k-gram width (tokens) and winnow window (grams). Guarantee: any match
#: of ≥ w + k - 1 tokens between two documents shares ≥ 1 fingerprint.
_WIN_K = 4
_WIN_W = 5


def _win_grams_duck() -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(_WIN_K))
    return f"""
      SELECT doc_id, i AS pos,
             CAST(CAST(('0x' || substring(sha256({gram}), 1, 12)) AS UBIGINT) AS BIGINT) AS h
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_WIN_K - 2})) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      WHERE len(t) >= {_WIN_K}"""


@query(
    "winnowing_fingerprints",
    oracle=f"""
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
    fp AS (SELECT DISTINCT doc_id, wmin AS h FROM w WHERE wn = {_WIN_W})
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(sum(h) AS BIGINT) AS fp_sum
    FROM fp GROUP BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    {_WIN_K}-token gram, slide a {_WIN_W}-gram window over the
    position-ordered hashes, select each window's minimum — the
    guarantee is that any shared run of ≥ {_WIN_W + _WIN_K - 1} tokens
    between two documents yields a shared fingerprint, with ~2/(w+1)
    of the full shingle density.

    One doc-partitioned window pass over 48-bit digest prefixes (the
    shingle text never survives the projection), distinct, then a
    per-doc rollup; the output checksum (count + order-independent
    hash sum) certifies the exact fingerprint SET without hashing
    megabytes of fingerprint rows. A near-dup pass at scale equi-joins
    on these fingerprints exactly like the minshingle family
    (``winnowing_near_dup_pairs``, plans/analytics32.py, built on the
    shared ``win_fp_rows`` pipeline below)."""
    from .llm import _ATTACH_SHJ_MIN_DOCS, scaled_wide

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    n_parts = (
        scaled_wide(spark, n_docs) if n_docs >= _ATTACH_SHJ_MIN_DOCS else None
    )
    fp = win_fp_rows(spark, docs, n_parts=n_parts)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.sum("h").cast("long").alias("fp_sum"),
    )


def win_fp_rows(
    spark: SparkSession, docs: DataFrame, n_parts: int | None = None
) -> DataFrame:
    """Distinct ``(doc_id, h)`` winnowing fingerprint rows — the shared
    pipeline behind ``winnowing_fingerprints`` (per-doc checksum) and
    ``winnowing_near_dup_pairs`` (fingerprint equi-join near-dup).

    ``n_parts`` widens the doc_id exchange the gram/select windows
    sort on: at x200 docs the one-per-core width held ~6M token
    rows/task and spilled 2.7 GB; mass-scaled width (scaled_wide)
    sorts the same mass spill-free."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    if n_parts is not None:
        toks = toks.repartition(n_parts, "doc_id")
    wlead = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(wlead) for j in range(1, _WIN_K)
    ]
    grams = toks.select(
        "doc_id",
        "pos",
        F.when(
            parts[-1].isNotNull(),
            F.conv(
                F.substring(F.sha2(F.concat_ws(" ", *parts), 256), 1, 12), 16, 10
            ).cast("long"),
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    return (
        grams.withColumn("wmin", F.min("h").over(wmin))
        .withColumn("wn", F.count("h").over(wmin))
        # the fingerprint SET is the distinct per-window minima — the
        # min can sit anywhere inside its window, so selecting
        # positions where h equals the window-start min would drop
        # legitimate fingerprints (caught by the planted-match test)
        .where(F.col("wn") == _WIN_W)
        .select("doc_id", F.col("wmin").alias("h"))
        .distinct()
    )


# --------------------------------------------------------------------------
# N-gram novelty decay
# --------------------------------------------------------------------------


@query(
    "ngram_novelty_decay",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS dig
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)
      WHERE len(t) >= 3),
    first_seen AS (SELECT dig, min(doc_id) AS first_doc FROM g GROUP BY dig)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_shingles,
           CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT)
             AS n_novel,
           floor((count(*) FILTER (WHERE f.first_doc = g.doc_id)
                  * 1.0 / count(*)) * 1e4) / 1e4 AS novelty_frac
    FROM g JOIN first_seen f ON g.dig = f.dig
    GROUP BY g.doc_id
    """,
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in doc_id ingestion order),
    the fraction of its distinct 3-gram shingles never seen in any
    earlier document — the saturation signal a crawl pipeline watches
    to decide when more of a source stops adding information.

    "First seen" is min(doc_id) per shingle digest — one digest-keyed
    aggregate over the distinct (doc, digest) set. A doc's novel count
    is then just how many digests list it as their first_doc, so the
    per-doc totals and the per-doc novelty counts are two independent
    aggregates joined at ENTITY scale (one row per doc) — the
    fact-scale join-back of first_seen onto every (doc, digest) row
    this used to do never touches the wire.

    Shingle identity is the 128-bit (h1, h2) xxhash pair (the ngram
    family's rekey), not the oracle's sha-256 hex: the digest is a
    pure grouping key — no digest reaches the output, and min/count
    per distinct shingle are identical under any collision-free
    identity — so every shuffle carries two longs instead of 64-char
    strings and no per-row crypto runs. Past the 150k-doc pivot the
    distinct gram set materializes through scratch parquet (the
    block-cache build smeared 8.1 GB of spill across the first x100
    battery) and the near-unique-key first-seen aggregate widens past
    AQE coalescing."""
    from ..operators.materialize import parquet_checkpoint
    from .llm import _ATTACH_SHJ_MIN_DOCS, hashed_shingle_rows, scaled_wide

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    big = n_docs >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs)
    if big:
        g, _release = parquet_checkpoint(
            hashed_shingle_rows(spark, docs, n_parts=wide), label="novelty-sh"
        )
    else:
        g = hashed_shingle_rows(spark, docs).localCheckpoint(eager=True)
    per_doc = g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_shingles")
    )
    fs_src = g.repartition(wide, "h1", "h2") if big else g
    novel = (
        fs_src.groupBy("h1", "h2")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_distinct_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_distinct_shingles",
            "n_novel",
            _q(
                F.col("n_novel") * F.lit(1.0) / F.col("n_distinct_shingles"), 4
            ).alias("novelty_frac"),
        )
    )


# --------------------------------------------------------------------------
# CDC in-batch conflict detection
# --------------------------------------------------------------------------


@query(
    "cdc_batch_conflicts",
    oracle="""
    WITH batch AS (
      SELECT o_orderkey % 300 AS key,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 3 = 0),
    conflicted AS (
      SELECT key, count(*) AS n_ops,
             count(*) FILTER (WHERE op = 'U') AS n_upserts,
             count(*) FILTER (WHERE op = 'D') AS n_deletes
      FROM batch GROUP BY key HAVING count(*) > 1)
    SELECT
      CAST((SELECT count(*) FROM batch) AS BIGINT) AS batch_rows,
      CAST(count(*) AS BIGINT) AS n_conflicted_keys,
      CAST(coalesce(max(n_ops), 0) AS BIGINT) AS max_ops_per_key,
      CAST(count(*) FILTER (WHERE n_upserts > 0 AND n_deletes > 0) AS BIGINT)
        AS n_mixed_op_keys
    FROM conflicted
    """,
)
def cdc_batch_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-merge CDC batch profile: keys touched more than once inside
    one upsert batch — the last-writer-wins hazards a MERGE must
    resolve deterministically (and the reason `scd2_upsert` requires an
    ordinal) — with the op mix flagging delete+update collisions.

    The batch derives deterministically from orders (key folding plants
    guaranteed conflicts); the profile is one key aggregate + a 1-row
    rollup. Run before every merge at scale: a nonzero mixed-op count
    means the batch needs an intra-batch ordering column before it is
    safe to apply."""
    orders = _t(spark, sf_dir, "orders")
    batch = orders.where(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") % 300).alias("key"),
        F.when(F.col("o_orderkey") % 7 == 0, "D").otherwise("U").alias("op"),
    )
    conflicted = (
        batch.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.count(F.when(F.col("op") == "U", 1)).alias("n_upserts"),
            F.count(F.when(F.col("op") == "D", 1)).alias("n_deletes"),
        )
        .where(F.col("n_ops") > 1)
    )
    batch_rows = batch.agg(F.count(F.lit(1)).cast("long").alias("batch_rows"))
    return conflicted.agg(
        F.count(F.lit(1)).cast("long").alias("n_conflicted_keys"),
        F.coalesce(F.max("n_ops"), F.lit(0)).cast("long").alias("max_ops_per_key"),
        F.count(F.when((F.col("n_upserts") > 0) & (F.col("n_deletes") > 0), 1))
        .cast("long")
        .alias("n_mixed_op_keys"),
    ).join(F.broadcast(batch_rows)).select(
        "batch_rows", "n_conflicted_keys", "max_ops_per_key", "n_mixed_op_keys"
    )


# --------------------------------------------------------------------------
# groupingSets — DataFrame API form
# --------------------------------------------------------------------------


@query(
    "groupingsets_dfapi_region_nation",
    oracle="""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
)
def groupingsets_dfapi_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity customer rollup — (region, nation), (region),
    and grand total in ONE aggregate — via the DataFrame
    ``groupingSets`` method (the Spark-4 API form; the SQL spelling is
    `grouping_sets_order_breakdown`). One shuffle computes all three
    granularities; the alternative (three aggregates unioned) scans
    facts three times."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    cents = F.floor(F.col("c_acctbal") * 1e2 + F.lit(0.5)).cast("long")
    return j.groupingSets(
        [["r_name", "n_name"], ["r_name"], []],
        F.col("r_name"),
        F.col("n_name"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(cents).cast("long").alias("acctbal_cents"),
    )
