"""Batch 5: dataset-split and corpus-statistics operators for the
training-data pipeline — deterministic hash-based train/holdout
splitting (the reproducible alternative to seeded ``rand()``) and
vocabulary-growth profiling per source.

Both are map-side + one aggregate: no joins, no windows, shuffle keyed
on the (tiny) group columns — the shapes scale linearly to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


#: first-byte cutoff of sha256("split:<doc_id>"): hex "cc" = 0xcc/0x100
#: ≈ 79.7% of keyspace → ~80/20 train/holdout
_SPLIT_CUT = "cc"


@query(
    "doc_stratified_hash_split",
    oracle=f"""
    SELECT source, lang,
           CASE WHEN substr(sha256('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{_SPLIT_CUT}'
                THEN 'train' ELSE 'holdout' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
    FROM documents
    GROUP BY 1, 2, 3
    """,
)
def doc_stratified_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split with per-(source, lang)
    stratification counts.

    The assignment is content-addressed — first byte of
    ``sha256("split:" || doc_id)`` against a fixed cutoff — NOT
    ``rand(seed)``: hash splits are reproducible across engines, runs,
    partitionings, and retries (a seeded ``rand`` changes with split
    planning), and a doc keeps its split when the corpus grows — the
    property a training pipeline needs so holdout data can never leak
    into a later training run. Map-side expression + one aggregate on
    (source, lang, split); at 100 TB the split column is free and the
    aggregate output is bounded by the group-key cardinality.

    The hex-prefix comparison is engine-neutral (lowercase hex in both
    Spark's ``sha2`` and DuckDB's ``sha256``; ASCII ordering).
    """
    docs = _t(spark, sf_dir, "documents")
    h = F.sha2(F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 256)
    split = F.when(F.substring(h, 1, 2) < _SPLIT_CUT, "train").otherwise("holdout")
    return (
        docs.groupBy("source", "lang", split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
    )


@query(
    "doc_vocab_growth_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_tokens,
           count(DISTINCT tok) AS n_types,
           floor((count(DISTINCT tok) * 1.0 / count(*)) * 1e4) / 1e4
             AS type_token_ratio
    FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents) t
    GROUP BY source
    """,
)
def doc_vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth profile per source: token count, distinct-type
    count, and type-token ratio — the Heaps-law curve input that flags
    template-generated or duplicated sources (anomalously low TTR for
    their size) in corpus triage.

    One explode + one aggregate; the count-distinct is the only
    expensive term and Spark executes it as a partial-then-final expand
    aggregate keyed on source — no joins, linear in token volume.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
        _q(F.countDistinct("tok") / F.count(F.lit(1)), 4).alias("type_token_ratio"),
    )


_CHUNK, _STRIDE = 64, 48  # 64-token windows, 16-token overlap


@query(
    "doc_chunk_windows",
    oracle=f"""
    SELECT doc_id,
           CAST(s // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, s + 1, s + {_CHUNK})) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, s + 1, s + {_CHUNK}), ' ') AS chunk_text
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL) d,
         (SELECT unnest(range(0, len(toks), {_STRIDE})) AS s)
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into {chunk}-token
    windows advancing by {stride} tokens ({overlap}-token overlap so no
    span is lost at a boundary) — the sequence-preparation step between
    curation and tokenization in a pretraining pipeline.

    One generated index array + explode + array slice, all Catalyst
    expressions: no shuffle at all (chunking is embarrassingly map-side
    — at 100 TB this runs at scan speed and the chunk count per task is
    bounded by input-split size). chunk_idx derives arithmetically from
    the window start, so no ordinality bookkeeping crosses engines.
    NULL text is excluded on both engines (the oracle's range(0, NULL)
    unnests to nothing; Spark's greatest() would otherwise skip the
    NULL and emit a spurious chunk)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.split("text", " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_STRIDE))
    chunk = F.slice(F.col("toks"), F.col("s") + 1, F.lit(_CHUNK))
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / _STRIDE).cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


doc_chunk_windows.__doc__ = doc_chunk_windows.__doc__.format(
    chunk=_CHUNK, stride=_STRIDE, overlap=_CHUNK - _STRIDE
)


@query(
    "epoch_shuffle_shards",
    oracle="""
    SELECT doc_id, substr(h, 1, 1) AS shard,
           CAST(row_number() OVER (PARTITION BY substr(h, 1, 1)
                                   ORDER BY h, doc_id) AS BIGINT) AS position
    FROM (SELECT doc_id,
                 sha256('epoch1:' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents) t
    """,
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle: each document gets a shard
    (first hex nibble of ``sha256("epoch1:" || doc_id)`` — 16 shards)
    and a position within its shard (rank by the full hash). A trainer
    streaming shards in shard order sees a reproducible pseudo-random
    permutation of the corpus.

    Content-addressed like doc_stratified_hash_split, and for the same
    reason ``rand(seed)`` is banned from splits: a seeded rand's values
    depend on partition layout and evaluation order, so the "same"
    shuffle differs across engines, retries, and repartitionings —
    content-addressed order is reproducible everywhere, resumable
    mid-epoch (the order is a property of the DATA, not the job), and
    a new epoch is just a new salt. Scale shape: the rank windows are
    PER SHARD (hash-partitioned — 16 here, thousands at 100 TB), so no
    global sort exists; each shard's window sorts its own slice, the
    same sized-sort arithmetic as the layout advisors."""
    docs = _t(spark, sf_dir, "documents")
    h = F.sha2(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")), 256)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", F.substring("h", 1, 1))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("position"),
        )
    )
