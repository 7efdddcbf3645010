"""Batch 33 operator battery — round-10 certification closures.

- **engine-neutral SimHash near-dup** — the production ``simhash_near_dup``
  is rows-only (xxhash64 signatures have no DuckDB replay). This twin
  computes the SAME algorithm — per-bit majority vote over shingle
  hashes, block-banded candidate generation, hamming verification —
  on a sha-256-derived 60-bit grid both engines evaluate identically,
  converting "SimHash on Spark" from a rows-only claim to a
  hash-equal driver row (the ``minhash_jaccard_estimate_gate``
  precedent, applied to the full pipeline rather than an eval slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# SimHash near-dup, sha-256 grid (certified twin of simhash_near_dup)
# --------------------------------------------------------------------------

_SH_BITS = 60  # 15 hex chars of sha256 -> BIGINT, the conv() precedent
_SH_HAM = 3  # near-dup threshold: hamming distance <= 3
#: 5 blocks of 12 bits; hamming <= 3 flips bits in at most 3 blocks, so
#: at least 2 of 5 blocks match -> every qualifying pair collides on at
#: least one of the C(5,2)=10 block-pair band keys (pigeonhole; the
#: Manku WWW'07 scheme, same as the production path's 64-bit banding)
_SH_NBLOCKS = 5
_SH_BLOCK_W = 12

_SH_DUCK_SHINGLES = (
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    "FOR i IN range(1, greatest(len(toks)-1, 1))]"
)


def _sh_oracle() -> str:
    ones = ", ".join(
        f"sum((h >> {i}) & 1) AS o{i}" for i in range(_SH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN 2 * o{i} > n THEN {1 << i} ELSE 0 END"
        for i in range(_SH_BITS)
    )
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_SH_DUCK_SHINGLES}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1) t2),
    hashes AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(sha256(s), 1, 15)) AS UBIGINT)
                  AS BIGINT) AS h
      FROM sh),
    votes AS (SELECT doc_id, count(*) AS n, {ones}
              FROM hashes GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST(({sig}) AS BIGINT) AS simhash FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_HAM}
    """


@query("simhash_sha_near_dup", oracle=_sh_oracle())
def simhash_sha_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ {ham} over {bits}-bit
    signatures) on the engine-neutral sha-256 grid: per-shingle hash =
    leading 15 hex chars of ``sha256(shingle)`` as BIGINT, signature
    bit i = majority vote of hash bit i over the doc's distinct
    shingles (strict ``2·ones > n`` — tie-stable in both engines),
    candidates from the 5-block/pair banding (pigeonhole-complete for
    hamming ≤ {ham}), verification = exact ``bit_count(a XOR b)``.
    The DuckDB oracle replays signatures bit-for-bit and verifies with
    an all-pairs hamming scan, so hash equality certifies the ENTIRE
    pipeline — signature fold, banding completeness, and verify — not
    just row counts (cf. rows-only ``simhash_near_dup``, whose
    xxhash64 grid DuckDB cannot evaluate).

    Scale shape is the production path's: one doc-keyed vote aggregate
    (packed 16-bit lanes, 15 agg columns instead of 60), 10 band rows
    per doc, equi-join on ~24-bit band keys, pair-level verify. This
    twin omits the production bucket cap so its output is EXACTLY the
    all-pairs oracle's on any input; the capped form stays the scale
    path (llm.simhash_near_dup docstring on why degenerate buckets are
    exact-dedup's job)."""
    from .llm import _ATTACH_SHJ_MIN_DOCS, shingle_rows

    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.sha2(F.col("s"), 256), 1, 15), 16, 10).cast("bigint")
    # hash ABOVE the dedup distinct so the shuffle carries (doc_id, h)
    # longs, not shingle strings (the string distinct was this query's
    # one x100 spiller, 2.3 GB). Dedup on the 60-bit hash is the
    # rekey tradeoff the 128-bit ngram family already accepts — an
    # in-doc collision (~2^-60 per shingle pair) would drop one vote
    # row; the oracle hash-compare would catch it loudly.
    from .llm import scaled_wide

    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    big = n_docs >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs) if big else None
    sh_src = shingle_rows(spark, docs, n_parts=wide).select(
        "doc_id", h.alias("h")
    )
    if big:
        # near-unique keys: hash state scales with the shingle mass —
        # widen past AQE coalescing (the hashed_shingle_rows rationale)
        sh_src = sh_src.repartition(wide, "doc_id", "h")
    hashed = sh_src.distinct()

    # 60 one-bit vote counters packed into 15 longs of 4x16-bit lanes
    # (requires shingle counts < 2^16 — raise_error-guarded at the
    # signature fold below); SQL-string construction as in
    # llm.simhash_signatures — the Column API costs thousands of py4j
    # round-trips for trees this wide
    def packed(k: int) -> str:
        lanes = " + ".join(
            f"shiftleft(shiftrightunsigned(h, {4 * k + f}) & 1, {16 * f})"
            for f in range(4)
        )
        return f"sum({lanes}) AS p{k}"

    votes = hashed.groupBy("doc_id").agg(
        F.expr("count(1) AS n"),
        *[F.expr(packed(k)) for k in range(_SH_BITS // 4)],
    )

    def ones(i: int) -> str:
        return f"(shiftrightunsigned(p{i // 4}, {16 * (i % 4)}) & 65535)"

    sig_expr = " + ".join(
        f"IF({ones(i)} * 2 > n, {1 << i}L, 0L)" for i in range(_SH_BITS)
    )
    # the 16-bit lanes are only carry-free while every doc's distinct
    # shingle count stays < 2^16 — ENFORCE that precondition in-plan
    # (the collation_lcase_grouping pattern): n is the exact count(1),
    # immune to the carry itself, so a violating doc raises here
    # instead of silently corrupting adjacent bit counters and
    # diverging from the oracle. Two loud layers, no silent path: a
    # top-lane (bits 48..63) pile-up already trips the session's ANSI
    # long-overflow check DURING the aggregate (sum exceeds int64 at
    # ~2^15 top-lane ones); this guard catches every remaining shape —
    # low-lane cross-carries never touch the sign bit, so only the
    # post-agg n check sees those
    guard = (
        "CASE WHEN n < 65536 THEN 0L ELSE CAST(raise_error(concat("
        "'simhash_sha_near_dup: doc ', CAST(doc_id AS STRING), ' has ', "
        "CAST(n AS STRING), ' distinct shingles (>= 2^16); the packed "
        "16-bit vote lanes overflow — widen the lanes for this corpus'"
        ")) AS BIGINT) END"
    )
    sigs = votes.select(
        "doc_id", F.expr(f"({sig_expr}) + ({guard}) AS simhash")
    )

    def block(i: int) -> str:
        mask = (1 << _SH_BLOCK_W) - 1
        return f"(shiftrightunsigned(simhash, {i * _SH_BLOCK_W}) & {mask})"

    combos = [
        (i, j) for i in range(_SH_NBLOCKS) for j in range(i + 1, _SH_NBLOCKS)
    ]
    structs = ", ".join(
        f"struct({c} AS band, shiftleft({block(i)}, {_SH_BLOCK_W}) | {block(j)} AS key)"
        for c, (i, j) in enumerate(combos)
    )
    bands = sigs.selectExpr(
        "doc_id", "simhash", f"explode(array({structs})) AS bk"
    ).select("doc_id", "simhash", "bk.band", "bk.key")
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
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("sig_a ^ sig_b")).cast("int")
    return cand.where(ham <= _SH_HAM).select(
        "doc_a", "doc_b", ham.alias("hamming")
    )


simhash_sha_near_dup.__doc__ = simhash_sha_near_dup.__doc__.format(
    ham=_SH_HAM, bits=_SH_BITS
)


# --------------------------------------------------------------------------
# Maintained shingle-index ingest (the incremental query's production form)
# --------------------------------------------------------------------------

_IDX_HIST_DATE = "2025-01-01"
_IDX_BATCH_DATE = "2025-01-02"

_IDX_ORACLE = """
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
    """


@query("shingle_index_incremental_ingest", oracle=_IDX_ORACLE)
def shingle_index_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_near_dup_ingest``'s production form, exercised for
    real: history's hashed shingle index is a MAINTAINED parquet table
    (partitioned by ingest date), the batch's index partition is landed
    with the idempotent dynamic-overwrite writer — TWICE, so the
    replayed-orchestration case is inside the certified path — and
    pair generation runs straight off the stored index
    (``ngram_near_dup_pairs(sh_rows=...)``), never re-shingling
    history text. Output and oracle are identical to the recompute
    query; equality certifies that the maintained index carries the
    full near-dup semantics (the (h1, h2) rekey loses nothing) and
    that the re-landed partition is byte-equivalent.

    Scale: this is THE incremental shape at 100 TB — per day, one
    batch-sized index write plus a probe whose history side reads the
    stored index at scan speed with partition pruning on the ingest
    date, instead of re-hashing the corpus."""
    import os
    import shutil

    from ..sources.writers import append_index_partition
    from .llm import hashed_shingle_rows, ngram_near_dup_pairs
    from .scans import _scratch

    docs = _t(spark, sf_dir, "documents")
    from ..sources.readers import fixture_column_max

    # footer-statistics max (exact for int64; Spark-agg fallback) —
    # same integer arithmetic, minus a per-invocation driver job
    lo = ((int(fixture_column_max(spark, sf_dir, "documents", "doc_id")) + 1) * 4) // 5
    path = _scratch(sf_dir, "shingle_index")
    hist_rows = hashed_shingle_rows(spark, docs.where(F.col("doc_id") < lo))
    batch_rows = hashed_shingle_rows(spark, docs.where(F.col("doc_id") >= lo))
    append_index_partition(hist_rows, path, "ingest_date", _IDX_HIST_DATE)
    append_index_partition(batch_rows, path, "ingest_date", _IDX_BATCH_DATE)
    # the retried-orchestration case: re-land the SAME batch partition;
    # dynamic overwrite must leave the table exactly as before
    append_index_partition(batch_rows, path, "ingest_date", _IDX_BATCH_DATE)

    index = spark.read.parquet(path)
    pairs = ngram_near_dup_pairs(
        spark, docs=None, threshold=0.5, sh_rows=index
    ).where(F.col("doc_b") >= lo)
    new_docs = docs.where(F.col("doc_id") >= lo).select("doc_id", "source")
    flags = (
        new_docs.join(pairs, new_docs.doc_id == pairs.doc_b, "left")
        .groupBy("doc_id", "source")
        .agg(
            F.max(F.when(F.col("doc_a") < lo, 1).otherwise(0)).alias("hist"),
            F.max(F.when(F.col("doc_a") >= lo, 1).otherwise(0)).alias("batch"),
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
# Sequence packing round-trip: pack -> unpack must be lossless
# --------------------------------------------------------------------------

_PACK_CTX = 2048  # context window length (tokens)

_UNPACK_ORACLE = """
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens
    FROM tok GROUP BY source
    """


@query("sequence_unpack_roundtrip", oracle=_UNPACK_ORACLE)
def sequence_unpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-then-unpack losslessness, certified: documents are packed
    per source into {ctx}-token context windows (tokens keyed ONLY by
    (source, window, position) — no doc ids in the packed form, like a
    real input_ids shard), a separate manifest records each doc's
    (start, len) span, and the UNPACK reconstructs every document from
    windows + manifest alone, comparing ``sha2`` of the reconstruction
    against the original text. The certified row reports n_exact per
    source — any token lost, duplicated, or misordered by the
    pack/unpack pipeline drops n_exact below n_docs and fails the
    value hash (the oracle asserts n_exact == n_docs from the
    originals).

    Shape: per-source cumulative offsets (partitioned window — no
    global sort), one posexplode to token rows, the unpack join is an
    equi-join on (source, global position) against the manifest's
    exploded spans, and reconstruction is one per-doc sort+concat.
    Everything is token-scale and shard-parallel — the same plan
    unpacks a 100 TB packed corpus."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", "text", F.split("text", " ").alias("toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    manifest = toks.select(
        "doc_id",
        "source",
        F.sha2(F.col("text"), 256).alias("orig_sha"),
        F.size("toks").cast("long").alias("len"),
        (F.sum(F.size("toks").cast("long")).over(w) - F.size("toks")).alias(
            "start"
        ),
    )
    # packed shard: (source, win, pos, tok) — doc identity erased
    token_rows = (
        toks.join(manifest.select("doc_id", "start"), "doc_id")
        .select(
            "source",
            "start",
            F.posexplode("toks").alias("i", "tok"),
        )
        .select(
            "source",
            (F.col("start") + F.col("i")).alias("pos"),
            "tok",
        )
        .withColumn("win", F.floor(F.col("pos") / _PACK_CTX).cast("long"))
    )
    windows = token_rows.groupBy("source", "win").agg(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("body")
    )
    # unpack: windows -> token rows -> join manifest spans on (source, pos)
    unpacked = windows.select(
        "source", F.explode("body").alias("pt")
    ).select("source", F.col("pt.pos").alias("pos"), F.col("pt.tok").alias("tok"))
    spans = manifest.select(
        "doc_id",
        "source",
        "orig_sha",
        F.explode(F.sequence(F.col("start"), F.col("start") + F.col("len") - 1))
        .alias("pos"),
    )
    rebuilt = (
        spans.join(unpacked, ["source", "pos"])
        .groupBy("doc_id", "source", "orig_sha")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
                " ",
            ).alias("text2")
        )
    )
    return rebuilt.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.sha2(F.col("text2"), 256) == F.col("orig_sha")).cast("long")
        ).alias("n_exact"),
        F.sum(F.size(F.split("text2", " ")).cast("long")).alias("total_tokens"),
    )


sequence_unpack_roundtrip.__doc__ = sequence_unpack_roundtrip.__doc__.format(
    ctx=_PACK_CTX
)


# --------------------------------------------------------------------------
# Linear text-classifier inference as a pure SQL plan (no UDF)
# --------------------------------------------------------------------------

_CLF_DIM = 4096  # hashed feature space
_CLF_WMOD = 199  # pseudo-weight grid: w(j) = (j*31 % 199) - 99
_CLF_BIAS = -50


def _clf_oracle() -> str:
    return f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest([toks[i] || ' ' || toks[i+1]
                       FOR i IN range(1, greatest(len(toks), 1))]) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents) t1) t2),
    feats AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(sha256(g), 1, 15)) AS UBIGINT)
                  AS BIGINT) % {_CLF_DIM} AS j
      FROM grams),
    scored AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_features,
             CAST(sum((j * 31) % {_CLF_WMOD} - 99) + {_CLF_BIAS} AS BIGINT)
               AS score
      FROM feats GROUP BY doc_id)
    SELECT doc_id, n_features, score,
           CAST(score > 0 AS BOOLEAN) AS predicted_keep
    FROM scored
    """


@query("hashed_ngram_classifier_score", oracle=_clf_oracle())
def hashed_ngram_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch inference of a hashed-bigram linear text classifier
    (fastText-style bag of hashed n-grams -> dot product with a weight
    vector -> threshold) as a PURE Catalyst plan: distinct token
    bigrams per doc, feature index ``sha256(bigram) mod {dim}``,
    score = Σ w[j] + bias with a content-addressed integer weight grid
    (``w(j) = (j·31 mod {wmod}) − 99`` stands in for trained weights —
    same dot-product plan, engine-replayable), keep-decision at
    score > 0. This is the quality-classifier inference step of a
    curation pipeline run as a scan + explode + hash aggregate — no
    Python in the loop, so it rides whole-stage codegen at corpus
    scale; swapping real weights in means broadcasting a {dim}-row
    weight table and joining on j instead of inlining the formula
    (identical shape, one broadcast join more).

    The DuckDB oracle replays hashing, weights, and threshold exactly
    — certifying distributed model inference end-to-end, not just row
    counts."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    w2 = Window.partitionBy("doc_id").orderBy("i")
    nxt = F.lead("tok", 1).over(w2)
    grams = (
        toks.select(
            "doc_id",
            F.when(nxt.isNotNull(), F.concat_ws(" ", F.col("tok"), nxt)).alias(
                "g"
            ),
        )
        .where(F.col("g").isNotNull())
        .distinct()
    )
    j = F.pmod(
        F.conv(F.substring(F.sha2(F.col("g"), 256), 1, 15), 16, 10).cast(
            "bigint"
        ),
        F.lit(_CLF_DIM),
    )
    feats = grams.select("doc_id", j.alias("j"))
    score = (
        F.sum(F.pmod(F.col("j") * 31, F.lit(_CLF_WMOD)) - 99) + _CLF_BIAS
    ).cast("long")
    return feats.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        score.alias("score"),
    ).select(
        "doc_id",
        "n_features",
        "score",
        (F.col("score") > 0).alias("predicted_keep"),
    )


hashed_ngram_classifier_score.__doc__ = (
    hashed_ngram_classifier_score.__doc__.format(dim=_CLF_DIM, wmod=_CLF_WMOD)
)


# --------------------------------------------------------------------------
# Exact ROC-AUC on the integer rank grid (classifier/quality-score eval)
# --------------------------------------------------------------------------

_AUC_ORACLE = """
    WITH scored AS (
      SELECT doc_id,
             CAST(lang = 'en' AS INTEGER) AS pos,
             CAST(floor((0.5 * least(n_chars, 500) / 500.0
                         + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                             t -> t IN ('the', 'a')))
                                             AS DOUBLE)
                                        / len(string_split(text, ' ')))) * 1e4)
                  AS BIGINT) AS q
      FROM documents),
    grp AS (
      SELECT q, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(pos) AS BIGINT) AS n_pos_g
      FROM scored GROUP BY q),
    ranked AS (
      SELECT q, cnt, n_pos_g,
             sum(cnt) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum
      FROM grp),
    tot AS (SELECT CAST(sum(n_pos_g) AS BIGINT) AS n1,
                   CAST(sum(cnt - n_pos_g) AS BIGINT) AS n0
            FROM ranked),
    u AS (SELECT CAST(sum(n_pos_g * (2 * cum - cnt + 1)) AS BIGINT)
                   AS sum_r2_pos
          FROM ranked)
    SELECT t.n1 AS n_pos, t.n0 AS n_neg,
           CAST(u.sum_r2_pos - t.n1 * (t.n1 + 1) AS BIGINT) AS u2,
           CAST((u.sum_r2_pos - t.n1 * (t.n1 + 1)) * 1000000
                // (2 * t.n1 * t.n0) AS BIGINT) AS auc_micro
    FROM u, tot t
    """


@query("roc_auc_quality_score", oracle=_AUC_ORACLE)
def roc_auc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the integer-grid quality score against a binary
    label (``lang = 'en'`` stands in for a labeled eval set), via the
    Mann-Whitney U statistic on the x2 rank grid: group rows by score,
    take average ranks for ties as the exact integer ``2·cum − cnt + 1``
    (= twice the tied group's mean rank), fold U2 = Σ_pos avgrank·2 −
    n1(n1+1), and report ``auc_micro = U2·10⁶ div (2·n1·n0)`` — every
    quantity an integer, so the classifier-eval metric itself is
    hash-certified (the AUC a curation pipeline watches when it tunes
    its quality threshold). No per-row window: ranks come from a
    score-GROUPED cumulative sum (score-cardinality rows, ≤ 10⁴ grid
    cells at any corpus size), so the only corpus-scale pass is one
    hash aggregate — AUC at 100 TB costs one groupBy.

    Ties are handled by the average-rank convention (the standard
    Mann-Whitney correction), NOT a tie-break order — so the metric is
    total-order-free and engine-exact."""
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
        (F.col("lang") == "en").cast("int").alias("pos"),
        F.floor(q * 1e4).cast("long").alias("q"),
    )
    grp = scored.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("n_pos_g"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    ranked = grp.withColumn("cum", F.sum("cnt").over(w))
    return ranked.agg(
        F.sum("n_pos_g").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("n_pos_g")).cast("long").alias("n_neg"),
        F.sum(F.col("n_pos_g") * (2 * F.col("cum") - F.col("cnt") + 1))
        .cast("long")
        .alias("sum_r2_pos"),
    ).select(
        "n_pos",
        "n_neg",
        (F.col("sum_r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1))
        .cast("long")
        .alias("u2"),
        F.expr(
            "CAST((sum_r2_pos - n_pos * (n_pos + 1)) * 1000000 "
            "div (2 * n_pos * n_neg) AS BIGINT)"
        ).alias("auc_micro"),
    )
