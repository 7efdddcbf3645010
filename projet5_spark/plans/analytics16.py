"""Batch 18 operator battery — corpus forensics and linkage:
asymmetric shingle containment, prefix-duplicate grouping, Zipf-law
vocabulary fit, Fellegi-Sunter record-linkage scoring, and a
referential-integrity orphan-rate audit with planted violations.

Scale design notes:
- **Containment** is the asymmetric twin of the Jaccard near-dup
  family — it catches *subset* duplication (a doc quoted inside a
  larger one) that symmetric Jaccard dilutes. Same bounded candidate
  generation: shingles outside the 2..cap document-frequency band are
  dropped, so per-shingle join fan-out is ≤ C(cap, 2) at any corpus
  size.
- **Prefix grouping** shuffles a 32-byte sha-256 of the first-k-token
  prefix, never text; groups are found with one digest-keyed hash
  aggregate — the cheap truncation-duplicate screen run before
  near-dup dedup.
- **Zipf fit** compresses the corpus to its vocabulary, takes the
  top-100 terms (TakeOrdered, no global sort), and fits log-freq vs
  log-rank by closed-form OLS: logs come from the engine-invariant
  ``ln_det_int``, per-row products quantize onto a 1e-9 integer grid
  before summing (order-independent), and the final ratios are one
  fixed double expression tree — bit-identical cross-engine.
- **Fellegi-Sunter** scores only within-block candidate pairs (the ER
  blocking bound), with fixed integer log-odds weights per field
  agreement — at scale the weights come from an EM fit, but scoring
  stays this same map over bounded pairs.
- **Orphan audit** plants deterministic violations (key-mod-selected
  child rows re-keyed out of range), then measures per-FK orphan
  rates with key-projected anti-joins — the shape Spark scales (hash
  anti-join, AQE-broadcast when the parent is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Asymmetric shingle containment (subset-duplication detector)
# --------------------------------------------------------------------------

#: document-frequency band for containment candidates (see module notes)
_CONT_DF_CAP = 20
#: report pairs where either side is ≥ this contained in the other
_CONT_THRESHOLD_MICRO = 500_000


def _cont_oracle() -> str:
    from .llm import _DUCK_SHINGLES

    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents) t1) t2),
    keep AS (
      SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
      WHERE df BETWEEN 2 AND {_CONT_DF_CAP}),
    r AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM r
              GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM r a JOIN r b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(floor(CAST(inter AS DOUBLE) * 1e6 / sa.sz) AS BIGINT)
             AS cont_a_micro,
           CAST(floor(CAST(inter AS DOUBLE) * 1e6 / sb.sz) AS BIGINT)
             AS cont_b_micro
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE greatest(CAST(floor(CAST(inter AS DOUBLE) * 1e6 / sa.sz) AS BIGINT),
                   CAST(floor(CAST(inter AS DOUBLE) * 1e6 / sb.sz) AS BIGINT))
          >= {_CONT_THRESHOLD_MICRO}
    ORDER BY doc_a, doc_b
    """


@query("shingle_containment_pairs", oracle=_cont_oracle())
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over token 3-gram shingles: for candidate
    pairs, |A∩B|/|A| and |A∩B|/|B| — the subset-duplication signal
    (one doc quoted or embedded inside a larger one) that symmetric
    Jaccard dilutes toward zero as the host document grows.

    Candidates come from the same document-frequency-banded shingle
    self-join as the Jaccard family (df 2..cap), so the quadratic term
    is bounded per shingle regardless of corpus size; containment is
    measured over the banded shingle set (stop-shingles carry no
    duplication signal, exactly as in ``ngram_jaccard_near_dup``).
    All counts are exact BIGINTs; the two ratios are single floored
    divisions."""
    from .llm import _ATTACH_SHJ_MIN_DOCS, hashed_shingle_rows, scaled_wide

    docs = _t(spark, sf_dir, "documents")
    # four consumers (df band, sizes, both pair-join sides): materialize
    # once instead of re-running the shingle pipeline. Rows carry the
    # 128-bit shingle hash (same rekey + seeds as
    # _split_shingles_by_df): the dedup distinct, DF band, and the
    # quadratic pair join all sort/shuffle longs, and the shingle
    # string never leaves the scan. Materialization pivots on corpus
    # size exactly as ngram_near_dup_pairs: below the pivot a
    # localCheckpoint is cheap and exchange-adjacent; past it the
    # block cache's storage pressure smears spill across EVERY stage
    # (first x100 battery: 55.3 GB over 8 stages, the round-10
    # cache-build signature) — the scratch-parquet leaf plus the wide
    # dedup distinct runs the same corpus spill-free.
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    big = n_docs >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs)
    if big:
        from ..operators.materialize import parquet_checkpoint

        sh, _release = parquet_checkpoint(
            hashed_shingle_rows(spark, docs, n_parts=wide), label="cont-sh"
        )
    else:
        sh = hashed_shingle_rows(spark, docs).localCheckpoint(eager=True)
    # the df aggregate's keys are near-unique (most shingles appear
    # once), so its hash state scales with the shingle MASS — widen
    # past AQE coalescing on the big path, like the dedup distinct
    dfc_src = sh.repartition(wide, "h1", "h2") if big else sh
    keep = (
        dfc_src.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, _CONT_DF_CAP))
        .select("h1", "h2")
    )
    # band join: build the hash table on the (smaller) banded-shingle
    # set and stream the full relation — the SMJ fallback sorts 50M
    # rows instead (x100 probe: 2.7 GB of the residual spill)
    r = sh.join(keep.hint("shuffle_hash") if big else keep, ["h1", "h2"])
    sizes = r.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    a, b = r.alias("a"), r.alias("b")
    joined = a.join(
        b,
        (F.col("a.h1") == F.col("b.h1"))
        & (F.col("a.h2") == F.col("b.h2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    if big:
        # pair keys are near-unique, so the count aggregate's hash map
        # scales with the pair MASS — widen past AQE's coalescing
        # (the _pairs_from_rare 4x-cores pivot, same rationale)
        joined = joined.repartition(wide, "doc_a", "doc_b")
    pairs = joined.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("inter")
    )
    # attach joins: doc-scale side tables against the pair-scale
    # relation — pin shuffled-hash builds past the pivot so the SMJ
    # fallback never sorts the pair mass (the ngram-family x50 lesson;
    # here it was the final stage's 6.9 GB memory spill at x100)
    if big:
        sizes = sizes.hint("shuffle_hash")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    cont_a = F.floor(F.col("inter").cast("double") * 1e6 / F.col("sz_a")).cast("long")
    cont_b = F.floor(F.col("inter").cast("double") * 1e6 / F.col("sz_b")).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "inter", "sz_a", "sz_b",
            cont_a.alias("cont_a_micro"), cont_b.alias("cont_b_micro"),
        )
        .where(
            F.greatest(F.col("cont_a_micro"), F.col("cont_b_micro"))
            >= _CONT_THRESHOLD_MICRO
        )
        # no global orderBy: the range-partitioned sort EXECUTES its
        # child twice (sampling pass + sort pass — the first x100
        # battery's duplicate 6.9 GB-spill stages) for a presentation
        # order nothing depends on (driver compare and tests are both
        # order-insensitive); at corpus scale the consumer of a pair
        # ledger sorts its own slice if it needs one
    )


# --------------------------------------------------------------------------
# Prefix-duplicate grouping (truncation-duplicate screen)
# --------------------------------------------------------------------------

_PFX_TOKENS = 8


@query(
    "doc_prefix_dup_groups",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             sha256(array_to_string(
               (string_split(text, ' '))[1:{_PFX_TOKENS}], ' ')) AS pfx
      FROM documents)
    SELECT pfx AS prefix_sha, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM p GROUP BY pfx HAVING count(*) > 1
    ORDER BY prefix_sha
    """,
)
def doc_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing an identical first-{k}-token prefix — the
    truncation/re-crawl duplicate screen (same page captured at
    different lengths starts identically) that runs before shingle
    near-dup because it is one digest-keyed aggregate.

    The shuffle carries sha2(prefix) — 32 bytes per doc — never text;
    groups reduce map-side. Hash-group dedup on a prefix digest is the
    same 100 TB shape as ``doc_exact_dedup``."""
    docs = _t(spark, sf_dir, "documents")
    pfx = F.sha2(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, _PFX_TOKENS)), 256
    )
    return (
        docs.select("doc_id", pfx.alias("pfx"))
        .groupBy("pfx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            F.col("pfx").alias("prefix_sha"), "n_docs", "first_doc", "last_doc"
        )
        .orderBy("prefix_sha")
    )


# --------------------------------------------------------------------------
# Zipf-law vocabulary fit
# --------------------------------------------------------------------------

_ZIPF_TOP = 100


def _zipf_oracle() -> str:
    lnr = ln_det_int_sql("rk")
    lnc = ln_det_int_sql("cnt")
    return f"""
    WITH vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
      ORDER BY cnt DESC, tok LIMIT {_ZIPF_TOP}),
    ranked AS (
      SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
               AS rk
      FROM vocab),
    pts AS (
      SELECT CAST(floor({lnr} * 1e9) AS BIGINT) AS xg,
             CAST(floor({lnc} * 1e9) AS BIGINT) AS yg,
             CAST(floor({lnr} * {lnr} * 1e9) AS BIGINT) AS xxg,
             CAST(floor({lnc} * {lnc} * 1e9) AS BIGINT) AS yyg,
             CAST(floor({lnr} * {lnc} * 1e9) AS BIGINT) AS xyg
      FROM ranked),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xg) AS DOUBLE) / 1e9 AS sx,
             CAST(sum(yg) AS DOUBLE) / 1e9 AS sy,
             CAST(sum(xxg) AS DOUBLE) / 1e9 AS sxx,
             CAST(sum(yyg) AS DOUBLE) / 1e9 AS syy,
             CAST(sum(xyg) AS DOUBLE) / 1e9 AS sxy
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6)
                AS BIGINT) AS slope_micro,
           CAST(floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6)
                AS BIGINT) AS r2_micro
    FROM s
    """


@query("zipf_slope_vocab", oracle=_zipf_oracle())
def zipf_slope_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: OLS slope and R² of
    log-frequency vs log-rank over the top-100 terms. Natural text
    slopes toward −1; synthetic or templated corpora flatten — a cheap
    distribution-health check on an ingest source.

    The corpus folds to its vocabulary, the top-100 is a TakeOrdered
    (never a global sort), and the fit is closed-form: deterministic
    integer logs (``ln_det_int``), per-row products floored onto a
    1e-9 grid so the sums are order-independent BIGINTs, then one
    fixed double expression tree for slope and R² — identical bits on
    any IEEE engine."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_ZIPF_TOP)
    )
    ranked = vocab.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("cnt"), "tok")).cast("long"),
    )
    x, y = ln_det_int("rk"), ln_det_int("cnt")
    pts = ranked.select(
        F.floor(x * 1e9).cast("long").alias("xg"),
        F.floor(y * 1e9).cast("long").alias("yg"),
        F.floor(x * x * 1e9).cast("long").alias("xxg"),
        F.floor(y * y * 1e9).cast("long").alias("yyg"),
        F.floor(x * y * 1e9).cast("long").alias("xyg"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("xg").cast("double") / 1e9).alias("sx"),
        (F.sum("yg").cast("double") / 1e9).alias("sy"),
        (F.sum("xxg").cast("double") / 1e9).alias("sxx"),
        (F.sum("yyg").cast("double") / 1e9).alias("syy"),
        (F.sum("xyg").cast("double") / 1e9).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.floor(cov / varx * 1e6).cast("long").alias("slope_micro"),
        F.floor(cov * cov / (varx * vary) * 1e6).cast("long").alias("r2_micro"),
    )


# --------------------------------------------------------------------------
# Fellegi-Sunter record-linkage scoring
# --------------------------------------------------------------------------

#: fixed integer log-odds weights (micro-units) per field agreement /
#: disagreement — at scale these come from an EM fit over labeled pairs;
#: scoring is the same bounded map either way
_FS_W = {
    "name": (4_000_000, -3_000_000),
    "nation": (1_500_000, -800_000),
    "segment": (1_200_000, -600_000),
    "balance": (2_000_000, -500_000),
}
_FS_LINK = 6_000_000
_FS_BAL_CENTS = 10_000  # balance "agrees" within $100


def _fs_oracle() -> str:
    wn, wn_ = _FS_W["name"]
    wk, wk_ = _FS_W["nation"]
    ws, ws_ = _FS_W["segment"]
    wb, wb_ = _FS_W["balance"]
    return f"""
    WITH recs AS (
      SELECT c_custkey AS rec_id, c_name AS name, c_nationkey AS nk,
             c_mktsegment AS seg,
             CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT) AS bal
      FROM customer
      UNION ALL
      SELECT c_custkey + 10000000,
             substring(c_name, 1, length(c_name) - 1),
             c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)
      FROM customer WHERE c_custkey % 10 = 7),
    blocked AS (SELECT *, substring(name, 10, 8) AS blk FROM recs),
    scored AS (
      SELECT
        (CASE WHEN levenshtein(a.name, b.name) <= 1 THEN {wn} ELSE {wn_} END
         + CASE WHEN a.nk = b.nk THEN {wk} ELSE {wk_} END
         + CASE WHEN a.seg = b.seg THEN {ws} ELSE {ws_} END
         + CASE WHEN abs(a.bal - b.bal) <= {_FS_BAL_CENTS}
                THEN {wb} ELSE {wb_} END) AS score
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.rec_id < b.rec_id)
    SELECT CASE WHEN score >= {_FS_LINK} THEN 'link'
                WHEN score >= 0 THEN 'possible'
                ELSE 'non_link' END AS verdict,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(score) AS BIGINT) AS min_score_micro,
           CAST(max(score) AS BIGINT) AS max_score_micro
    FROM scored GROUP BY verdict ORDER BY verdict
    """


@query("fs_linkage_verdicts", oracle=_fs_oracle())
def fs_linkage_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring over the ER blocking
    pairs: each within-block candidate pair sums fixed log-odds weights
    per field agreement (fuzzy name, nation, segment, balance-within-
    $100) and classifies link / possible / non_link — the probabilistic
    step after ``er_blocking_match_stats``'s candidate generation.

    Planted duplicates (custkey ≡ 7 mod 10, name truncated, all other
    fields kept) agree on every field and must land in 'link'. Pairs
    are bounded by the blocking join (C(block, 2) per block); scoring
    is a pure integer map over those pairs, and the verdict rollup is
    three rows. At scale the weights come from an EM fit; the plan
    shape is unchanged."""
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 1e2 + F.lit(0.5)).cast("long").alias("bal"),
    )
    variants = cust.where(F.col("c_custkey") % 10 == 7).select(
        (F.col("c_custkey") + 10000000).alias("rec_id"),
        F.expr("substring(c_name, 1, length(c_name) - 1)").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 1e2 + F.lit(0.5)).cast("long").alias("bal"),
    )
    recs = base.unionByName(variants).withColumn("blk", F.substring("name", 10, 8))
    a, b = recs.alias("a"), recs.alias("b")
    wn, wn_ = _FS_W["name"]
    wk, wk_ = _FS_W["nation"]
    ws, ws_ = _FS_W["segment"]
    wb, wb_ = _FS_W["balance"]
    score = (
        F.when(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1, wn).otherwise(wn_)
        + F.when(F.col("a.nk") == F.col("b.nk"), wk).otherwise(wk_)
        + F.when(F.col("a.seg") == F.col("b.seg"), ws).otherwise(ws_)
        + F.when(
            F.abs(F.col("a.bal") - F.col("b.bal")) <= _FS_BAL_CENTS, wb
        ).otherwise(wb_)
    )
    scored = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.rec_id") < F.col("b.rec_id"))
    ).select(score.alias("score"))
    return (
        scored.select(
            F.when(F.col("score") >= _FS_LINK, "link")
            .when(F.col("score") >= 0, "possible")
            .otherwise("non_link")
            .alias("verdict"),
            "score",
        )
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("score").cast("long").alias("min_score_micro"),
            F.max("score").cast("long").alias("max_score_micro"),
        )
        .orderBy("verdict")
    )


# --------------------------------------------------------------------------
# Referential-integrity orphan-rate audit (planted violations)
# --------------------------------------------------------------------------

#: child rows whose key ≡ 7 (mod 1000) are re-planted with the FK bumped
#: out of the parent key range — deterministic synthetic orphans
_ORPHAN_MOD = 1000
_ORPHAN_BUMP = 10_000_000


def _orphan_oracle() -> str:
    arms = []
    for fk_name, child, ckey, parent, pkey in (
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ):
        arms.append(f"""
        SELECT '{fk_name}' AS fk,
               CAST(count(*) AS BIGINT) AS n_child,
               CAST(count(*) FILTER (WHERE p.{pkey} IS NULL) AS BIGINT)
                 AS n_orphans,
               CAST(floor(CAST(count(*) FILTER (WHERE p.{pkey} IS NULL)
                               AS DOUBLE) * 1e6 / count(*)) AS BIGINT)
                 AS orphan_micro
        FROM (
          SELECT {ckey} AS k FROM {child}
          UNION ALL
          SELECT {ckey} + {_ORPHAN_BUMP} FROM {child}
          WHERE {ckey} % {_ORPHAN_MOD} = 7) c
        LEFT JOIN (SELECT DISTINCT {pkey} FROM {parent}) p ON c.k = p.{pkey}
        """)
    return " UNION ALL ".join(arms) + " ORDER BY fk"


@query("fk_orphan_rate_audit", oracle=_orphan_oracle())
def fk_orphan_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-foreign-key orphan-rate audit with planted violations: every
    child key ≡ 7 (mod 1000) is re-planted bumped out of the parent's
    key range, then each FK relationship reports child rows, orphans,
    and the orphan rate — the referential-integrity scorecard an ingest
    gate publishes per batch.

    Each arm projects the child to its key column before planting and
    probing (key bytes only cross the wire); the plant is a one-scan
    explode (1 or 2 rows per key) rather than a self-union that would
    read the child twice, the probe is a key-on-key outer/anti join
    (AQE broadcasts small parents like nation), and each arm folds to
    one row before the 4-row union."""
    specs = (
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    )
    out = None
    for fk_name, child, ckey, parent, pkey in specs:
        planted = _t(spark, sf_dir, child).select(
            F.explode(
                F.when(
                    F.col(ckey) % _ORPHAN_MOD == 7,
                    F.array(F.col(ckey), F.col(ckey) + _ORPHAN_BUMP),
                ).otherwise(F.array(F.col(ckey)))
            ).alias("k")
        )
        # parent keys are PRIMARY keys (unique by construction — the
        # audit checks the child side), so the defensive distinct's
        # map-side combine reduces nothing; pre-shuffling avoids the
        # contended partial maps (the q18 trade). The probe join takes
        # a SHUFFLE_HASH hint for SF-proportional parents: the SMJ's
        # external sort of the 60M-key child side was this audit's
        # 3.4 GB x100 spill, while hashing the parent's keys is ~0.5M
        # entries per task. Bounded dims (nation) stay hint-free so
        # AQE broadcasts them.
        pk = (
            _t(spark, sf_dir, parent)
            .select(F.col(pkey).alias("pk"))
            .repartition("pk")
            .distinct()
        )
        if parent not in ("nation", "region"):
            pk = pk.hint("shuffle_hash")
        probed = planted.join(pk, planted.k == pk.pk, "left")
        arm = probed.agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.count(F.when(F.col("pk").isNull(), 1)).cast("long").alias("n_orphans"),
        ).select(
            F.lit(fk_name).alias("fk"),
            "n_child",
            "n_orphans",
            F.floor(F.col("n_orphans").cast("double") * 1e6 / F.col("n_child"))
            .cast("long")
            .alias("orphan_micro"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("fk")
