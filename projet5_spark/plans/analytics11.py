"""Batch 13 operator battery — retrieval & data-profiling:
BM25 document retrieval, TF-IDF cosine pair similarity, grid-bucketed
spatial self-join, and approximate functional-dependency audit.

These fill the retrieval/profiling corner of a training-data platform:
"which docs answer this query?" (BM25), "which docs are topically
near-duplicate?" (weighted cosine, the scoring twin of the Jaccard
near-dup family), "which records are spatially adjacent?" (grid-cell
bucketed distance join — the canonical bounded spatial join), and
"which column dependencies actually hold?" (g3 FD error — schema
discovery over raw ingests).

Scale design notes:
- **BM25** compresses to (doc, term) postings for the *query terms
  only* before any join; corpus stats (N, Σdl) are one tiny broadcast
  row; IDF uses the deterministic integer log, never engine ``ln``.
- **TF-IDF cosine** is the inverted-index self-join with a document-
  frequency cap — the standard "drop stop-shingles" bound that keeps
  the per-term join quadratic only in the cap, never in corpus size.
  Dot products and norms accumulate on integer micro-grids (exact,
  order-independent); the only float ops are one division and one
  IEEE-exact sqrt per side.
- **Spatial join** never compares all pairs: points bucket into grid
  cells sized to the radius, each point probes its 3×3 neighborhood,
  and the distance test is exact BIGINT arithmetic in milli-degree
  space (zero transcendentals, zero float).
- **FD audit** is per-FD ``groupBy(A,B) → groupBy(A) → agg`` — three
  map-side-combinable aggregates per dependency, output one row each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# BM25 top-k document retrieval
# --------------------------------------------------------------------------

#: fixed retrieval query — three mid-frequency vocabulary terms
_BM25_TERMS = ("spark", "merge", "window")
_BM25_K = 10


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    ln_num = ln_det_int_sql("idf_num")
    ln_den = ln_det_int_sql("idf_den")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl
      FROM dl),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
      WHERE term IN ({terms})
      GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(2 * n_docs - 2 * df + 1 AS BIGINT) AS idf_num,
             CAST(2 * df + 1 AS BIGINT) AS idf_den,
             CAST(tf AS DOUBLE) AS tfd,
             CAST(dl AS DOUBLE)
               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS dlr
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN tot),
    terms_scored AS (
      SELECT doc_id,
             CAST(floor(({ln_num} - {ln_den})
                        * ((tfd * 2.2) / (tfd + 1.2 * (0.25 + 0.75 * dlr)))
                        * 1e6) AS BIGINT) AS term_micro
      FROM scored)
    SELECT doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro
    FROM terms_scored
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT {_BM25_K}
    """


@query("bm25_topk_docs", oracle=_bm25_oracle())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-{k} retrieval over ``documents`` for a
    fixed query — the ranking function behind every lexical search and
    retrieval-augmented data-curation loop.

    Postings shrink to the query terms before any join, so the shuffle
    carries only matching (doc, term, tf) rows; corpus statistics (N,
    Σdl) and the per-term df table are broadcast singletons. IDF is the
    Robertson form ln((N−df+0.5)/(df+0.5)), evaluated as the integer-
    ratio ln((2N−2df+1)/(2df+1)) over the deterministic log so both
    engines agree bitwise; per-term scores floor onto a 10⁻⁶ grid and
    sum as BIGINT (order-independent). Top-k carries a doc_id
    tie-break."""
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tot = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1))
            .cast("long")
            .alias("idf_num"),
            (F.lit(2) * F.col("df") + F.lit(1)).cast("long").alias("idf_den"),
            F.col("tf").cast("double").alias("tfd"),
            (
                F.col("dl").cast("double")
                / (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))
            ).alias("dlr"),
        )
    )
    term_micro = F.floor(
        (ln_det_int("idf_num") - ln_det_int("idf_den"))
        * (
            (F.col("tfd") * F.lit(2.2))
            / (F.col("tfd") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dlr")))
        )
        * F.lit(1e6)
    ).cast("long")
    return (
        scored.select("doc_id", term_micro.alias("term_micro"))
        .groupBy("doc_id")
        .agg(F.sum("term_micro").cast("long").alias("score_micro"))
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_BM25_K)
    )


# --------------------------------------------------------------------------
# TF-IDF cosine pair similarity (inverted-index self-join, df-capped)
# --------------------------------------------------------------------------

#: stop-shingle bound: terms in more than this many docs are dropped
#: from the similarity index (the standard hot-term cutoff that keeps
#: the per-term self-join ≤ cap² regardless of corpus size)
_COS_DF_CAP = 20
_COS_TOPK = 15

#: token 3-gram shingles (same recipe as plans/llm.py::_DUCK_SHINGLES)
_SHINGLES_SQL = (
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    "FOR i IN range(1, greatest(len(toks)-1, 1))]"
)


def _cos_oracle() -> str:
    ln_n = ln_det_int_sql("n_docs")
    ln_df = ln_det_int_sql("df")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM toks),
    tf AS (
      SELECT doc_id, s, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM toks)
      GROUP BY doc_id, s),
    dfreq AS (
      SELECT s, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY s
      HAVING count(*) BETWEEN 2 AND {_COS_DF_CAP}),
    w AS (
      SELECT doc_id, s,
             CAST(tf AS DOUBLE) * ({ln_n} - {ln_df}) AS w
      FROM tf JOIN dfreq USING (s) CROSS JOIN tot),
    nsq AS (
      SELECT doc_id,
             CAST(sum(CAST(floor(w * w * 1e6) AS BIGINT)) AS BIGINT) AS nsq_g
      FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(CAST(floor(a.w * b.w * 1e6) AS BIGINT)) AS BIGINT) AS dot_g
      FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           CAST(floor((CAST(dot_g AS DOUBLE) / 1e6)
                      / (sqrt(CAST(na.nsq_g AS DOUBLE) / 1e6)
                         * sqrt(CAST(nb.nsq_g AS DOUBLE) / 1e6))
                      * 1e6) AS BIGINT) AS cos_micro
    FROM dots
    JOIN nsq na ON doc_a = na.doc_id
    JOIN nsq nb ON doc_b = nb.doc_id
    ORDER BY cos_micro DESC, doc_a, doc_b
    LIMIT {_COS_TOPK}
    """


@query("tfidf_cosine_pairs_topk", oracle=_cos_oracle())
def tfidf_cosine_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} most-similar document pairs by TF-IDF cosine over token
    3-gram shingles — the *weighted* similarity twin of the Jaccard
    near-dup family (plans/llm.py), ranking topical overlap rather than
    set overlap.

    Scale shape: sparse inverted-index self-join. Terms with df < 2
    (no pair) or df > {cap} (stop-shingles) are dropped, so each
    term contributes at most C({cap},2) candidate pairs no matter how
    large the corpus — the hot-key bound production similarity joins
    use. Weights are tf·ln(N/df) over the deterministic integer log;
    dot products and squared norms accumulate as floored 10⁻⁶-grid
    BIGINTs (order-independent), and the final cosine uses one exact
    division and IEEE-exact ``sqrt`` per side, identical cross-engine.
    Top-k carries a (doc_a, doc_b) tie-break."""
    from .llm import _ATTACH_SHJ_MIN_DOCS, scaled_wide, shingle_rows

    docs = _t(spark, sf_dir, "documents")
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # one bounded plan-build count steers the scale pivots below (the
    # ngram-family pattern; first x100 battery read 46.9 GB of spill
    # here — block-cache materialization + narrow mass-keyed
    # aggregates + SMJ sorts of the pair relation, all three of which
    # invert past the pivot)
    from ..sources.readers import fixture_rowcount

    n_docs = fixture_rowcount(spark, sf_dir, "documents", fallback_df=docs)
    big = n_docs >= _ATTACH_SHJ_MIN_DOCS
    wide = scaled_wide(spark, n_docs)
    # posexplode + lead shingling (llm.shingle_rows): whole-stage-codegen'd,
    # vs the interpreted explode(transform(...)) HOF whose generator
    # re-evaluates the child per output row — O(shingles²) per document.
    # Term identity is the 128-bit xxhash64 pair (same rekey + seeds as
    # llm._split_shingles_by_df, collision-asserted on the fixture in
    # CI): the tf fold, df count, weight join, and the quadratic pair
    # self-join all shuffle/sort 16-byte longs and the shingle string
    # dies at the scan boundary.
    shingles = shingle_rows(spark, docs, n_parts=wide if big else None).select(
        "doc_id",
        F.xxhash64(F.lit(-1), F.col("s")).alias("h1"),
        F.xxhash64(F.lit(-2), F.col("s")).alias("h2"),
    )
    # tf keys are near-unique (most shingles occur once per doc), so
    # the aggregate's hash state is the shingle MASS — widen past AQE
    # coalescing on the big path, like the ngram dedup distinct
    if big:
        shingles = shingles.repartition(wide, "doc_id", "h1", "h2")
    tf = shingles.groupBy("doc_id", "h1", "h2").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = (
        tf.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .where(F.col("df").between(2, _COS_DF_CAP))
    )
    if big:
        # pinned SHJ builds are non-spillable: repartition on exactly
        # the join key at the mass-scaled width so per-task build
        # state stays bounded (the ppjoin/minhash x200 OOM lesson)
        dfreq = dfreq.repartition(wide, "h1", "h2").hint("shuffle_hash")
    w = (
        tf.join(dfreq, ["h1", "h2"])
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            "h1",
            "h2",
            (
                F.col("tf").cast("double")
                * (ln_det_int("n_docs") - ln_det_int("df"))
            ).alias("w"),
        )
    )
    # three consumers (squared norms + both self-join sides): the
    # df-cap already shrank this to the sparse index, so materialize
    # once instead of re-running shingle->tf->df 3x. Past the pivot
    # the block cache's storage pressure is the dominant spiller
    # (operators/materialize.py) — scratch parquet there instead.
    if big:
        from ..operators.materialize import parquet_checkpoint

        w, _release = parquet_checkpoint(w, label="tfidf-w")
    else:
        w = w.localCheckpoint(eager=True)
    nsq = w.groupBy("doc_id").agg(
        F.sum(F.floor(F.col("w") * F.col("w") * F.lit(1e6)).cast("long"))
        .cast("long")
        .alias("nsq_g")
    )
    # the index self-join: hash-build one side per partition instead
    # of SMJ-sorting both (the last 2.4 GB x100 spiller); the build
    # side repartitions on the join key at the mass-scaled width so
    # its non-spillable per-task state stays bounded at any corpus
    a_src = w.repartition(wide, "h1", "h2") if big else w
    a = a_src.alias("a")
    b = (a_src.hint("shuffle_hash") if big else w).alias("b")
    joined = a.join(
        b,
        (F.col("a.h1") == F.col("b.h1"))
        & (F.col("a.h2") == F.col("b.h2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.floor(F.col("a.w") * F.col("b.w") * F.lit(1e6))
        .cast("long")
        .alias("dot_term"),
    )
    if big:
        # pair keys are near-unique — the dot aggregate's hash map is
        # the pair MASS; widen like _pairs_from_rare's 4x-cores pivot
        joined = joined.repartition(wide, "doc_a", "doc_b")
    dots = joined.groupBy("doc_a", "doc_b").agg(
        F.sum("dot_term").cast("long").alias("dot_g")
    )
    if big:
        # doc-scale norms against the pair-scale dots: pin the hash
        # build so the SMJ fallback never sorts the pair relation
        nsq = nsq.hint("shuffle_hash")
    na, nb = nsq.alias("na"), nsq.alias("nb")
    cos_micro = F.floor(
        (F.col("dot_g").cast("double") / F.lit(1e6))
        / (
            F.sqrt(F.col("na.nsq_g").cast("double") / F.lit(1e6))
            * F.sqrt(F.col("nb.nsq_g").cast("double") / F.lit(1e6))
        )
        * F.lit(1e6)
    ).cast("long")
    return (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", cos_micro.alias("cos_micro"))
        .orderBy(F.col("cos_micro").desc(), "doc_a", "doc_b")
        .limit(_COS_TOPK)
    )


# --------------------------------------------------------------------------
# Grid-bucketed spatial self-join profile
# --------------------------------------------------------------------------

#: deterministic synthetic coordinates in milli-degree space: Knuth
#: multiplicative mixes of the key, wrapped to a 36°×18° region so
#: fixture densities produce non-trivial neighbor counts at every sf
_SP_MX = 2654435761
_SP_MY = 2246822519
_SP_W = 36000
_SP_H = 18000
#: cell edge = radius → a point's neighbors all lie in its 3×3 cells
_SP_R = 2000


@query(
    "spatial_grid_join_profile",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             (c_custkey * {_SP_MX}) % {_SP_W} AS x,
             (c_custkey * {_SP_MY}) % {_SP_H} AS y
      FROM customer),
    cells AS (
      SELECT k, x, y, x // {_SP_R} AS cx, y // {_SP_R} AS cy FROM pts),
    cell_pop AS (
      SELECT cx, cy, count(*) AS pop FROM cells GROUP BY cx, cy),
    probe AS (
      SELECT k, x, y, cx + dx.dx AS pcx, cy + dy.dy AS pcy
      FROM cells
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)),
    cand AS (
      SELECT (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y) AS d2
      FROM probe p JOIN cells b
        ON p.pcx = b.cx AND p.pcy = b.cy AND p.k < b.k)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
      (SELECT CAST(count(*) AS BIGINT) FROM cell_pop) AS n_cells,
      (SELECT CAST(max(pop) AS BIGINT) FROM cell_pop) AS max_cell_pop,
      CAST(count(*) AS BIGINT) AS candidate_pairs,
      CAST(count(*) FILTER (WHERE d2 <= {_SP_R * _SP_R}) AS BIGINT)
        AS pairs_within_r,
      CAST(min(d2) AS BIGINT) AS min_d2
    FROM cand
    """,
)
def spatial_grid_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance self-join profile via grid-cell bucketing: customers get
    deterministic synthetic coordinates (Knuth multiplicative mix of the
    key, wrapped into milli-degree space), bucket into radius-sized grid
    cells, and each point probes only its 3×3 cell neighborhood — the
    canonical bounded spatial join (no all-pairs comparison ever
    materializes).

    Every coordinate, cell id, and squared distance is exact BIGINT
    arithmetic — zero floats, zero transcendentals — so the profile row
    (candidate pairs, pairs within radius, min distance²) is bitwise
    engine-identical. Each unordered pair is counted exactly once: the
    probe side expands the 9 neighbor cells and the build side keeps its
    own cell, with a ``k <`` guard. At 100 TB the identical plan holds —
    cell ids co-partition both sides, the per-cell join is bounded by
    local density, and skewed cells fall out of ``max_cell_pop``."""
    from .llm import _spread

    # the build side broadcasts, so without this the whole 3x3-probe
    # join — millions of candidate distance evaluations at fixture
    # density — runs on the customer file's single input split; at real
    # scale the scan is already multi-split (see _spread)
    pts = _spread(
        spark,
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"),
            (F.col("c_custkey") * F.lit(_SP_MX) % F.lit(_SP_W)).alias("x"),
            (F.col("c_custkey") * F.lit(_SP_MY) % F.lit(_SP_H)).alias("y"),
        ),
    )
    cells = pts.select(
        "k", "x", "y",
        F.expr(f"x div {_SP_R}").alias("cx"),
        F.expr(f"y div {_SP_R}").alias("cy"),
    )
    cell_pop = cells.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("pop"))
    grid_stats = cell_pop.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("pop").cast("long").alias("max_cell_pop"),
    )
    n_points = pts.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    offsets = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    ).alias("o")
    probe = cells.select("k", "x", "y", "cx", "cy", offsets).select(
        "k", "x", "y",
        (F.col("cx") + F.col("o.dx")).alias("pcx"),
        (F.col("cy") + F.col("o.dy")).alias("pcy"),
    )
    b = cells.alias("b")
    p = probe.alias("p")
    d2 = (F.col("p.x") - F.col("b.x")) * (F.col("p.x") - F.col("b.x")) + (
        F.col("p.y") - F.col("b.y")
    ) * (F.col("p.y") - F.col("b.y"))
    cand = p.join(
        b,
        (F.col("p.pcx") == F.col("b.cx"))
        & (F.col("p.pcy") == F.col("b.cy"))
        & (F.col("p.k") < F.col("b.k")),
    ).select(d2.alias("d2"))
    pair_stats = cand.agg(
        F.count(F.lit(1)).cast("long").alias("candidate_pairs"),
        F.count(F.when(F.col("d2") <= _SP_R * _SP_R, 1))
        .cast("long")
        .alias("pairs_within_r"),
        F.min("d2").cast("long").alias("min_d2"),
    )
    return (
        n_points.join(F.broadcast(grid_stats))
        .join(F.broadcast(pair_stats))
        .select(
            "n_points", "n_cells", "max_cell_pop",
            "candidate_pairs", "pairs_within_r", "min_d2",
        )
    )


# --------------------------------------------------------------------------
# Approximate functional-dependency audit (g3 error)
# --------------------------------------------------------------------------

#: candidate dependencies: (label, table, determinant, dependent) —
#: one known-exact FD (nation key → region key) as the control row
_FDS = (
    ("nation_key->region_key", "nation", "n_nationkey", "n_regionkey"),
    ("cust_key->order_priority", "orders", "o_custkey", "o_orderpriority"),
    ("nation_key->mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("order_key->returnflag", "lineitem", "l_orderkey", "l_returnflag"),
)


def _fd_oracle() -> str:
    arms = []
    for label, table, a, b in _FDS:
        arms.append(f"""
    SELECT '{label}' AS fd,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) - sum(mx) AS BIGINT) AS violations,
           CAST(floor((CAST(sum(cnt) - sum(mx) AS DOUBLE)
                       / CAST(sum(cnt) AS DOUBLE)) * 1e6) AS BIGINT)
             AS g3_micro
    FROM (
      SELECT {a}, sum(c) AS cnt, max(c) AS mx
      FROM (SELECT {a}, {b}, count(*) AS c FROM {table} GROUP BY {a}, {b})
      GROUP BY {a})""")
    return " UNION ALL ".join(arms) + " ORDER BY fd"


@query("fd_audit_g3", oracle=_fd_oracle())
def fd_audit_g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit: for each candidate
    dependency A→B, the g3 error — the minimum fraction of rows to
    delete so the FD holds exactly (Kivinen & Mannila's measure; the
    workhorse of schema-discovery/profiling tools like Metanome).

    g3 = (N − Σ_A max_b |A=a,B=b|) / N, computed as two nested hash
    aggregates per dependency — both map-side combinable, no joins, no
    windows. The ratio is one exact integer-over-integer division
    floored to a 10⁻⁶ grid. One output row per candidate FD; the
    nation→region control row proves the zero-violation path."""
    spark_arms = []
    for label, table, a, b in _FDS:
        pair = (
            _t(spark, sf_dir, table)
            .groupBy(a, b)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        per_key = pair.groupBy(a).agg(
            F.sum("c").alias("cnt"), F.max("c").alias("mx")
        )
        arm = per_key.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            (F.sum("cnt") - F.sum("mx")).cast("long").alias("violations"),
            F.floor(
                (
                    (F.sum("cnt") - F.sum("mx")).cast("double")
                    / F.sum("cnt").cast("double")
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("g3_micro"),
        ).select(
            F.lit(label).alias("fd"),
            "n_rows", "n_keys", "violations", "g3_micro",
        )
        spark_arms.append(arm)
    out = spark_arms[0]
    for arm in spark_arms[1:]:
        out = out.unionByName(arm)
    return out.orderBy("fd")
