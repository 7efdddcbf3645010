"""Batch 4: generated series / gap filling, text-distance functions,
bit aggregates, sampling, IVF-style ANN, multimodal frame sampling.

The gap-fill pattern (generate a dense calendar, left-join the sparse
facts) is the canonical time-series completion op; at 100 TB the
calendar side is trivially broadcast and the fact side never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import gridsum, query, quantize as _q


@query(
    "series_monthly_orders_gapfill",
    oracle="""
    WITH months AS (
      SELECT strftime(unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01',
                                             INTERVAL 1 MONTH)), '%Y-%m') AS month),
    actual AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
             sum(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS total
      FROM orders GROUP BY 1)
    SELECT months.month, coalesce(n, 0) AS n_orders, coalesce(total, 0.0) AS total
    FROM months LEFT JOIN actual ON months.month = actual.month
    """,
)
def series_monthly_orders_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar (sequence + explode) left-joined with sparse
    monthly aggregates — zero-filled gaps. The generated side is a few
    dozen rows → broadcast; the aggregate side shuffles once."""
    orders = _t(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-08-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m")
    ).select(F.date_format("m", "yyyy-MM").alias("month"))
    actual = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        gridsum("o_totalprice", 2).alias("total"),
    )
    # RIGHT join with the calendar on the build side: Spark cannot
    # broadcast the row-preserved side of an outer join, so the
    # months-LEFT-join-actual form silently ignored the hint and
    # sort-merged both sides. actual ⟶ right-join ⟶ broadcast(months)
    # is the same result with the aggregate streaming map-side.
    return (
        actual.join(F.broadcast(months), "month", "right")
        .select(
            "month",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("total"), F.lit(0.0)).alias("total"),
        )
    )


@query(
    "text_distance_funcs",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_name, 'small ring') AS INT) AS dist_to_ring,
           array_to_string(regexp_extract_all(p_brand, '[0-9]+'), ',') AS brand_digits,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels
    FROM part
    """,
)
def text_distance_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance + regexp_extract_all — fuzzy-matching primitives
    for entity resolution, JVM expressions."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.levenshtein("p_name", F.lit("small ring")).alias("dist_to_ring"),
        F.array_join(F.regexp_extract_all("p_brand", F.lit("[0-9]+"), 0), ",").alias(
            "brand_digits"
        ),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0)).alias("n_vowels"),
    )


@query(
    "bit_agg_part_sizes",
    oracle="""
    SELECT p_brand,
           CAST(bit_and(p_size) AS INT) AS size_and,
           CAST(bit_or(p_size)  AS INT) AS size_or,
           CAST(bit_xor(p_size) AS INT) AS size_xor
    FROM part
    GROUP BY p_brand
    """,
)
def bit_agg_part_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (AND/OR/XOR are associative-commutative →
    order-independent, so directly oracle-safe)."""
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.bit_and("p_size").cast("int").alias("size_and"),
        F.bit_or("p_size").cast("int").alias("size_or"),
        F.bit_xor("p_size").cast("int").alias("size_xor"),
    )


@query("sample_orders_seeded")  # no oracle: sampling algorithm is engine-specific
def sample_orders_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sampling with a fixed seed — deterministic within
    Spark (same seed, same split planning), engine-specific across
    engines, hence rows-only. At scale this is the pushdown-friendly
    way to subsample (no shuffle, evaluated at scan)."""
    orders = _t(spark, sf_dir, "orders")
    # exact-grid read (+0.5 before floor): plain floor(x*100)/100 on a
    # 2dp double stored as 828.999… would emit one cent low; there is
    # no oracle mirroring the error here, so the value must be faithful
    faithful = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)) / 100.0
    return orders.sample(fraction=0.1, seed=42).select(
        "o_orderkey", "o_custkey", faithful.alias("o_totalprice")
    )


def _ivf_oracle() -> str:
    """DuckDB mirror of the deterministic IVF search (shared by the
    ann query's oracle and the recall metric's oracle)."""
    from .llm import _DUCK_DOT, _DUCK_NORM

    dot_ec = _DUCK_DOT.format(a="e.embedding", b="c.cent_emb")
    n_e = _DUCK_NORM.format(a="e.embedding")
    n_c = _DUCK_NORM.format(a="c.cent_emb")
    dot_pc = _DUCK_DOT.format(a="p.q_emb", b="c.embedding")
    n_p = _DUCK_NORM.format(a="p.q_emb")
    n_cv = _DUCK_NORM.format(a="c.embedding")
    return f"""
    emb0 AS (SELECT vec_id, embedding FROM embeddings
             WHERE {_DUCK_NORM.format(a='embedding')} > 0),
    cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
              FROM emb0 WHERE vec_id < 16),
    assigned AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             {dot_ec} / ({n_e} * {n_c}) AS csim
      FROM emb0 e CROSS JOIN cents c),
    cranked AS (
      SELECT vec_id, embedding, cent_id, csim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY csim DESC, cent_id) AS crk
      FROM assigned),
    cells AS (SELECT vec_id, embedding, cent_id AS cell
              FROM cranked WHERE crk = 1),
    probes AS (SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS cell
               FROM cranked WHERE vec_id < 5 AND crk <= 2),
    ivf_sims AS (
      SELECT p.q_id, c.vec_id, {dot_pc} / ({n_p} * {n_cv}) AS sim
      FROM probes p JOIN cells c ON p.cell = c.cell AND c.vec_id <> p.q_id),
    ivf_out AS (
      SELECT q_id, vec_id, floor((sim) * 1e6) / 1e6 AS sim,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
      FROM ivf_sims)
    """


@query(
    "embedding_ann_ivf",
    oracle=f"""
    WITH {_ivf_oracle()}
    SELECT q_id, vec_id, sim, rk FROM ivf_out WHERE rk <= 5
    """,
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to deterministic
    centroids (the 16 lowest-vec_id vectors), then search each query
    only in its ``nprobe=2`` nearest cells.

    The scale shape: centroid table broadcasts, cell assignment is a
    map-only argmax over 16 dot products, and the candidate join is an
    equi-join on cell id — the corpus never cross-joins the queries.
    Every step is plain deterministic double math (zip_with/aggregate
    accumulates left-to-right exactly like the oracle's list_aggregate),
    so unlike seeded-RNG LSH the whole search is oracle-paired: ranking
    uses the RAW cosine (quantization happens only on output), and
    zero-norm vectors are excluded up front on both engines (their
    NULL-vs-NaN sims would order differently). Recall vs brute force is
    additionally a driver-checked metric (ann_recall_ivf_at5)."""
    from ..functions.vectors import l2_norm

    from .llm import _spread

    # _spread: the interpreted zip_with/aggregate cosine math otherwise
    # runs on the embeddings file's single input split (see SCALING.md
    # "Local-fixture caveats"); at real scale the scan is multi-split
    emb = _spread(
        spark, _t(spark, sf_dir, "embeddings").where(l2_norm("embedding") > 0)
    )
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    return _ivf_search(emb, cents, nprobe=2)


def _ivf_search(emb: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Shared IVF search: broadcast-assign every vector to its argmax-
    cosine centroid cell, probe each query's ``nprobe`` nearest cells
    via an equi-join on cell id, rank candidates by raw cosine.

    The scale shape: the centroid table broadcasts, cell assignment is
    a map-only argmax over |cents| dot products, and the candidate join
    never cross-joins corpus against queries."""
    from ..functions.vectors import cosine_similarity

    assigned = emb.join(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        cosine_similarity("embedding", "cent_emb").alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    # rank once; both branches derive from the same frame. (Exchange
    # reuse still does not fire — the optimizer pushes probes'
    # vec_id<5 through the window as a partition-key predicate, so the
    # branch subtrees differ — but each branch scans/windows only what
    # it needs, and the shared definition keeps the rank semantics in
    # one place.)
    ranked = assigned.withColumn("rk", F.row_number().over(w))
    cells = ranked.where(F.col("rk") == 1).select(
        "vec_id", "embedding", F.col("cent_id").alias("cell")
    )
    probes = (
        ranked.where((F.col("vec_id") < 5) & (F.col("rk") <= nprobe))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
                F.col("cent_id").alias("cell"))
    )
    cand = probes.join(cells, "cell").where(F.col("vec_id") != F.col("q_id"))
    sims = cand.select(
        "q_id",
        "vec_id",
        cosine_similarity("q_emb", "embedding").alias("sim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rk", F.row_number().over(wq).cast("long"))
        .where(F.col("rk") <= 5)
        .select("q_id", "vec_id", _q("sim", 6).alias("sim"), "rk")
    )


def _recall_oracle(ann_cte: str, ann_out: str) -> str:
    """Shared recall@5 oracle: LEFT-join the brute-force top-5 against
    the given ANN CTE's top-5 and count hits per query. The bf side
    filters zero-norm vectors with the same ``norm > 0`` predicate as
    the ANN CTEs — Spark's NULL-guarded cosine and DuckDB's 0-division
    would otherwise rank a zero-norm corpus differently in principle."""
    from .llm import _DUCK_DOT, _DUCK_NORM

    dot_qe = _DUCK_DOT.format(a="q_emb", b="e.embedding")
    n_q = _DUCK_NORM.format(a="q_emb")
    n_e = _DUCK_NORM.format(a="e.embedding")
    return f"""
    WITH {ann_cte},
    ann5 AS (SELECT q_id, vec_id FROM {ann_out} WHERE rk <= 5),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb
          FROM emb0 WHERE vec_id < 5),
    bf_sims AS (
      SELECT q_id, e.vec_id,
             {dot_qe} / ({n_q} * {n_e}) AS sim
      FROM q CROSS JOIN emb0 e WHERE e.vec_id <> q_id),
    bf5 AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rk
        FROM bf_sims) WHERE rk <= 5),
    hits AS (
      SELECT b.q_id, count(a.vec_id) AS n_hits
      FROM bf5 b LEFT JOIN ann5 a USING (q_id, vec_id)
      GROUP BY b.q_id)
    SELECT q_id, CAST(n_hits AS BIGINT) AS n_hits,
           n_hits / 5.0 AS recall_at_5
    FROM hits
    """


def _recall_at5(spark: SparkSession, sf_dir: str, ann5: DataFrame) -> DataFrame:
    """Spark twin of :func:`_recall_oracle`: recall@5 of ``ann5``
    (columns q_id, vec_id) vs the zero-norm-filtered brute-force top-5.
    (n_hits/5.0 divides identically under IEEE-754 on both engines —
    no grid needed.)"""
    from ..functions.vectors import cosine_similarity, l2_norm

    from .llm import _spread

    # _spread: the interpreted zip_with/aggregate cosine math otherwise
    # runs on the embeddings file's single input split (see SCALING.md
    # "Local-fixture caveats"); at real scale the scan is multi-split
    emb = _spread(
        spark, _t(spark, sf_dir, "embeddings").where(l2_norm("embedding") > 0)
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sims = emb.join(F.broadcast(q), emb.vec_id != q.q_id).select(
        "q_id", "vec_id", cosine_similarity("q_emb", "embedding").alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    bf5 = (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("q_id", "vec_id")
    )
    hits = (
        bf5.join(ann5.withColumn("__hit", F.lit(1)), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(F.count("__hit").alias("n_hits"))
    )
    return hits.select(
        "q_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits") / F.lit(5.0)).alias("recall_at_5"),
    )


@query("ann_recall_ivf_at5", oracle=_recall_oracle(_ivf_oracle(), "ivf_out"))
def ann_recall_ivf_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable ANN quality metric: recall@5 of the IVF search
    against the brute-force top-5, computed inside the query. Both
    sides are deterministic, so the oracle re-derives the identical
    metric end-to-end in SQL — an ANN accuracy gate the driver can
    hash-check, not just row-count."""
    ivf5 = embedding_ann_ivf(spark, sf_dir).select("q_id", "vec_id")
    return _recall_at5(spark, sf_dir, ivf5)


_KMEANS_K = 16
_KMEANS_NPROBE = 4
#: fit-sample cap: above this corpus size the KMeans fit trains on a
#: seeded ~cap-row sample (the fixtures are far below it, so the cap
#: never changes certified results)
_KMEANS_FIT_CAP = 16384
#: recall floor for the KMeans gate: probing nprobe/k = 4/16 = 25% of a
#: structureless corpus at random would expect 25·0.25 ≈ 6 hits; the
#: trained index must clear 10 (measured 13/25 at sf0.01, 1.6× random).
_KMEANS_MIN_HITS = 10


def _kmeans_centroids(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Production centroid path: seeded ``pyspark.ml`` KMeans over the
    L2-normalized corpus (unit vectors make Euclidean argmin ≡ cosine
    argmax, so the trained centers slot into the same cosine-assignment
    search as the proxy centroids).

    The only driver-side materialization is ``clusterCenters()`` — k
    vectors, a constant — re-broadcast as the centroid table. The fit
    itself runs on a seeded sample once the corpus exceeds
    ``_KMEANS_FIT_CAP`` (KMeans cost is per-point × iterations × k, and
    centroid quality converges long before the full corpus has been
    seen) — below the cap every row is used, so fixture-scale results
    are bit-identical to the uncapped fit; the search path always scans
    the full corpus. Measured: x5 stress (10k vectors) fit dominated
    its battery at 26 s before the cap."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..functions.vectors import l2_norm

    unit = emb.select(
        F.transform(
            "embedding", lambda x: x.cast("double") / l2_norm("embedding")
        ).alias("unit")
    )
    n = unit.count()
    if n > _KMEANS_FIT_CAP:
        unit = unit.sample(_KMEANS_FIT_CAP / n, seed=42)
    model = KMeans(k=_KMEANS_K, seed=42, maxIter=20).fit(
        unit.select(array_to_vector("unit").alias("features"))
    )
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())],
        "cent_id int, cent_emb array<double>",
    )


@query("embedding_ann_ivf_kmeans")  # no oracle: trained centroids are engine-specific
def embedding_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with *trained* centroids (seeded KMeans) instead of the
    deterministic proxy set — the production 100 TB path, where
    centroid quality, not the search shape, decides recall. Rows-only
    driver check (an oracle can't retrain the model); accuracy is
    driver-gated via ``ann_recall_ivf_kmeans_at5``."""
    from ..functions.vectors import l2_norm

    from .llm import _spread

    # _spread: the interpreted zip_with/aggregate cosine math otherwise
    # runs on the embeddings file's single input split (see SCALING.md
    # "Local-fixture caveats"); at real scale the scan is multi-split
    emb = _spread(
        spark, _t(spark, sf_dir, "embeddings").where(l2_norm("embedding") > 0)
    )
    return _ivf_search(emb, _kmeans_centroids(spark, emb), nprobe=_KMEANS_NPROBE)


@query(
    "ann_recall_ivf_kmeans_at5",
    oracle=f"""
    WITH proxy AS ({_recall_oracle(_ivf_oracle(), "ivf_out")})
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_hits) AS BIGINT) AS proxy_total_hits,
           TRUE AS kmeans_hits_ge_floor
    FROM proxy
    """,
)
def ann_recall_ivf_kmeans_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable quality gate for the trained-centroid ANN,
    using the self-certifying verdict pattern (``approx_distinct_parts``):
    the KMeans index's recall total is engine-specific, so the hashable
    contract is the boolean ``kmeans_total_hits ≥ {_KMEANS_MIN_HITS}``
    next to the (fully SQL-reproducible) proxy recall total.

    Why not "kmeans ≥ proxy" (the obvious gate): the proxy centroid set
    *contains the five query vectors themselves*, so each query's true
    neighbors — which on this synthetic, structureless corpus (mean
    pairwise cosine ≈ 0) correlate with the query far more than with
    any other centroid — collapse into the query's own cell. That
    self-probing bias makes the proxy a near-oracle on the fixture
    (23/25 at sf0.01) that no honestly-trained index can match probing
    25% of cells. The floor instead certifies the trained index beats
    the random-probe baseline by a wide margin (see _KMEANS_MIN_HITS).

    Integer hit totals only — no float averaging — so both engines'
    values are exact and order-independent."""
    kmeans5 = embedding_ann_ivf_kmeans(spark, sf_dir).select("q_id", "vec_id")
    km = _recall_at5(spark, sf_dir, kmeans5).agg(
        F.sum("n_hits").cast("long").alias("km_hits")
    )
    ivf5 = embedding_ann_ivf(spark, sf_dir).select("q_id", "vec_id")
    proxy = _recall_at5(spark, sf_dir, ivf5).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_hits").cast("long").alias("proxy_total_hits"),
    )
    return proxy.join(km).select(
        "n_queries",
        "proxy_total_hits",
        (F.col("km_hits") >= F.lit(_KMEANS_MIN_HITS)).alias("kmeans_hits_ge_floor"),
    )


def _signlsh_oracle() -> str:
    """DuckDB mirror of the deterministic sign-LSH search: 2 tables x
    4 sign bits against data-derived hyperplanes (vec_id 100..107)."""
    from .llm import _DUCK_DOT, _DUCK_NORM

    dot_ep = _DUCK_DOT.format(a="e.embedding", b="p.plane")
    dot_qc = _DUCK_DOT.format(a="qe.embedding", b="ce.embedding")
    n_q = _DUCK_NORM.format(a="qe.embedding")
    n_c = _DUCK_NORM.format(a="ce.embedding")
    return f"""
    emb0 AS (SELECT vec_id, embedding FROM embeddings
             WHERE {_DUCK_NORM.format(a='embedding')} > 0),
    planes AS (
      SELECT CAST(floor((vec_id - 100) / 4) AS INT) AS t,
             CAST((vec_id - 100) % 4 AS INT) AS j,
             embedding AS plane
      FROM emb0 WHERE vec_id >= 100 AND vec_id < 108),
    sigs AS (
      SELECT e.vec_id, p.t,
             CAST(sum(CASE WHEN {dot_ep} >= 0
                           THEN power(2, p.j) ELSE 0 END) AS BIGINT) AS sig
      FROM emb0 e CROSS JOIN planes p
      GROUP BY e.vec_id, p.t),
    masks AS (SELECT unnest([0, 1, 2, 4, 8]) AS mask),
    qprobe AS (
      SELECT q.vec_id, q.t, xor(q.sig, CAST(m.mask AS BIGINT)) AS sig
      FROM sigs q CROSS JOIN masks m WHERE q.vec_id < 5),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      FROM qprobe q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      WHERE c.vec_id <> q.vec_id),
    lsh_sims AS (
      SELECT cand.q_id, cand.vec_id,
             {dot_qc} / ({n_q} * {n_c}) AS sim
      FROM cand
      JOIN emb0 qe ON qe.vec_id = cand.q_id
      JOIN emb0 ce ON ce.vec_id = cand.vec_id),
    lsh_out AS (
      SELECT q_id, vec_id, floor((sim) * 1e6) / 1e6 AS sim,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
      FROM lsh_sims)
    """


def _signlsh_frames(spark: SparkSession, sf_dir: str):
    """Shared Spark-side pieces of the sign-LSH search: (candidate
    pairs, norm-filtered corpus)."""
    from ..functions.vectors import dot, l2_norm

    from .llm import _spread

    # _spread: the interpreted zip_with/aggregate cosine math otherwise
    # runs on the embeddings file's single input split (see SCALING.md
    # "Local-fixture caveats"); at real scale the scan is multi-split
    emb = _spread(
        spark, _t(spark, sf_dir, "embeddings").where(l2_norm("embedding") > 0)
    )
    vid = F.col("vec_id")
    planes = emb.where((vid >= 100) & (vid < 108)).select(
        F.floor((vid - 100) / 4).cast("int").alias("t"),
        ((vid - 100) % 4).cast("int").alias("j"),
        F.col("embedding").alias("plane"),
    )
    sigs = (
        emb.join(F.broadcast(planes))
        .select("vec_id", "t", "j", dot("embedding", "plane").alias("d"))
        .groupBy("vec_id", "t")
        .agg(
            F.sum(
                F.when(F.col("d") >= 0, F.pow(F.lit(2.0), F.col("j"))).otherwise(0.0)
            )
            .cast("long")
            .alias("sig")
        )
    )
    # hamming-1 multi-probe (Lv et al., VLDB'07): each query also scans
    # the 4 buckets one sign-bit away — 5x the probes, zero extra
    # signature computation, still an equi-join on (t, sig)
    masks = spark.createDataFrame([(m,) for m in (0, 1, 2, 4, 8)], "mask long")
    q_sigs = (
        sigs.where(F.col("vec_id") < 5)
        .join(F.broadcast(masks))
        .select(
            F.col("vec_id").alias("q_id"),
            "t",
            F.col("sig").bitwiseXOR(F.col("mask")).alias("sig"),
        )
    )
    cand = (
        q_sigs.join(sigs, ["t", "sig"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    return cand, emb


@query(
    "embedding_ann_signlsh",
    oracle=f"""
    WITH {_signlsh_oracle()}
    SELECT q_id, vec_id, sim, rk FROM lsh_out WHERE rk <= 5
    """,
)
def embedding_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (sign-bit) LSH ANN, fully deterministic: the
    hyperplanes are data-derived (corpus vectors 100..107 → 2 hash
    tables × 4 bits), so unlike the seeded-RNG pyspark.ml variant
    (embedding_ann_lsh) the whole search — signature, bucket join,
    candidate top-5 — is reproducible in ANSI SQL and hash-checked by
    the driver.

    Scale shape is the production LSH one: signatures are a map-side
    broadcast-join + 8 dot products per row, buckets are an equi-join
    on (table, signature) — the corpus never cross-joins the queries,
    and candidate count is bounded by bucket occupancy. Charikar
    (STOC'02) sign-LSH; cosine collision prob = 1 − θ/π per bit.
    Queries probe hamming-1 neighbor buckets too (multi-probe LSH, Lv
    et al. VLDB'07): 5× the probes per table at zero extra signature
    cost — on this fixture it lifts mean recall@5 from 0.2 to 0.72."""
    from ..functions.vectors import cosine_similarity

    cand, emb = _signlsh_frames(spark, sf_dir)
    qe = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    ce = emb.select("vec_id", "embedding")
    sims = (
        cand.join(F.broadcast(qe), "q_id")
        .join(ce, "vec_id")
        .select("q_id", "vec_id", cosine_similarity("q_emb", "embedding").alias("sim"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rk", F.row_number().over(wq).cast("long"))
        .where(F.col("rk") <= 5)
        .select("q_id", "vec_id", _q("sim", 6).alias("sim"), "rk")
    )


@query("ann_recall_signlsh_at5", oracle=_recall_oracle(_signlsh_oracle(), "lsh_out"))
def ann_recall_signlsh_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the deterministic sign-LSH search vs brute force —
    the second driver-hash-checked ANN accuracy gate (see
    ann_recall_ivf_at5)."""
    lsh5 = embedding_ann_signlsh(spark, sf_dir).select("q_id", "vec_id")
    return _recall_at5(spark, sf_dir, lsh5)


@query("multimodal_frame_sample")  # no oracle: binary decode is Spark-side only
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling for video-like payloads with a REAL decoder: each
    payload is a concatenated-PNG stream (intra-only "video"); the
    sampler walks the stream by chunk framing (functions.multimodal.
    iter_png_frames), keeps every 2nd frame, fully decodes it (CRC
    verify + zlib inflate) and emits one typed row per sampled frame
    with per-channel pixel means — the explode-shaped decode an ffmpeg
    frame sampler produces, binary in → Arrow batches → typed rows out.
    """
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def sample_frames(it):
        from projet5_spark.functions.multimodal import (
            decode_png,
            iter_png_frames,
            synth_png_stream,
        )

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                data = synth_png_stream(int(doc_id))
                for frame_no, (offset, frame) in enumerate(iter_png_frames(data)):
                    if frame_no % 2:  # sample every 2nd frame
                        continue
                    meta = decode_png(frame)
                    rows.append(
                        (
                            doc_id,
                            frame_no,
                            offset,
                            meta["width"],
                            meta["height"],
                            meta["features"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_no", "byte_offset", "width", "height", "features",
                ],
            )

    return docs.mapInPandas(
        sample_frames,
        schema="doc_id long, frame_no long, byte_offset long, "
        "width long, height long, features array<double>",
    )


# --------------------------------------------------------------------------
# Retrieval-quality metrics beyond recall: MRR + integer-grid nDCG
# --------------------------------------------------------------------------

#: reciprocal-discount weights x60 (lcm of 1..5): rank i contributes
#: 60/i — 60,30,20,15,12 — so DCG sums are exact INTEGERS in both
#: engines (log2 discounts would ride each engine's libm; summing
#: doubles would ride aggregation order; x60 integers ride nothing)
_NDCG_IDCG_X60 = 60 + 30 + 20 + 15 + 12  # ideal DCG: all 5 relevant


def _mrr_ndcg_oracle() -> str:
    from .llm import _DUCK_DOT, _DUCK_NORM

    dot_qe = _DUCK_DOT.format(a="q_emb", b="e.embedding")
    n_q = _DUCK_NORM.format(a="q_emb")
    n_e = _DUCK_NORM.format(a="e.embedding")
    return f"""
    WITH {_ivf_oracle()},
    ann5 AS (SELECT q_id, vec_id, rk FROM ivf_out WHERE rk <= 5),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb
          FROM emb0 WHERE vec_id < 5),
    bf_sims AS (
      SELECT q_id, e.vec_id,
             {dot_qe} / ({n_q} * {n_e}) AS sim
      FROM q CROSS JOIN emb0 e WHERE e.vec_id <> q_id),
    bf5 AS (
      SELECT q_id, vec_id, brk FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS brk
        FROM bf_sims) WHERE brk <= 5),
    matched AS (
      SELECT b.q_id, b.brk, a.rk
      FROM bf5 b LEFT JOIN ann5 a USING (q_id, vec_id))
    SELECT q_id,
           CAST(coalesce(max(CASE WHEN brk = 1 THEN rk END), 0) AS BIGINT)
             AS true_nn_rank,
           CAST(coalesce(max(CASE WHEN brk = 1 THEN 1000 // rk END), 0)
                AS BIGINT) AS mrr_milli,
           CAST(count(rk) AS BIGINT) AS n_hits,
           CAST(sum(coalesce(60 // rk, 0)) * 1000 // {_NDCG_IDCG_X60}
                AS BIGINT) AS ndcg_milli
    FROM matched GROUP BY q_id
    """


@query("ann_mrr_ndcg_eval", oracle=_mrr_ndcg_oracle())
def ann_mrr_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics of the (deterministic) IVF index vs
    brute-force ground truth, per query: rank of the TRUE nearest
    neighbor in the ANN list (0 = missed), MRR in exact millis
    (``1000 div rank``), hit count, and nDCG@5 with a reciprocal
    discount on the x60 integer grid — rank i contributes ``60 div i``
    so the DCG sum is an exact integer (a log2 discount would ride
    each engine's libm, a double sum would ride aggregation order;
    this grid rides neither), normalized by the all-relevant ideal
    (137/60) into millis. The eval harness a retrieval pipeline runs
    per index build; every quantity is engine-exact so the driver
    hash-certifies the metrics themselves.

    Scale: ANN side is the bounded IVF search; ground truth is
    queries x corpus brute force — an EVAL-SLICE pass (5 queries here;
    a production eval samples queries the same way, never all-pairs)."""
    from ..functions.vectors import cosine_similarity, l2_norm

    from .llm import _spread

    emb = _spread(
        spark, _t(spark, sf_dir, "embeddings").where(l2_norm("embedding") > 0)
    )
    ann5 = embedding_ann_ivf(spark, sf_dir).select("q_id", "vec_id", "rk")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sims = emb.join(F.broadcast(q), emb.vec_id != q.q_id).select(
        "q_id", "vec_id", cosine_similarity("q_emb", "embedding").alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    bf5 = (
        sims.withColumn("brk", F.row_number().over(w))
        .where(F.col("brk") <= 5)
        .select("q_id", "vec_id", "brk")
    )
    matched = bf5.join(ann5, ["q_id", "vec_id"], "left")
    return matched.groupBy("q_id").agg(
        F.coalesce(
            F.max(F.when(F.col("brk") == 1, F.col("rk"))), F.lit(0)
        )
        .cast("long")
        .alias("true_nn_rank"),
        F.coalesce(
            F.max(F.when(F.col("brk") == 1, F.expr("1000 div rk"))), F.lit(0)
        )
        .cast("long")
        .alias("mrr_milli"),
        F.count("rk").cast("long").alias("n_hits"),
        F.expr(f"sum(coalesce(60 div rk, 0)) * 1000 div {_NDCG_IDCG_X60}")
        .cast("long")
        .alias("ndcg_milli"),
    )
