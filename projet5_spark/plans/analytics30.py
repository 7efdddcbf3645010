"""Batch 32 operator battery — certified iterative ML and survival
analysis.

- **Lloyd's k-means, numerically certified** — the catalog's trained
  k-means (`embedding_ann_ivf_kmeans`) is rows-only because
  ``pyspark.ml``'s fit is engine-specific. This entry runs the SAME
  algorithm (assign → update, twice) as plain DataFrame ops on the
  exact micro-int grid with content-addressed init, so DuckDB can
  replay every iteration bit-for-bit — upgrading "iterative ML on
  Spark" from a pytest claim to a driver-certified one.
- **Kaplan-Meier survival** — the estimator behind churn/retention
  curves; cumulative log-survival over the deterministic integer log
  so the whole curve is engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Lloyd's k-means, 2 unrolled iterations, exact integer grid
# --------------------------------------------------------------------------

_KM_K = 4

_KM_ORACLE = f"""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS v
      FROM embeddings),
    seeds AS (
      SELECT vec_id,
             CAST(row_number() OVER (
               ORDER BY substr(sha256('km:' || CAST(vec_id AS VARCHAR)), 1, 8),
                        vec_id) AS INTEGER) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM x)
      ORDER BY substr(sha256('km:' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id
      LIMIT {_KM_K}),
    c0 AS (SELECT s.cid, x.i, x.v AS c FROM seeds s JOIN x USING (vec_id)),
    d1 AS (
      SELECT x.vec_id, c0.cid,
             CAST(sum((x.v - c0.c) * (x.v - c0.c)) AS BIGINT) AS dist
      FROM x JOIN c0 ON x.i = c0.i GROUP BY 1, 2),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1),
    c1 AS (
      SELECT a1.cid, x.i,
             CAST(floor(CAST(sum(x.v) AS DOUBLE) / count(*)) AS BIGINT) AS c
      FROM x JOIN a1 USING (vec_id) GROUP BY 1, 2),
    d2 AS (
      SELECT x.vec_id, c1.cid,
             CAST(sum((x.v - c1.c) * (x.v - c1.c)) AS BIGINT) AS dist
      FROM x JOIN c1 ON x.i = c1.i GROUP BY 1, 2),
    a2 AS (
      SELECT vec_id, cid, dist AS mindist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1),
    c2 AS (
      SELECT a2.cid, x.i,
             CAST(floor(CAST(sum(x.v) AS DOUBLE) / count(*)) AS BIGINT) AS c
      FROM x JOIN a2 USING (vec_id) GROUP BY 1, 2)
    SELECT CAST(c2.cid AS INTEGER) AS cluster,
           CAST(max(m.n) AS BIGINT) AS n_members,
           CAST(max(m.inertia) AS BIGINT) AS inertia,
           CAST(sum(c2.c) AS BIGINT) AS centroid_checksum
    FROM c2
    JOIN (SELECT cid, count(*) AS n, CAST(sum(mindist) AS BIGINT) AS inertia
          FROM a2 GROUP BY cid) m ON c2.cid = m.cid
    GROUP BY c2.cid
"""


@query("kmeans_lloyd_certified", oracle=_KM_ORACLE)
def kmeans_lloyd_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd's iterations (k=4) over the embeddings as
    pure DataFrame ops: content-addressed seeds (the 4 vec_ids with
    the smallest ``sha256('km:'||vec_id)`` prefix — reproducible in
    any engine, unlike a seeded RNG), squared-distance assignment with
    (dist, cid) tie-break, floor-mean centroid update — every quantity
    an exact BIGINT on the micro-int grid, so the oracle replays both
    iterations bit-for-bit. Output: per-cluster size, inertia, and a
    centroid checksum after iteration 2.

    Scale shape per iteration: centroids are k·d rows — broadcast;
    assignment is one hash aggregate over the exploded vectors keyed
    (vec, cid) then a (dist, cid)-min per vec; update is one (cid, i)
    aggregate — O(n·k·d) work, zero driver-side state, the same plan
    ml.KMeans's JVM loop runs internally. A production run iterates
    this to convergence (the loop body is this function's single
    iteration); a cluster emptied by an assignment simply drops from
    the update aggregate identically in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "ev")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("ev").cast("double") * 1e6).cast("long").alias("v"),
    )
    h = F.substring(
        F.sha2(F.concat(F.lit("km:"), F.col("vec_id").cast("string")), 256), 1, 8
    )
    # seed from the domain of the EXPLODED relation (the oracle's
    # `SELECT DISTINCT vec_id FROM x`): a row whose embedding array is
    # empty/NULL has no x rows, so it must not be seedable either —
    # seeding from emb would let such a row claim a cid that then gets
    # zero centroid components, shifting every later seed's cid.
    # `size(embedding) > 0` is that domain WITHOUT re-distincting the
    # n·d exploded rows (size() is -1 for NULL, so both degenerate
    # shapes filter; measured +1.4 s at sf0.1 for the exploded form)
    seeds = (
        emb.where(F.size("embedding") > 0)
        .select("vec_id")
        .distinct()
        .withColumn(
            "cid",
            (
                F.row_number().over(Window.orderBy(h.asc(), F.col("vec_id").asc()))
                - 1
            ).cast("int"),
        )
        .where(F.col("cid") < _KM_K)
    )

    def assign(cent: DataFrame) -> DataFrame:
        d = (
            x.join(F.broadcast(cent), "i")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
                .cast("long")
                .alias("dist")
            )
        )
        return d.groupBy("vec_id").agg(
            F.min_by("cid", F.struct("dist", "cid")).alias("cid"),
            F.min("dist").cast("long").alias("mindist"),
        )

    def update(assignment: DataFrame) -> DataFrame:
        return (
            x.join(assignment.select("vec_id", "cid"), "vec_id")
            .groupBy("cid", "i")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("c")
            )
        )

    c0 = seeds.join(x, "vec_id").select("cid", "i", F.col("v").alias("c"))
    a1 = assign(c0)
    c1 = update(a1)
    a2 = assign(c1)
    c2 = update(a2)
    members = a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mindist").cast("long").alias("inertia"),
    )
    return (
        c2.join(members, "cid")
        .groupBy(F.col("cid").cast("int").alias("cluster"))
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.max("inertia").cast("long").alias("inertia"),
            F.sum("c").cast("long").alias("centroid_checksum"),
        )
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival over customer order lifetimes
# --------------------------------------------------------------------------

_KM_CHURN_DAYS = 90  # inactive this long before corpus end = churn event


@query(
    "kaplan_meier_customer_survival",
    oracle=f"""
    WITH bounds AS (SELECT max(o_orderdate) AS mx FROM orders),
    cust AS (
      SELECT o_custkey,
             CAST(floor(date_diff('day', min(o_orderdate), max(o_orderdate))
                        / 30.0) AS BIGINT) AS t,
             CAST(max(o_orderdate)
                  < (SELECT mx FROM bounds) - INTERVAL '{_KM_CHURN_DAYS}' DAY
                  AS INTEGER) AS event
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT count(*) AS n FROM cust),
    per_t AS (
      SELECT t,
             CAST(sum(event) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM cust GROUP BY t),
    risk AS (
      SELECT t, d,
             CAST((SELECT n FROM tot)
               - coalesce(sum(leaving) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
      FROM per_t),
    risk2 AS (
      SELECT t, d, n_at_risk, CAST(n_at_risk - d AS BIGINT) AS nd FROM risk),
    terms AS (
      SELECT t, d, n_at_risk,
             CASE WHEN d > 0 AND n_at_risk > d THEN
               CAST(floor(({ln_det_int_sql('nd')}
                           - {ln_det_int_sql('n_at_risk')}) * 1e9) AS BIGINT)
             ELSE 0 END AS term_nano
      FROM risk2)
    SELECT t AS t_months, n_at_risk, d AS n_events,
           CAST(sum(term_nano) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS log_surv_nano
    FROM terms
    """,
)
def kaplan_meier_customer_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of customer activity lifetimes: duration =
    months between a customer's first and last order; an observation is
    a churn EVENT if the last order precedes the corpus end by more
    than {_KM_CHURN_DAYS} days, else right-CENSORED (still active —
    they leave the risk set without contributing a death). Output per
    duration month: risk-set size, events, and cumulative
    log-survival ln S(t) = Σ ln(1 − dᵢ/nᵢ) in nano units.

    Determinism: each factor is ln(nᵢ−dᵢ) − ln(nᵢ) over exact BIGINT
    counts via the deterministic integer log, floored to a nano-int
    per term; the cumulative sum is an integer window over the total
    t-order. Shape: one per-customer aggregate (customer-scale), one
    per-month aggregate (≤ corpus-months rows), one tiny ordered
    window — the heavy pass is the first aggregate, map-side
    combinable at any scale. Months with zero events contribute a
    zero term but still report their risk set (standard KM plotting
    form)."""
    orders = _t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.floor(
                F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 30.0
            )
            .cast("long")
            .alias("t"),
            (
                # timestamp arithmetic, NOT date_sub: o_orderdate is a
                # timestamp column and the oracle subtracts the interval
                # from the full timestamp — date_sub would truncate the
                # corpus end to midnight and classify customers whose
                # last order falls inside the truncated sub-day window
                # differently for non-midnight event times
                F.max("o_orderdate")
                < F.max(F.col("mx")) - F.expr(f"INTERVAL {_KM_CHURN_DAYS} DAYS")
            )
            .cast("int")
            .alias("event"),
        )
    )
    per_t = cust.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    total = cust.agg(F.count(F.lit(1)).alias("n"))
    risk = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (F.col("n") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)))
            .cast("long"),
        )
        .withColumn("nd", (F.col("n_at_risk") - F.col("d")).cast("long"))
    )
    term = F.when(
        (F.col("d") > 0) & (F.col("n_at_risk") > F.col("d")),
        F.floor((ln_det_int("nd") - ln_det_int("n_at_risk")) * F.lit(1e9)).cast(
            "long"
        ),
    ).otherwise(F.lit(0).cast("long"))
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return risk.withColumn("term_nano", term).select(
        F.col("t").alias("t_months"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.sum("term_nano").over(w_cum).cast("long").alias("log_surv_nano"),
    )


# --------------------------------------------------------------------------
# Power iteration: dominant principal direction of the embedding covariance
# --------------------------------------------------------------------------


def _itdiv(w: str, d: str) -> str:
    """Sign-explicit integer division shared textually with the oracle:
    truncation toward zero regardless of either engine's native choice."""
    return (
        f"(CASE WHEN {w} < 0 THEN -((-({w})) // ({d})) "
        f"ELSE ({w}) // ({d}) END)"
    )


_PI_ORACLE = f"""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    sums AS (
      SELECT i, CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS s_g
      FROM x GROUP BY i),
    prods AS (
      SELECT a.i AS i, b.i AS j,
             CAST(sum(CAST(floor(a.v * b.v * 1e9) AS BIGINT)) AS BIGINT) AS sp_g
      FROM x a JOIN x b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i),
    cov AS (
      SELECT prods.i, prods.j,
             CAST(floor(((CAST(sp_g AS DOUBLE) / 1e9) / n.n
                         - ((CAST(sa.s_g AS DOUBLE) / 1e6) / n.n)
                           * ((CAST(sb.s_g AS DOUBLE) / 1e6) / n.n)) * 1e9)
                  AS BIGINT) AS c
      FROM prods JOIN n ON true
      JOIN sums sa ON prods.i = sa.i
      JOIN sums sb ON prods.j = sb.i),
    w1 AS (SELECT i, CAST(sum(c * 1000000) AS BIGINT) AS w FROM cov GROUP BY i),
    m1 AS (SELECT greatest(max(abs(w)) // 1000000, 1) AS d FROM w1),
    v1 AS (SELECT i, CAST({_itdiv('w', '(SELECT d FROM m1)')} AS BIGINT) AS v
           FROM w1),
    w2 AS (SELECT cov.i, CAST(sum(cov.c * v1.v) AS BIGINT) AS w
           FROM cov JOIN v1 ON cov.j = v1.i GROUP BY cov.i),
    m2 AS (SELECT greatest(max(abs(w)) // 1000000, 1) AS d FROM w2),
    v2 AS (SELECT i, CAST({_itdiv('w', '(SELECT d FROM m2)')} AS BIGINT) AS v
           FROM w2),
    w3 AS (SELECT cov.i, CAST(sum(cov.c * v2.v) AS BIGINT) AS w
           FROM cov JOIN v2 ON cov.j = v2.i GROUP BY cov.i),
    m3 AS (SELECT greatest(max(abs(w)) // 1000000, 1) AS d FROM w3),
    v3 AS (SELECT i, CAST({_itdiv('w', '(SELECT d FROM m3)')} AS BIGINT) AS v
           FROM w3)
    SELECT CAST(i AS BIGINT) AS dim, v AS dir_q FROM v3
"""


@query("covariance_power_iteration_topdir", oracle=_PI_ORACLE)
def covariance_power_iteration_topdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding covariance by
    three unrolled power iterations — the 'remove the top common
    direction' post-processing step (Arora et al.'s all-but-the-top)
    an embedding pipeline runs before similarity search, certified
    end-to-end: the covariance comes from exact integer cross-moments
    (E[xy] − E[x]E[y], the embedding_covariance_topvar doctrine,
    full-matrix form), and each iteration renormalizes by
    sign-explicit integer division so every intermediate vector is an
    exact BIGINT both engines reproduce.

    Scale shape: the cross-moment aggregate is the one corpus-scale
    pass (n·d² product rows folding into d² = 4 096 cells map-side);
    the iterations are joins between the d²-row matrix and a d-row
    vector — metadata-scale, loop-unrollable to any depth. First
    iterate v₀ = all-ones (deterministic sign convention). Overflow
    headroom: |cov| ≲ 1e9 nano-units, |v| ≤ 1e6 ⇒ |w| ≤ d·1e15 ≪ 2⁶³."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "vf")
    ).select(
        "vec_id",
        (F.col("p") + F.lit(1)).cast("long").alias("i"),
        F.col("vf").cast("double").alias("v"),
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sums = x.groupBy("i").agg(
        F.sum(F.floor(F.col("v") * F.lit(1e6)).cast("long"))
        .cast("long")
        .alias("s_g")
    )
    a, b = x.alias("a"), x.alias("b")
    prods = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(
                F.floor(F.col("a.v") * F.col("b.v") * F.lit(1e9)).cast("long")
            )
            .cast("long")
            .alias("sp_g")
        )
    )
    sa = sums.select(F.col("i").alias("i_a"), F.col("s_g").alias("sa"))
    sb = sums.select(F.col("i").alias("i_b"), F.col("s_g").alias("sb"))
    cov = (
        prods.crossJoin(F.broadcast(n))
        .join(F.broadcast(sa), F.col("i") == F.col("i_a"))
        .join(F.broadcast(sb), F.col("j") == F.col("i_b"))
        .select(
            "i",
            "j",
            F.floor(
                (
                    (F.col("sp_g").cast("double") / 1e9) / F.col("n")
                    - ((F.col("sa").cast("double") / 1e6) / F.col("n"))
                    * ((F.col("sb").cast("double") / 1e6) / F.col("n"))
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("c"),
        )
        # d² = 4096 rows feeding three iterations: materialize once so
        # each matrix-vector product does not re-run the n·d² moment
        # aggregate behind it (shared-subtree doctrine, SCALING.md)
        .localCheckpoint(eager=True)
    )

    def step(vcur: DataFrame) -> DataFrame:
        w = (
            cov.join(
                F.broadcast(vcur.select(F.col("i").alias("j"), "v")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("v")).cast("long").alias("w"))
        )
        mx = w.agg(
            F.greatest(
                F.expr("max(abs(w)) div 1000000"), F.lit(1).cast("long")
            ).alias("d")
        )
        return w.crossJoin(F.broadcast(mx)).select(
            "i",
            F.when(
                F.col("w") < 0, -F.expr("(-w) div d")
            )
            .otherwise(F.expr("w div d"))
            .cast("long")
            .alias("v"),
        )

    v0 = cov.select("i").distinct().select(
        "i", F.lit(1_000_000).cast("long").alias("v")
    )
    v = step(step(step(v0)))
    return v.select(F.col("i").cast("long").alias("dim"), F.col("v").alias("dir_q"))
