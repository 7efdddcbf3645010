"""Batch 26 operator battery — resampling statistics & iterative graph
peeling, both in deterministic closed form: hash-seeded Poisson
bootstrap confidence intervals, and k-core decomposition by unrolled
peeling.

Scale design notes:
- **Poisson bootstrap** is THE distributed bootstrap: classical
  resampling needs the whole sample in one place, but Poisson(1)
  per-row weights are independent, so every replicate is a weighted
  map over the partitioned data. Weights here are content-addressed
  (inverse-CDF over a sha-256 uniform), not RNG — identical across
  engines, partitionings, and retries. All B replicate sums fold in
  ONE map-side aggregate pass (2B + 2 aggregate columns), with the B
  uniforms carved as disjoint 8-hex windows of ⌈B/8⌉ digests per row
  — no ×B row explode, no replicate shuffle, ~B/⌈B/8⌉ fewer hash
  evaluations than the exploded form.
- **k-core** is inherently iterative (peel nodes under degree k until
  fixpoint). The plan unrolls a fixed number of peels — each round is
  one degree aggregate + one semi-join, the loop builds the PLAN only
  (no driver actions between rounds) — and the pytest gate proves the
  fixture converges within the unroll, so the bounded plan equals the
  true k-core. The procedurally-looped analog is
  ``connected_components``; this is the in-plan form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Hash-seeded Poisson bootstrap CI for the mean event value
# --------------------------------------------------------------------------

_BOOT_B = 20
#: Poisson(1) inverse-CDF thresholds on a 1e6 grid: P(X<=k) for k=0..4
_POIS_CDF_MICRO = (367879, 735758, 919698, 981011, 996340)


def _boot_w_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF_MICRO)
    )
    return f"CASE {arms} ELSE 5 END"


def _boot_u_sql(b: int) -> str:
    """Replicate b's uniform on the 1e6 grid: 8-hex window #((b-1)%8) of
    per-row digest #((b-1)//8) — B uniforms from ⌈B/8⌉ hashes."""
    h, j = divmod(b - 1, 8)
    return (
        f"CAST(('0x' || substring(sha256('boot:' || CAST(event_id AS VARCHAR)"
        f" || ':{h}'), {1 + 8 * j}, 8)) AS UBIGINT) % 1000000"
    )


def _boot_oracle() -> str:
    rep_sums = ",\n             ".join(
        f"CAST(sum(({_boot_w_sql(_boot_u_sql(b))}) * cents) AS BIGINT)"
        f" AS ws{b},\n             "
        f"CAST(sum({_boot_w_sql(_boot_u_sql(b))}) AS BIGINT) AS wt{b}"
        for b in range(1, _BOOT_B + 1)
    )
    means = ", ".join(
        f"CAST(floor(CAST(ws{b} AS DOUBLE) * 1e6 / wt{b}) AS BIGINT)"
        for b in range(1, _BOOT_B + 1)
    )
    return f"""
    WITH pts AS (
      SELECT event_id,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      FROM events),
    folded AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) AS BIGINT) AS csum,
             {rep_sums}
      FROM pts)
    SELECT n_events,
           CAST(floor(CAST(csum AS DOUBLE) * 1e6 / n_events) AS BIGINT)
             AS mean_micro,
           list_min([{means}]) AS boot_lo_micro,
           list_max([{means}]) AS boot_hi_micro,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates
    FROM folded
    """


@query("poisson_bootstrap_ci_event_mean", oracle=_boot_oracle())
def poisson_bootstrap_ci_event_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean event value via the
    POISSON bootstrap — the resampling scheme that distributes: instead
    of drawing n rows with replacement (which needs global coordination),
    each row enters replicate b with multiplicity ~ Poisson(1), drawn
    here by inverse-CDF over a content-addressed sha-256 uniform — no
    RNG state, identical on both engines and on any partitioning or
    retry. The reported interval is the range of the {b} replicate
    means (a conservative ~90% CI at this B; production runs use
    B≈200 and the 2.5/97.5 percentiles — same plan, more columns).

    Physical shape: every replicate's (Σw·cents, Σw) folds as a pair
    of aggregate columns in ONE pass over the fact — partials combine
    map-side, the exchange carries a single 2B+2-column row per
    partition, and no ×B row amplification ever exists. The B uniforms
    come from ⌈B/8⌉ digests per row (disjoint 8-hex windows of
    sha-256("boot:id:h")), cutting hash work 8× vs one digest per
    (row, replicate). Replicate means are floored divisions of the
    exact BIGINT sums, taken on the one folded row.""".format(b=_BOOT_B)
    pts = _t(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # the fixture's events file is a single parquet row group, so the
    # scan is one split and the whole hash chain would run on one core;
    # a hash-repartition of the two compact columns (~16 B/row) spreads
    # the B-digest work across the cluster. The partition count is
    # pinned to defaultParallelism because an unpinned repartition of
    # this small a shuffle gets AQE-coalesced back to one partition —
    # exactly the serialization being removed. At real scale the scan
    # has file-granular splits already, and this one extra shuffle of
    # the projected fact is the only shuffle in the plan.
    pts = pts.repartition(spark.sparkContext.defaultParallelism, "event_id")
    # Every per-replicate expression below is composed as SQL TEXT —
    # one py4j call per projection instead of one per Column operator.
    # The Column-API form issued ~8,000 driver socket round-trips per
    # invocation (B=20 replicates × uniforms/weights/sums/means), ~1 s
    # of pure plan-construction latency (r13 profile; the same fix as
    # operators/quantiles.py). Double literals carry the D suffix so
    # they parse as DOUBLE, not DECIMAL.
    digests = pts.selectExpr(
        "cents",
        *[
            f"sha2(concat('boot:', cast(event_id as string), ':{h}'), 256)"
            f" AS d{h}"
            for h in range((_BOOT_B + 7) // 8)
        ],
    )

    def uniform_sql(b: int) -> str:
        h, j = divmod(b - 1, 8)
        return (
            f"(cast(conv(substring(d{h}, {1 + 8 * j}, 8), 16, 10) as bigint)"
            f" % 1000000)"
        )

    def weight_sql(b: int) -> str:
        arms = f"WHEN u{b} < {_POIS_CDF_MICRO[0]} THEN 0 " + "".join(
            f"WHEN u{b} < {t} THEN {k} "
            for k, t in enumerate(_POIS_CDF_MICRO[1:], start=1)
        )
        return f"CASE {arms}ELSE 5 END"

    # layered projections, each materializing its values ONCE per row:
    # digests (3 sha) -> uniforms (20 conv/substring) -> weights (20
    # CASE over plain u columns) -> the one aggregate. Referencing the
    # hash chain directly from the CASE arms or the aggregate columns
    # re-derives it per reference — subexpression elimination does not
    # cross aggregate expressions or conditional branches — which
    # costs more than the exploded form instead of 8x less.
    uniforms = digests.selectExpr(
        "cents",
        *[f"{uniform_sql(b)} AS u{b}" for b in range(1, _BOOT_B + 1)],
    )
    weights = uniforms.selectExpr(
        "cents",
        *[f"{weight_sql(b)} AS w{b}" for b in range(1, _BOOT_B + 1)],
    )
    folded = weights.agg(
        F.expr("cast(count(1) as bigint)").alias("n_events"),
        F.expr("cast(sum(cents) as bigint)").alias("csum"),
        *[
            c
            for b in range(1, _BOOT_B + 1)
            for c in (
                # weighted replicate sums in DECIMAL — a global-group
                # Σ(w·cents) crosses 2⁶³ near 1e13 event-rows under
                # ANSI checking; the ratio below casts to the same
                # correctly-rounded double either way
                F.expr(
                    f"sum(cast(w{b} as decimal(19,0))"
                    f" * cast(cents as decimal(19,0)))"
                ).alias(f"ws{b}"),
                F.expr(f"cast(sum(w{b}) as bigint)").alias(f"wt{b}"),
            )
        ],
    )
    means_sql = (
        "array("
        + ", ".join(
            f"cast(floor(cast(ws{b} as double) * 1000000.0D / wt{b})"
            f" as bigint)"
            for b in range(1, _BOOT_B + 1)
        )
        + ")"
    )
    return folded.selectExpr(
        "n_events",
        "cast(floor(cast(csum as double) * 1000000.0D / n_events) as bigint)"
        " AS mean_micro",
        f"array_min({means_sql}) AS boot_lo_micro",
        f"array_max({means_sql}) AS boot_hi_micro",
        f"cast({_BOOT_B} as bigint) AS n_replicates",
    )


# --------------------------------------------------------------------------
# k-core decomposition by unrolled peeling
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    sql = """
    WITH fact AS (
      SELECT least(c.c_nationkey, s.s_nationkey) AS a,
             greatest(c.c_nationkey, s.s_nationkey) AS b,
             count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    thr AS (SELECT 1.1 * sum(w) / count(*) AS t FROM fact),
    e0 AS (SELECT a, b FROM fact CROSS JOIN thr WHERE w >= t)
    """
    prev = "e0"
    # MATERIALIZED: every round reads the round before it more than
    # once, and an inlined CTE chain re-runs the fact join per read —
    # at sf0.01 that spills until the disk is full
    for r in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
    d{r} AS MATERIALIZED (
      SELECT nk, count(*) AS deg FROM (
        SELECT a AS nk FROM {prev} UNION ALL SELECT b FROM {prev})
      GROUP BY nk HAVING count(*) >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN d{r} da ON e.a = da.nk
      JOIN d{r} db ON e.b = db.nk)"""
        prev = f"e{r}"
    sql += f"""
    SELECT CAST(nk AS BIGINT) AS nationkey, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT a AS nk FROM {prev} UNION ALL SELECT b FROM {prev})
    GROUP BY nk ORDER BY nationkey
    """
    return sql


@query("kcore3_trade_graph_unrolled", oracle=_kcore_oracle())
def kcore3_trade_graph_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the thresholded nation co-trade graph (edges kept
    when their lineitem weight exceeds 1.1× the mean edge weight, so
    the dense trade graph sparsifies), computed by UNROLLED peeling:
    each round drops nodes of degree < {k} and the edges touching
    them; {r} rounds are baked into one plan — the Python loop builds
    the PLAN, it never acts — and the pytest gate proves the fixture
    reaches the peeling fixpoint within the unroll, so this bounded
    plan IS the k-core.

    Each round is one degree aggregate + two semi-joins on a
    node-scale table; the only fact-scale work is the initial edge
    aggregate (the same tree as PageRank / triangle counting). The
    loop-until-convergence analog with driver-side stopping is
    ``connected_components``.""".format(k=_KCORE_K, r=_KCORE_ROUNDS)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == supp.s_suppkey,
        )
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    thr = fact.agg((1.1 * F.sum("w") / F.count(F.lit(1))).alias("t"))
    edges = (
        fact.join(F.broadcast(thr))
        .where(F.col("w") >= F.col("t"))
        .select("a", "b")
        # node-scale from here on; truncate the fact-scale lineage once
        # and fold the ≤|N|²/2-row edge list into one partition so the
        # peeling rounds don't pay 32-way shuffle setup per iteration
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col("a").alias("nk"))
            .unionAll(edges.select(F.col("b").alias("nk")))
            .groupBy("nk")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select("nk")
        )
        # deg is node-scale: broadcast both survivor probes so each
        # peeling round adds zero shuffles beyond its degree aggregate
        edges = (
            edges.join(F.broadcast(deg.withColumnRenamed("nk", "a")), "a", "left_semi")
            .join(F.broadcast(deg.withColumnRenamed("nk", "b")), "b", "left_semi")
            .select("a", "b")
        )
    return (
        edges.select(F.col("a").alias("nk"))
        .unionAll(edges.select(F.col("b").alias("nk")))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("nk").cast("long").alias("nationkey"), "degree")
        .orderBy("nationkey")
    )
