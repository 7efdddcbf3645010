"""Batch 5 operator battery: graph triangle counting, quantile-sketch
certification, entity-resolution blocking, BPE merge-pair mining,
time-series resample+interpolate, and deterministic stratified sampling.

Scale design notes:
- **Triangle counting** materializes the (tiny, aggregate-compressed)
  nation co-trade edge list from the fact tables — the expensive part is
  the one fact-scale join tree, exactly like PageRank's edge build — and
  counts triangles with the ordered node-iterator join (a<b<c), which
  scans each triangle exactly once. At web-graph scale the same join
  runs on a degree-ordered edge list (orient each edge low-degree →
  high-degree) to bound the candidate wedges per node.
- **Quantile certification** follows the self-certifying verdict pattern
  (``approx_distinct_parts``): the t-digest/GK sketch value is
  engine-specific, so the hashable contract is exact rank-based
  quantiles plus a boolean tolerance check on the sketch. The exact
  side's global sort is fixture-only; at 100 TB the exact arm runs on a
  sample or via distributed rank counting.
- **ER blocking** is the canonical record-linkage shape: a cheap
  deterministic block key bounds candidate pairs to within-block
  self-joins (C(block,2), never corpus²), then an edit-distance scorer
  classifies pairs. Block-size skew is the scale hazard — the key must
  be chosen (or salted) so no block explodes.
- **BPE pair mining** compresses the corpus to its vocabulary (word →
  frequency) BEFORE exploding character pairs, so the pair aggregate is
  vocab-scale, not corpus-scale — the standard first step of BPE
  tokenizer training.
- **Resample+interpolate** joins a dense hour grid (broadcast-size)
  against hourly aggregates, then gap-fills with linear interpolation
  between the bracketing observed hours via ignore-nulls window
  functions — one shuffle keyed on the series id. Aggregation uses the
  integer-cents grid sum so both engines interpolate identical doubles.
- **Stratified sampling** is map-only and re-runnable: membership is a
  pure function of the row key (first 8 hex chars of sha-256, mod 10⁴,
  compared to the stratum's rate) — no RNG state, no shuffle, identical
  sample on re-run and on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


# --------------------------------------------------------------------------
# Graph: triangle counting
# --------------------------------------------------------------------------

_TRI_EDGES_SQL = """
    pairs AS (
      SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                      greatest(c.c_nationkey, s.s_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey)
"""


@query(
    "triangle_count_trade_graph",
    oracle=f"""
    WITH {_TRI_EDGES_SQL},
    nodes AS (SELECT DISTINCT nk FROM
              (SELECT a AS nk FROM pairs UNION SELECT b FROM pairs)),
    tri AS (
      SELECT count(*) AS n
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.b
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles
    """,
)
def triangle_count_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the undirected nation co-trade graph (an edge
    when any lineitem ships between the two nations).

    Edges are stored once in canonical (a<b) orientation, so the
    node-iterator join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) enumerates each
    triangle exactly once — no /6 correction, no duplicate wedges. The
    fact-scale work is the edge-build aggregate; the triangle join runs
    on the compressed edge list (≤ |N|²/2 rows). See module notes for
    the degree-ordering refinement at web-graph scale."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    a = F.least(F.col("c_nationkey"), F.col("s_nationkey"))
    b = F.greatest(F.col("c_nationkey"), F.col("s_nationkey"))
    pairs = (
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
        .select(a.alias("a"), b.alias("b"))
        .distinct()
        # referenced by three join branches + the node count; same
        # eager-truncation rationale as PageRank's edge build
        .localCheckpoint()
    )
    nodes = (
        pairs.select(F.col("a").alias("nk"))
        .union(pairs.select(F.col("b").alias("nk")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    n_edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return nodes.join(n_edges).join(tri)


# --------------------------------------------------------------------------
# Quantile sketch certification
# --------------------------------------------------------------------------


@query(
    "quantile_sketch_verdict_prices",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders)
    SELECT
      (SELECT CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)
       FROM ranked WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)) AS exact_p50_cents,
      (SELECT CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)
       FROM ranked WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)) AS exact_p95_cents,
      TRUE AS p50_within_2pct,
      TRUE AS p95_within_2pct
    """,
)
def quantile_sketch_verdict_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch certification (self-certifying verdict pattern):
    exact rank-based p50/p95 of order totals next to booleans asserting
    ``percentile_approx``'s sketch lands within 2% of each.

    The exact arm is a rank selection under the total order
    (o_totalprice, o_orderkey). It is computed DISTRIBUTED, by the
    same two-level scheme as ``weighted_median_pick`` (analytics15):
    bucket the cent domain, locate the bucket holding rank
    ceil(q·n) from the buckets-scale cumulative counts, then rank
    only that one bucket's rows — the old single global row_number
    funneled every order through one partition (x100 stress: 85.8 s;
    now ~linear group-bys plus a ~1/2000-selectivity window). The
    sketch arm is the production path (one pass, mergeable partials,
    no sort). The oracle re-derives the exact quantiles by the same
    ceil(q·n) rank rule and asserts the booleans as literals, so a
    sketch drifting out of tolerance fails the hash gate."""
    orders = _t(spark, sf_dir, "orders")
    cents_of = F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")
    # prices are exact 2-decimal values, so (cents, o_orderkey) is the
    # same total order as (o_totalprice, o_orderkey)
    g = orders.select(cents_of.alias("cents"), "o_orderkey").withColumn(
        "bin", F.expr("cents div 10000")
    )
    bins = g.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("bw"))
    wb = Window.orderBy("bin")  # bucket-count rows only: tiny by design
    wt = Window.partitionBy()
    cum = bins.select(
        "bin",
        (F.sum("bw").over(wb) - F.col("bw")).alias("prev_cum"),
        F.sum("bw").over(wb).alias("cum"),
        F.sum("bw").over(wt).alias("n"),
    )

    def exact_rank(q: float, out: str):
        rn = F.ceil(F.lit(q) * F.col("n")).cast("long")
        loc = cum.where((F.col("prev_cum") < rn) & (rn <= F.col("cum"))).select(
            "bin", "prev_cum", rn.alias("rn")
        )
        win = Window.partitionBy("bin").orderBy("cents", "o_orderkey")
        return (
            g.join(F.broadcast(loc), "bin")
            .withColumn("rnk", F.col("prev_cum") + F.row_number().over(win))
            .where(F.col("rnk") == F.col("rn"))
            .select(F.col("cents").alias(out))
        )

    p50 = exact_rank(0.5, "exact_p50_cents")
    p95 = exact_rank(0.95, "exact_p95_cents")
    sketch = orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_a50"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("_a95"),
    )
    return (
        p50.join(p95)
        .join(sketch)
        .select(
            "exact_p50_cents",
            "exact_p95_cents",
            (
                F.abs(F.col("_a50") * 100 - F.col("exact_p50_cents"))
                <= 0.02 * F.col("exact_p50_cents")
            ).alias("p50_within_2pct"),
            (
                F.abs(F.col("_a95") * 100 - F.col("exact_p95_cents"))
                <= 0.02 * F.col("exact_p95_cents")
            ).alias("p95_within_2pct"),
        )
    )


# --------------------------------------------------------------------------
# Entity-resolution blocking
# --------------------------------------------------------------------------

_ER_RECORDS_SQL = """
    recs AS (
      SELECT c_custkey AS rec_id, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 10000000,
             substring(c_name, 1, length(c_name) - 1)
      FROM customer WHERE c_custkey % 10 = 7)
"""


@query(
    "er_blocking_match_stats",
    oracle=f"""
    WITH {_ER_RECORDS_SQL},
    blocked AS (SELECT rec_id, name, substring(name, 10, 8) AS blk FROM recs),
    pairs AS (
      SELECT r1.blk, levenshtein(r1.name, r2.name) AS dist
      FROM blocked r1 JOIN blocked r2
        ON r1.blk = r2.blk AND r1.rec_id < r2.rec_id)
    SELECT blk,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE dist <= 1) AS BIGINT) AS n_matches
    FROM pairs GROUP BY blk
    """,
)
def er_blocking_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage blocking + scoring: messy duplicate records are
    planted deterministically (every custkey ≡7 mod 10 re-appears with
    its name's last character dropped), records are blocked on a name
    prefix, and only within-block pairs are scored with edit distance.

    The blocking join bounds candidates to C(block,2) instead of n² —
    the whole point of the operator; the per-block pair/match counts
    are the blocking-quality diagnostic an ER pipeline monitors (pair
    completeness vs reduction ratio). Planted variants sit in the same
    block as their source by construction, so every block's match
    count ≥ its planted count."""
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name"))
    variants = cust.where(F.col("c_custkey") % 10 == 7).select(
        (F.col("c_custkey") + 10000000).alias("rec_id"),
        F.expr("substring(c_name, 1, length(c_name) - 1)").alias("name"),
    )
    recs = base.unionByName(variants).select(
        "rec_id", "name", F.substring("name", 10, 8).alias("blk")
    )
    r1, r2 = recs.alias("r1"), recs.alias("r2")
    pairs = r1.join(
        r2,
        (F.col("r1.blk") == F.col("r2.blk")) & (F.col("r1.rec_id") < F.col("r2.rec_id")),
    ).select(
        F.col("r1.blk").alias("blk"),
        F.levenshtein(F.col("r1.name"), F.col("r2.name")).alias("dist"),
    )
    return pairs.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count(F.when(F.col("dist") <= 1, 1)).cast("long").alias("n_matches"),
    )


# --------------------------------------------------------------------------
# BPE first-merge pair mining
# --------------------------------------------------------------------------


@query(
    "bpe_first_merge_pairs",
    oracle="""
    WITH vocab AS (
      SELECT tok AS word, count(*) AS wf
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok),
    chars AS (SELECT word, wf, string_split(word, '') AS cs FROM vocab),
    cpairs AS (
      SELECT cs[i] AS c1, cs[i+1] AS c2, wf
      FROM (SELECT word, wf, cs, unnest(range(1, len(cs))) AS i FROM chars)),
    agg AS (SELECT c1, c2, CAST(sum(wf) AS BIGINT) AS cnt
            FROM cpairs GROUP BY c1, c2)
    SELECT c1, c2, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, c1, c2) AS BIGINT) AS rk
    FROM agg
    ORDER BY rk LIMIT 20
    """,
)
def bpe_first_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training step 1: the 20 most frequent adjacent
    character pairs over the corpus, weighted by word frequency.

    The corpus compresses to its vocabulary (word → count) before any
    character explode, so the pair aggregate is vocab-scale — the
    iterated form of this query (re-count after each merge) is exactly
    the BPE training loop, and the vocab table is the state it carries.
    Total order (count desc, pair asc) makes the top-20 deterministic."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    cs = F.split(F.col("word"), "")
    cpair = F.zip_with(
        F.slice(cs, 1, F.size(cs) - 1),
        F.slice(cs, 2, F.size(cs) - 1),
        lambda x, y: F.struct(x.alias("c1"), y.alias("c2")),
    )
    pairs = vocab.select("wf", F.inline(cpair))
    agg = pairs.groupBy("c1", "c2").agg(F.sum("wf").cast("long").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("c1"), F.asc("c2"))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# Time-series resample + linear interpolation
# --------------------------------------------------------------------------


@query(
    "events_resample_interpolate",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      FROM events),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    grid AS (SELECT t.event_type, g.h
             FROM (SELECT DISTINCT event_type FROM ev) t
             CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM span) g),
    obs AS (SELECT event_type, h,
                   sum(cents) * 1.0 / (1e2 * count(*)) AS v
            FROM ev GROUP BY event_type, h),
    joined AS (
      SELECT g.event_type, g.h, o.v,
             last_value(o.v IGNORE NULLS) OVER
               (PARTITION BY g.event_type ORDER BY g.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN o.v IS NOT NULL THEN g.h END IGNORE NULLS) OVER
               (PARTITION BY g.event_type ORDER BY g.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             first_value(o.v IGNORE NULLS) OVER
               (PARTITION BY g.event_type ORDER BY g.h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN o.v IS NOT NULL THEN g.h END IGNORE NULLS) OVER
               (PARTITION BY g.event_type ORDER BY g.h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.h = o.h)
    SELECT event_type, h,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN pv IS NULL THEN nv
                       WHEN nv IS NULL THEN pv
                       ELSE pv + (nv - pv) * ((h - ph) * 1.0 / (nh - ph))
                  END) * 1e4) / 1e4 AS value_interp,
           v IS NOT NULL AS observed
    FROM joined
    """,
)
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of the event stream with linear interpolation
    across gaps: a dense (event_type × hour) grid left-joins the hourly
    means, and missing hours interpolate between the bracketing
    observed hours (edges forward/back-fill).

    One shuffle keyed on event_type for the windows; the grid side is
    series-count × span — broadcast-size. Hourly means use the exact
    integer-cents sum (2dp fixture grid), and the interpolation weight
    is a ratio of hour integers, so both engines evaluate the identical
    IEEE expression — the output grid (1e-4 floor) is hash-stable."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    span = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        ev.select("event_type")
        .distinct()
        .join(span)
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("h"))
    )
    obs = ev.groupBy("event_type", "h").agg(
        (F.sum("cents") * F.lit(1.0) / (F.lit(1e2) * F.count(F.lit(1)))).alias("v")
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf_ = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = (
        grid.join(obs, ["event_type", "h"], "left")
        .withColumn("pv", F.last("v", ignorenulls=True).over(wb))
        .withColumn(
            "ph",
            F.last(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True).over(wb),
        )
        .withColumn("nv", F.first("v", ignorenulls=True).over(wf_))
        .withColumn(
            "nh",
            F.first(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True).over(
                wf_
            ),
        )
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * ((F.col("h") - F.col("ph")) * F.lit(1.0) / (F.col("nh") - F.col("ph")))
        )
    )
    return j.select(
        "event_type",
        "h",
        _q(interp, 4).alias("value_interp"),
        F.col("v").isNotNull().alias("observed"),
    )


# --------------------------------------------------------------------------
# Deterministic stratified sampling
# --------------------------------------------------------------------------

#: per-stratum keep rates out of 10 000 (2% of open, 5% of filled, 50%
#: of the rare in-progress stratum — the usual "oversample the rare
#: class" shape)
_STRATA_RATES = {"O": 200, "F": 500, "P": 5000}


@query(
    "stratified_sample_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus
    FROM (
      SELECT o_orderkey, o_orderstatus,
             CAST(('0x' || substring(sha256(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 10000 AS b
      FROM orders)
    WHERE b < CASE o_orderstatus
                WHEN 'O' THEN {_STRATA_RATES["O"]}
                WHEN 'F' THEN {_STRATA_RATES["F"]}
                WHEN 'P' THEN {_STRATA_RATES["P"]}
                ELSE 0 END
    """,
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample: each stratum keeps
    rows whose key-digest bucket (first 8 hex chars of sha-256, mod
    10⁴) falls under the stratum's rate.

    Map-only — no shuffle, no RNG state — and membership is a pure
    function of the key, so re-runs, retries, and both engines select
    the identical sample (``sample_orders_seeded`` shows the
    engine-specific RNG variant; this is the reproducible form a
    pipeline should prefer). Rates live in ONE dict mirrored into the
    oracle at registration time."""
    orders = _t(spark, sf_dir, "orders")
    b = (
        F.conv(F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    rate = (
        F.when(F.col("o_orderstatus") == "O", _STRATA_RATES["O"])
        .when(F.col("o_orderstatus") == "F", _STRATA_RATES["F"])
        .when(F.col("o_orderstatus") == "P", _STRATA_RATES["P"])
        .otherwise(0)
    )
    return orders.select("o_orderkey", "o_orderstatus", b.alias("b"), rate.alias("r")).where(
        F.col("b") < F.col("r")
    ).select("o_orderkey", "o_orderstatus")


# --------------------------------------------------------------------------
# Weighted sampling (A-ES) and incremental aggregate maintenance
# --------------------------------------------------------------------------


def _weighted_sample_oracle() -> str:
    from ..functions.detmath import LN2, ln_det_int_sql

    lnk = ln_det_int_sql("bp1")
    return f"""
    WITH keyed AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS weight_cents,
             CAST(CAST(('0x' || substring(sha256(CAST(o_orderkey AS VARCHAR)), 1, 8))
                       AS UBIGINT) AS BIGINT) + 1 AS bp1
      FROM orders),
    scored AS (
      SELECT o_orderkey, o_orderstatus, weight_cents,
             CAST(floor((({lnk} - 32.0 * CAST({LN2} AS DOUBLE))
                         / (weight_cents / 1e2)) * 1e12) AS BIGINT) AS key_pico
      FROM keyed)
    SELECT o_orderkey, o_orderstatus, weight_cents, key_pico,
           CAST(row_number() OVER (ORDER BY key_pico DESC, o_orderkey) AS BIGINT) AS rk
    FROM scored
    ORDER BY rk LIMIT 20
    """


@query("weighted_sample_orders_aes", oracle=_weighted_sample_oracle())
def weighted_sample_orders_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each row gets key ln(u)/w for u uniform in (0,1], and the k largest
    keys are the sample — rows are chosen with probability proportional
    to their weight (order value here).

    Fully deterministic and engine-invariant: u = (digest-bucket+1)/2³²
    comes from sha-256 of the key (no RNG state, identical on re-run),
    and ln uses the fixed-expression integer log (``functions.detmath``)
    — ln(u) = ln(b+1) − 32·ln 2 — so both engines rank identical
    doubles. One map pass + a top-k (TakeOrdered, per-partition heaps —
    no global sort); the classic distributed weighted-reservoir shape.
    """
    from ..functions.detmath import LN2, ln_det_int

    orders = _t(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("weight_cents"),
        (
            F.conv(
                F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 8),
                16,
                10,
            ).cast("bigint")
            + 1
        ).alias("bp1"),
    )
    scored = keyed.select(
        "o_orderkey",
        "o_orderstatus",
        "weight_cents",
        F.floor(
            (
                (ln_det_int("bp1") - F.lit(32.0) * F.lit(float(LN2)))
                / (F.col("weight_cents") / F.lit(1e2))
            )
            * F.lit(1e12)
        )
        .cast("long")
        .alias("key_pico"),
    )
    w = Window.orderBy(F.desc("key_pico"), F.asc("o_orderkey"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )


_INC_CUTOFF = "1998-01-01"


@query(
    "incremental_agg_merge_orders",
    oracle=f"""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY o_custkey
    """,
)
def incremental_agg_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-customer
    order rollup is computed as base-aggregate (orders before
    {_INC_CUTOFF}) merged with a delta-aggregate (orders on/after), via
    a full-outer join summing the partials — never re-aggregating the
    base. The oracle computes the DIRECT full aggregate, so the hash
    gate certifies the maintenance algebra: merge(agg(base), agg(delta))
    ≡ agg(base ∪ delta).

    This is the nightly-refresh shape for a 100 TB rollup: the delta
    side is day-sized, the base side is the stored MV, and the merge
    shuffles only aggregate rows (one per key), not facts. Counts and
    integer-cent sums are the mergeable-partial form; avg/quantiles
    would store (sum, count) / sketches the same way."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("total_cents"),
        )

    base = rollup(orders.where(F.col("o_orderdate") < _INC_CUTOFF))
    delta = rollup(orders.where(F.col("o_orderdate") >= _INC_CUTOFF))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("b.o_custkey"), F.col("d.o_custkey")).alias("o_custkey"),
            (
                F.coalesce(F.col("b.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            )
            .cast("long")
            .alias("n_orders"),
            (
                F.coalesce(F.col("b.total_cents"), F.lit(0))
                + F.coalesce(F.col("d.total_cents"), F.lit(0))
            )
            .cast("long")
            .alias("total_cents"),
        )
    )


_FREQ_SUPPORT = 0.3


@query(
    "freq_items_verdict_returnflag",
    oracle=f"""
    WITH n AS (SELECT count(*) AS total FROM lineitem),
    hh AS (
      SELECT l_returnflag AS item, count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag)
    SELECT item, CAST(cnt AS BIGINT) AS cnt, TRUE AS in_sketch
    FROM hh CROSS JOIN n
    WHERE cnt > {_FREQ_SUPPORT} * total
    """,
)
def freq_items_verdict_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter sketch certification (self-certifying verdict
    pattern): ``DataFrame.freqItems`` is a Misra-Gries-style one-pass
    summary whose CONTRACT is "every item with frequency > support·n
    appears in the result" (false positives allowed, false negatives
    not). The hashable gate is exactly that contract: exact heavy
    hitters (count > support·n, by plain aggregate) each carry a
    boolean asserting membership in the sketch's item list; the oracle
    recomputes the exact hitters with the booleans as literals. A
    sketch violating its guarantee flips a boolean and fails the gate.

    At 100 TB the exact arm IS this same aggregate (heavy hitters are
    few by definition); the sketch's value is the single no-shuffle
    pass when only the membership answer is needed."""
    li = _t(spark, sf_dir, "lineitem")
    total = li.count()  # bounded scalar: one count action for the threshold
    hh = (
        li.groupBy(F.col("l_returnflag").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .where(F.col("cnt") > F.lit(_FREQ_SUPPORT) * F.lit(float(total)))
    )
    sketch = li.freqItems(["l_returnflag"], support=_FREQ_SUPPORT).select(
        F.col("l_returnflag_freqItems").alias("items")
    )
    return hh.join(F.broadcast(sketch)).select(
        "item",
        "cnt",
        F.array_contains(F.col("items"), F.col("item")).alias("in_sketch"),
    )
