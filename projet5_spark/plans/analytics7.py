"""Batch 9 operator battery — sketch/ops family: mergeable-HLL
partition union, Pareto skyline, order-independent table checksums,
int8 embedding quantization error, and event path trigrams.

Scale design notes:
- **HLL partition union** is the incremental form of count-distinct:
  per-partition (here per-month) Datasketches HLL sketches built once,
  then unioned — the stored-sketch pattern that lets a 100 TB rollup
  answer "distinct users this quarter" without re-touching facts. Like
  every sketch query, the hashable contract is the verdict (exact
  count + in-tolerance boolean), not the estimate itself.
- **Skyline** uses the sort-scan formulation: reduce to distinct
  (price, size) points, keep a point iff its size beats the running
  minimum over all strictly-cheaper points (classic sweep), then join
  the frontier back to the full rows. The sweep is a window over the
  DISTINCT-point table (bounded by value-space, not row count); the
  oracle certifies equivalence with the textbook NOT-EXISTS dominance
  query, which would be a quadratic nested loop at scale.
- **Table checksum** is the cross-replica comparison tool: per-row
  sha-256 over a canonicalized column encoding, folded with
  order-independent aggregates (count + sum + xor of a 32-bit digest
  slice). Any row difference flips the checksum; map-only + a 1-row
  aggregate, no sort, no shuffle of row content.
- **Int8 quantization error** audits the standard embedding
  compression (per-vector absmax scale → int8): reconstruction MSE per
  vector. Element terms are floored onto a 10⁻¹² integer grid and
  summed with an integer accumulator, so per-vector totals are
  order-independent and engine-exact; everything is per-row expression
  work — zero shuffle beyond the scan.
- **Path trigrams** generalize the Markov transition matrix to 3-step
  paths: one user-keyed window pass builds (e₁→e₂→e₃) triples, the
  aggregate is event-type³-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Mergeable HLL: per-partition sketches → union → verdict
# --------------------------------------------------------------------------


@query(
    "hll_partition_union_verdict",
    oracle="""
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             count(DISTINCT o_custkey) AS exact_d
      FROM orders GROUP BY month),
    g AS (SELECT count(DISTINCT o_custkey) AS exact_d FROM orders)
    SELECT month, CAST(exact_d AS BIGINT) AS exact_custkeys,
           TRUE AS within_5pct
    FROM m
    UNION ALL
    SELECT 'ALL', CAST(exact_d AS BIGINT), TRUE FROM g
    """,
)
def hll_partition_union_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-distinct (self-certifying verdict): one
    Datasketches HLL sketch of o_custkey per order month, the global
    answer from ``hll_union_agg`` over the stored sketches — never from
    re-scanning facts — and per-month + global booleans asserting each
    estimate lands within 5% of the exact count.

    This is the incremental-MV path for COUNT(DISTINCT): at 100 TB the
    monthly sketches are the stored state (a few KB each), the union is
    metadata-scale, and the exact arm here is the fixture-only gate.
    The oracle emits the exact counts with the booleans as literals, so
    an out-of-tolerance sketch fails the hash gate."""
    orders = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"), "o_custkey"
    )
    monthly = (
        orders.groupBy("month")
        .agg(
            F.hll_sketch_agg("o_custkey").alias("sk"),
            F.countDistinct("o_custkey").alias("exact_d"),
        )
        # months-scale sketch table, two consumers (per-month verdicts +
        # the union arm): materialize once — this IS the "stored
        # sketches" state the docstring promises, so the union never
        # re-scans facts
        .localCheckpoint(eager=True)
    )
    ok = lambda est, exact: (  # noqa: E731
        F.abs(est.cast("double") - exact) <= F.lit(0.05) * exact
    )
    per_month = monthly.select(
        "month",
        F.col("exact_d").cast("long").alias("exact_custkeys"),
        ok(F.hll_sketch_estimate("sk"), F.col("exact_d")).alias("within_5pct"),
    )
    global_row = (
        monthly.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        )
        .join(orders.agg(F.countDistinct("o_custkey").alias("exact_d")))
        .select(
            F.lit("ALL").alias("month"),
            F.col("exact_d").cast("long").alias("exact_custkeys"),
            ok(F.col("est"), F.col("exact_d")).alias("within_5pct"),
        )
    )
    return per_month.unionByName(global_row)


# --------------------------------------------------------------------------
# Pareto skyline
# --------------------------------------------------------------------------


@query(
    "skyline_pareto_parts",
    oracle="""
    SELECT p_partkey, CAST(floor(p_retailprice * 1e2 + 0.5) AS BIGINT) AS price_cents,
           CAST(p_size AS BIGINT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE floor(q.p_retailprice * 1e2 + 0.5) <= floor(p.p_retailprice * 1e2 + 0.5)
        AND q.p_size <= p.p_size
        AND (floor(q.p_retailprice * 1e2 + 0.5) < floor(p.p_retailprice * 1e2 + 0.5)
             OR q.p_size < p.p_size))
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts minimizing (price, size): the rows no
    other part dominates (≤ on both axes, < on at least one) — the
    skyline-query operator from the literature, the shape behind
    "best tradeoff" product pickers.

    The textbook NOT-EXISTS form (the oracle) is a quadratic nested
    loop; the shipped plan is the sort-scan rewrite: distinct
    (price, size) points → per-price min size → one ordered window
    sweep keeping points that beat the running minimum of all
    strictly-cheaper points → join the frontier keys back to rows. The
    sweep's window runs over the distinct-point table (value-space
    bounded); at 100 TB each partition computes a local skyline first
    (the sweep is trivially distributive) and the global sweep merges
    those."""
    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    # per-price minimal size: within one price, any larger size is
    # dominated (strict on size)
    pts = parts.groupBy("price_cents").agg(F.min("p_size").alias("min_size"))
    w = (
        Window.orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        pts.withColumn("prior_min", F.min("min_size").over(w))
        .where(F.col("prior_min").isNull() | (F.col("min_size") < F.col("prior_min")))
        .select("price_cents", F.col("min_size").alias("p_size"))
    )
    return parts.join(F.broadcast(frontier), ["price_cents", "p_size"]).select(
        "p_partkey", "price_cents", "p_size"
    )


# --------------------------------------------------------------------------
# Order-independent table checksum
# --------------------------------------------------------------------------

#: canonical row encoding shared textually with the oracle: every column
#: rendered engine-neutrally (cents integers, ISO dates), '|'-joined
_CHECKSUM_COLS_SPARK = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
    "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT), "
    "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)"
)
_CHECKSUM_COLS_DUCK = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
    "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT), "
    "strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)"
)


@query(
    "table_content_checksum",
    oracle=f"""
    WITH h AS (
      SELECT CAST(('0x' || substring(sha256({_CHECKSUM_COLS_DUCK}), 1, 8))
                  AS UBIGINT) AS h32
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h32) AS BIGINT) AS sum_h32,
           CAST(bit_xor(CAST(h32 AS BIGINT)) AS BIGINT) AS xor_h32
    FROM h
    """,
)
def table_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the orders table: per-row
    sha-256 over a canonical '|'-joined column encoding, folded with
    commutative aggregates (count, sum, xor of the leading 32 digest
    bits) — the cross-replica/anti-entropy comparison tool: two copies
    of a table match iff their checksums match, regardless of row
    order, partitioning, or engine.

    Map-only + a 1-row aggregate; the canonical encoding renders every
    column engine-neutrally (cents integers, ISO dates) and is shared
    textually with the oracle. Changing, adding, or dropping any row
    flips sum and/or xor."""
    orders = _t(spark, sf_dir, "orders")
    h32 = (
        F.conv(F.substring(F.sha2(F.expr(_CHECKSUM_COLS_SPARK), 256), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h32")
    )
    return orders.select(h32).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("h32").cast("long").alias("sum_h32"),
        F.bit_xor("h32").cast("long").alias("xor_h32"),
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization error
# --------------------------------------------------------------------------


@query(
    "embedding_int8_quant_error",
    oracle="""
    WITH prep AS (
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS dim,
             list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS scale,
             embedding
      FROM embeddings),
    err AS (
      SELECT vec_id, dim,
             CAST(floor(scale * 1e6) AS BIGINT) AS scale_micro,
             list_sum([CAST(floor(
               (CAST(x AS DOUBLE)
                - floor(127.0 * CAST(x AS DOUBLE) / scale + 0.5) * scale / 127.0)
               * (CAST(x AS DOUBLE)
                  - floor(127.0 * CAST(x AS DOUBLE) / scale + 0.5) * scale / 127.0)
               * 1e12) AS BIGINT) FOR x IN embedding]) AS sse_pico
      FROM prep WHERE scale > 0)
    SELECT vec_id, dim, scale_micro,
           CAST(floor(CAST(sse_pico AS DOUBLE) / dim / 1e3) AS BIGINT) AS mse_femto
    FROM err
    """,
)
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction error of absmax int8 embedding quantization —
    the audit run before shipping a compressed ANN index: per vector,
    scale = max|x|, q = round(127·x/scale), MSE of x − q·scale/127.

    Pure per-row expression work (zero shuffle beyond the scan): each
    element's squared error is floored onto a 10⁻¹² integer grid and
    summed with an integer accumulator, so the per-vector total is
    order-independent and bit-equal across engines — the same defense
    gridsum gives aggregates, applied inside an array fold. Zero
    vectors (scale = 0) are excluded on both sides."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    x = lambda e: e.cast("double")  # noqa: E731
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda e: F.abs(x(e)))
    )
    prep = emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        scale.alias("scale"),
        "embedding",
    ).where(F.col("scale") > 0)

    def sq_err_pico(e):  # noqa: ANN001 — element Column
        recon = (
            F.floor(F.lit(127.0) * x(e) / F.col("scale") + F.lit(0.5))
            * F.col("scale")
            / F.lit(127.0)
        )
        d = x(e) - recon
        return F.floor(d * d * F.lit(1e12)).cast("long")

    sse = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("long"),
        lambda acc, e: acc + sq_err_pico(e),
    )
    return prep.select(
        "vec_id",
        "dim",
        F.floor(F.col("scale") * F.lit(1e6)).cast("long").alias("scale_micro"),
        sse.alias("_sse"),
    ).select(
        "vec_id",
        "dim",
        "scale_micro",
        F.floor(F.col("_sse").cast("double") / F.col("dim") / F.lit(1e3))
        .cast("long")
        .alias("mse_femto"),
    )


# --------------------------------------------------------------------------
# Event path trigrams
# --------------------------------------------------------------------------


@query(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tri AS (
      SELECT event_type AS e1, e2, e3, count(*) AS n
      FROM seq WHERE e3 IS NOT NULL GROUP BY e1, e2, e3)
    SELECT e1, e2, e3, CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS BIGINT) AS rk
    FROM tri QUALIFY rk <= 15 ORDER BY rk
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step behavioral paths (e₁→e₂→e₃ over each user's
    time-ordered event stream) — the Markov transition matrix
    (`event_transition_matrix`) generalized to path n-grams, the input
    to funnel discovery and next-action models.

    One user-keyed window pass builds the triples ((ts, event_id) total
    order — ties can't reorder across engines); the aggregate is
    bounded by event-type³, and the top-15 carries a total tie-break.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    tri = seq.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3"))
    return (
        tri.select("e1", "e2", "e3", F.col("n").cast("long").alias("n"))
        .withColumn("rk", F.row_number().over(wr).cast("long"))
        .where(F.col("rk") <= 15)
        .orderBy("rk")
    )
