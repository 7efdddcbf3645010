"""Data-layout & ops-planning battery: Z-order clustering keys,
small-file compaction planning, range-partition boundary computation,
and event-time disorder profiling.

These are the table-maintenance operators a 100 TB lakehouse runs
continuously; each is expressed as a plain deterministic plan so the
DuckDB gate can hash-check it.

Scale design notes:
- **Z-order keys** are a map-only integer bit-interleave — the clustering
  write is then just ``sortWithinPartitions(z)``; multi-dimensional
  range predicates prune row groups on EITHER dimension. The bit
  expression is generated once and shared textually with the oracle.
- **Compaction planning** is the greedy 1-D bin pack: running size sum
  over the file list ordered by partition key, bin = cumsum div target.
  One window over a *file-count*-sized frame (metadata scale, not data
  scale) — the same shape Delta/Iceberg OPTIMIZE planners use.
- **Range-partition boundaries** come from exact ranks at fixture scale
  (global sort); production uses a sampled sort the same way Spark's
  RangePartitioner does. Emitting the boundary table makes the
  partitioner reproducible and auditable.
- **Event-time disorder** quantifies out-of-orderness (how far behind
  the running event-time high-watermark each arrival is) — exactly the
  statistic that sizes a streaming watermark delay. One window per
  series ordered by arrival; integer-second lateness keeps both
  engines exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


# --------------------------------------------------------------------------
# Z-order clustering key
# --------------------------------------------------------------------------

_Z_BITS = 16


def _z_spark(x: str, y: str):
    """Interleave the low 16 bits of integer columns x (even positions)
    and y (odd positions) into a 32-bit Z-value — pure shifts/masks."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col(x), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col(y), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _z_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@query(
    "zorder_key_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS x,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 65536 AS BIGINT) AS y
      FROM orders)
    SELECT o_orderkey, x, y, CAST({_z_sql('x', 'y')} AS BIGINT) AS zval
    FROM t
    """,
)
def zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day): the
    data-layout transform behind multi-dimensional pruning — write the
    table sorted by ``zval`` and range predicates on EITHER dimension
    skip row groups via min/max stats.

    Map-only: 32 shift/mask terms, generated from one Python loop into
    both engines' expressions, whole-stage codegen'd — at 100 TB this
    is scan-bound, exactly what a layout pass should be."""
    orders = _t(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).cast("long").alias("x"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 65536)
        .cast("long")
        .alias("y"),
    )
    return t.select("o_orderkey", "x", "y", _z_spark("x", "y").cast("long").alias("zval"))


# --------------------------------------------------------------------------
# Compaction bin packing
# --------------------------------------------------------------------------

#: greedy pack target, in the synthetic "bytes" unit below (row count
#: × 100 proxies file size; the fixture has no real file manifest)
_COMPACT_TARGET = 50_000


@query(
    "compaction_bin_packing",
    oracle=f"""
    WITH files AS (
      SELECT o_orderdate AS day, count(*) * 100 AS size_bytes
      FROM orders GROUP BY o_orderdate),
    packed AS (
      SELECT day, size_bytes,
             CAST(floor((sum(size_bytes) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                   / {_COMPACT_TARGET}) AS BIGINT) AS bin
      FROM files)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(min(day) AS VARCHAR) AS first_day,
           CAST(max(day) AS VARCHAR) AS last_day
    FROM packed GROUP BY bin
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: order the file manifest by
    partition key, assign each file to a bin by running-size prefix sum
    div target — the greedy 1-D pack Delta/Iceberg OPTIMIZE uses, which
    preserves key locality (each output file covers a contiguous key
    range).

    The plan runs at metadata scale: one window over the manifest
    (files, not rows). The manifest here is synthesized from per-day
    order counts since the fixture has no real file listing."""
    orders = _t(spark, sf_dir, "orders")
    files = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        (F.count(F.lit(1)) * 100).alias("size_bytes")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = files.withColumn(
        "bin",
        F.floor((F.sum("size_bytes").over(w) - 1) / _COMPACT_TARGET).cast("long"),
    )
    return packed.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        F.min("day").cast("string").alias("first_day"),
        F.max("day").cast("string").alias("last_day"),
    )


# --------------------------------------------------------------------------
# Range-partition boundaries
# --------------------------------------------------------------------------

_N_PARTS = 32


@query(
    "range_partition_boundaries",
    oracle=f"""
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders),
    ks AS (SELECT unnest(range(1, {_N_PARTS})) AS k)
    SELECT k, CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS boundary_cents
    FROM ks JOIN ranked ON rn = CAST(ceil(k * n * 1.0 / {_N_PARTS}) AS BIGINT)
    """,
)
def range_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner boundary table: the 31 exact rank-based cut
    points that split orders into {_N_PARTS} equal-count price ranges —
    what Spark's RangePartitioner derives by sampling, made exact,
    reproducible, and auditable.

    The boundary at cut k is the value at rank ``ceil(k·n/32)``
    (``percentile_disc(k/32)``), so the plan never ranks rows: fold to
    distinct cents (map-combinable, bounded by the price DOMAIN at any
    data size — the previous per-row global rank window ran
    single-task, 41.9 s at x100), one cumulative window over the
    distinct-value relation, then each row emits exactly the cuts its
    rank interval covers via closed-form integer arithmetic —
    ``k ∈ (P·prev/n, P·cum/n]`` — O(1) per row (a 31-way OR of
    per-cut predicates measured 1.7 interpreted CPU-s on this
    fixture). Selecting cents instead of raw price is safe: the cent
    grid is a non-decreasing transform, so order statistics commute
    with it, and the price/key tie-break never changes the selected
    VALUE."""
    vc = (
        _t(spark, sf_dir, "orders")
        .select(
            F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
            .cast("long")
            .alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wo = Window.orderBy("cents")
    r = (
        vc.withColumn(
            "cum",
            F.sum("c").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "n",
            F.sum("c").over(
                wo.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn("prev", F.col("cum") - F.col("c"))
    )
    # cut k's rank ceil(k·n/P) lands on this row iff prev < k·n/P ≤ cum
    # ⇔ floor(P·prev/n) < k ≤ floor(P·cum/n) (integer k; exact BIGINT)
    kmin = F.greatest(F.expr(f"({_N_PARTS} * prev) div n + 1"), F.lit(1))
    kmax = F.least(F.expr(f"({_N_PARTS} * cum) div n"), F.lit(_N_PARTS - 1))
    return (
        r.withColumn("kmin", kmin)
        .withColumn("kmax", kmax)
        .where(F.col("kmin") <= F.col("kmax"))
        .select(
            F.explode(F.sequence("kmin", "kmax")).alias("k"),
            F.col("cents").alias("boundary_cents"),
        )
    )


# --------------------------------------------------------------------------
# Event-time disorder profile
# --------------------------------------------------------------------------


@query(
    "event_time_disorder_profile",
    oracle="""
    WITH arr AS (
      SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events),
    lagged AS (
      SELECT event_type, tsec,
             max(tsec) OVER (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM arr)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE tsec < hwm) AS BIGINT) AS n_late,
           CAST(coalesce(max(hwm - tsec) FILTER (WHERE tsec < hwm), 0) AS BIGINT)
             AS max_lateness_s,
           CAST(coalesce(sum(hwm - tsec) FILTER (WHERE tsec < hwm), 0) AS BIGINT)
             AS total_lateness_s
    FROM lagged GROUP BY event_type
    """,
)
def event_time_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream: per series, how
    many arrivals land behind the running event-time high-watermark and
    by how much — THE statistic that sizes a streaming watermark delay
    (``withWatermark``'s argument should dominate the observed lateness
    tail).

    Arrival order is the monotonic event_id; one ignore-nothing window
    per series (unbounded-preceding running max, exclusive of the
    current row), then a constant-size per-series aggregate. Lateness
    is whole seconds — exact integers on both engines."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("tsec"),
    )
    return disorder_profile(ev)


def disorder_profile(ev: DataFrame) -> DataFrame:
    """Core of :func:`event_time_disorder_profile` over any
    (event_type, event_id, tsec) frame — ``event_id`` is the arrival
    order, ``tsec`` whole-second event time. Exposed separately so
    tests (and pipelines) can size a watermark from arbitrary streams;
    ``tests/test_streaming.py`` proves a watermark sized by this
    profile loses no data on a disordered replay."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lagged = ev.withColumn("hwm", F.max("tsec").over(w))
    late = F.col("tsec") < F.col("hwm")
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(F.when(late, 1)).cast("long").alias("n_late"),
        F.coalesce(F.max(F.when(late, F.col("hwm") - F.col("tsec"))), F.lit(0))
        .cast("long")
        .alias("max_lateness_s"),
        F.coalesce(F.sum(F.when(late, F.col("hwm") - F.col("tsec"))), F.lit(0))
        .cast("long")
        .alias("total_lateness_s"),
    )
