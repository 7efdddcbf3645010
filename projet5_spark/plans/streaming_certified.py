"""Driver-certifiable streaming queries (SURVEY.md §2.8).

Every other §2.8 claim is certified by pytest batch-equivalence plus
oracle-paired BATCH twins — the streaming runtime itself never faced
the external DuckDB differential gate, because the gate's contract is
"callable(spark, sf_dir) -> DataFrame" and a micro-batch replay looked
out of scope. It isn't: ``availableNow`` triggers make a bounded
file-replay stream a TERMINATING computation, so the callable can
start the query, drain the source, and hand the gate the collected
sink table. These entries run the REAL Structured Streaming operators
(StateStore-backed streaming aggregation, watermarks, micro-batch
planner — the same physical operators a 100 TB deployment runs with a
Kafka source) and the driver hashes their sink against the same SQL
oracles the batch twins use. Reference scope: the reference engine is
batch-only (migration.py runs once, end-to-end); streaming is part of
the §2.5–2.8 planned engine surface.

Scale notes: the memory sink is the test/certification harness form —
deployments write parquet/Kafka sinks with exactly-once file commits.
State size for the tumbling aggregate is bounded by (windows in
watermark horizon × event types); the replay sets a 1-hour watermark,
so late data beyond an hour is dropped identically in both engines
(the fixture has none — batch equality is exact).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf
from .events import _TS_FMT_DUCK
from .registry import query

_SEQ = itertools.count()


def _drain(
    stream_df: DataFrame,
    prefix: str,
    output_mode: str,
    src_path: str | None = None,
) -> DataFrame:
    """availableNow replay to a uniquely-named memory sink, returned as
    a batch DataFrame. Unique names keep the bench protocol's repeated
    invocations (warm-up + 3 timed runs) from racing each other's
    in-session memory tables.

    ``src_path`` (r13): the replayed source's parquet path — when
    given, the state-store partition count is derived from the
    source's PROJECTED state size instead of inheriting the
    cores-matched session default (windows.projected_state_partitions:
    a few-MB replay stops paying 32 per-partition commit floors, a
    real deployment still fans out)."""
    from ..streaming.windows import projected_state_partitions, run_to_completion

    sp = projected_state_partitions(src_path) if src_path else None
    return run_to_completion(
        stream_df,
        f"{prefix}_{next(_SEQ)}",
        output_mode=output_mode,
        state_partitions=sp,
    )


@query(
    "streaming_tumbling_availablenow",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event stats computed BY THE STREAMING ENGINE
    (file-replay source → watermarked streaming aggregation →
    availableNow drain → memory sink) and certified against the same
    DuckDB oracle as the batch twin ``tumbling_window_event_stats`` —
    the cents-grid sum keeps stream/batch/oracle equality independent
    of summation order."""
    from ..streaming.windows import stream_events, streaming_tumbling_stats

    stream = stream_events(spark, sf_dir)
    return _drain(
        streaming_tumbling_stats(stream),
        "st_tumbling",
        output_mode="complete",
        src_path=f"{sf_dir}/events.parquet",
    )


@query(
    "streaming_sliding_availablenow",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events
    FROM (SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                         time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
          FROM events) t
    GROUP BY ws
    """,
)
def streaming_sliding_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (10 min window, 5 min slide) computed by
    the STREAMING engine — overlapping-bucket state the tumbling entry
    never exercises (each event updates two open windows) — drained
    with availableNow and certified against the batch twin
    ``sliding_window_event_counts``'s unnest-both-buckets oracle."""
    from ..streaming.windows import stream_events, streaming_sliding_counts

    stream = stream_events(spark, sf_dir)
    return _drain(
        streaming_sliding_counts(stream),
        "st_sliding",
        output_mode="complete",
        src_path=f"{sf_dir}/events.parquet",
    )


@query(
    "streaming_dedup_availablenow",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def streaming_dedup_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup under simulated at-least-once
    redelivery: the events file replayed through TWO independent
    streaming sources unioned (every event arrives exactly twice),
    watermarked ``dropDuplicates(["event_id", "ts"])`` collapsing the
    re-deliveries in the state store, availableNow drain, then a batch
    rollup of the drained sink per event_type. The oracle aggregates
    the SINGLE-copy batch table — equality holds only if the state
    store dropped every duplicate (without the dedup the counts and
    sums would read exactly 2×), so this certifies the §2.8
    exactly-once-ification operator end-to-end, not just its plan.

    Scale: dedup state is (event_id, ts) keys within the 1-hour
    watermark horizon — bounded by rate × horizon, evicted by
    watermark advance (streaming/windows.py:streaming_dedup on why the
    event-time column must be in the key)."""
    from ..streaming.windows import stream_events, streaming_dedup

    s1 = stream_events(spark, sf_dir)
    s2 = stream_events(spark, sf_dir)
    deduped = streaming_dedup(s1.unionByName(s2))
    sink = _drain(
        deduped,
        "st_dedup",
        output_mode="append",
        src_path=f"{sf_dir}/events.parquet",
    )
    from .registry import gridsum

    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        gridsum("value", 2).alias("sum_value"),
    )


@query(
    "streaming_join_availablenow",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
    FROM (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL '30 minutes'
     AND v.ts <= p.ts
    """,
)
def streaming_join_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join computed by the STREAMING engine: purchases ⋈
    views within the 30 minutes before each purchase, both sides
    watermarked filtered views of the replayed events stream
    (streaming/joins.py — the time bound + watermarks are what make
    the two-sided join state finite), drained with availableNow. The
    oracle is the equivalent batch interval join; row-set equality
    certifies the micro-batch join buffered and matched across both
    sides correctly, closing the last §2.8 operator without a driver
    CORRECTNESS row."""
    from ..streaming.joins import purchase_view_join
    from ..streaming.windows import stream_events

    stream = stream_events(spark, sf_dir)
    return _drain(
        purchase_view_join(stream),
        "st_join",
        output_mode="append",
        src_path=f"{sf_dir}/events.parquet",
    )


@query(
    "streaming_session_availablenow",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '{_TS_FMT_DUCK}') AS session_end,
           count(*) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def streaming_session_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows computed by the streaming engine's
    session-window state store (merge-on-update session assignment —
    state the batch planner never exercises), drained with availableNow
    and certified against the batch twin's gaps-and-islands oracle."""
    from ..streaming.windows import stream_events, streaming_session_windows

    stream = stream_events(spark, sf_dir)
    return _drain(
        streaming_session_windows(stream),
        "st_session",
        output_mode="complete",
        src_path=f"{sf_dir}/events.parquet",
    )


# --------------------------------------------------------------------------
# transformWithState (Spark 4 stateful API) — driver-certified
# --------------------------------------------------------------------------


def _bridge_protobuf(spark: SparkSession) -> None:
    """Make ``google.protobuf`` importable for the transformWithState
    state-server protocol in THIS process and in the Python workers,
    at query-call time (the external driver never runs conftest).

    No-op when a real protobuf install exists. Otherwise the vendored
    bridge at ``tests/_proto_shim`` is put on this process's
    ``sys.path`` (plus its gencode/runtime version-gate relaxation),
    and on the WORKER side via ``sc.environment['PYTHONPATH']`` — the
    per-UDF env pyspark ships with each serialized function, which
    keys a fresh worker daemon whose interpreter auto-imports the
    shim's ``sitecustomize`` at startup. Raises with a clear message
    where neither a real protobuf nor the vendor tree exists, so the
    gate records an explicit environment gap instead of a protocol
    stack trace."""
    import importlib.util
    import os
    import sys

    try:
        import google.protobuf.descriptor  # noqa: F401

        return  # real install: driver and (same-box) workers are fine
    except Exception:
        pass
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    shim = os.path.join(repo, "tests", "_proto_shim")
    if shim not in sys.path:
        sys.path.insert(0, shim)
    try:
        import google.protobuf.descriptor  # noqa: F401
    except Exception:
        if shim in sys.path:
            sys.path.remove(shim)
        raise RuntimeError(
            "transformWithState needs google.protobuf: no site-packages "
            "install and the tests/_proto_shim vendor bridge found no "
            "protobuf tree on this box"
        )
    spec = importlib.util.spec_from_file_location(
        "_proto_shim_sitecustomize", os.path.join(shim, "sitecustomize.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    env = spark.sparkContext.environment
    prev = env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    if shim not in prev.split(os.pathsep):
        env["PYTHONPATH"] = shim + (os.pathsep + prev if prev else "")


def _rocksdb_state(spark: SparkSession):
    """Scope for a transformWithState drain: bridges protobuf and sets
    the RocksDB state-store provider the API requires, restoring the
    provider conf on exit (see :func:`scoped_conf`)."""
    _bridge_protobuf(spark)
    return scoped_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


@query(
    "streaming_apply_in_pandas_with_state_availablenow",
    oracle="""
    WITH gaps AS (
      SELECT user_id, value,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value,
           coalesce(max(gap_us), 0) / 1e6 AS max_gap_seconds
    FROM gaps GROUP BY user_id
    """,
)
def streaming_apply_in_pandas_with_state_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LEGACY arbitrary-stateful API (``applyInPandasWithState``,
    GroupState) driver-certified end-to-end — its transformWithState
    successor got a CORRECTNESS row in round 10, while this operator
    was batch-equivalence-tested only (pytest). Replays the events
    stream through the per-user running profile (count + cents sum +
    max gap between consecutive events — the gap is the part no
    built-in streaming aggregate expresses incrementally) with
    availableNow, keeps each user's final update row, and certifies
    against the batch oracle.

    Exactness: the processor accumulates integer cents / integer
    microseconds (gridsum rationale), and tied timestamps gap to the
    same multiset under any stable sort, so stream/batch/oracle
    equality is independent of micro-batch boundaries and arrival
    order. ``n_events`` is strictly increasing per user (a row is only
    emitted for keys present in the batch), so the final-row pick is
    total. Unlike transformWithState this API runs on the default
    HDFS-backed state store and needs no protobuf bridge — no conf
    swap around the drain.

    Scale: four scalars of GroupState per user; a production
    deployment adds a processing-time timeout to evict idle users
    (kept NoTimeout here so the full-replay oracle is exact)."""
    from pyspark.sql import Window

    from ..streaming.stateful import streaming_user_profiles
    from ..streaming.windows import stream_events

    stream = stream_events(spark, sf_dir)
    updates = _drain(
        streaming_user_profiles(stream),
        "st_aipws",
        output_mode="update",
        src_path=f"{sf_dir}/events.parquet",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "streaming_transform_with_state_availablenow",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value,
           max(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def streaming_transform_with_state_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type running stats through the REAL
    ``transformWithStateInPandas`` operator (Spark 4's named-typed-state
    API: ValueState in a RocksDB state store, processor lifecycle,
    state-server protocol to the Python worker), replayed with
    availableNow and certified against the DuckDB batch oracle — the
    last §2.8 state shape without a driver CORRECTNESS row (it was
    pytest-only via the proto shim through round 9).

    The update-mode memory sink keeps one row per key per micro-batch;
    the final profile per key is the row with the highest running
    ``n_events`` (strictly increasing per key, so the pick is total).
    The processor accumulates integer cents, so stream/batch equality
    is independent of micro-batch boundaries and summation order.

    Scale: state is one (n, sum, max) triple per event type — tiny and
    bounded; the operator's cost is the per-batch shuffle to key
    groups, identical to the hash aggregate a batch rollup runs.
    RocksDB provider conf is set for the drain and restored (the API
    requires it; conf is runtime-settable)."""
    from pyspark.sql import Window

    from ..streaming.stateful import streaming_event_type_stats
    from ..streaming.windows import stream_events

    with _rocksdb_state(spark):
        stream = stream_events(spark, sf_dir)
        updates = _drain(
            streaming_event_type_stats(stream),
            "st_tws",
            output_mode="update",
            src_path=f"{sf_dir}/events.parquet",
        )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "streaming_list_state_availablenow",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value,
           max(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_list_state_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ListState`` through the real transformWithState operator: a
    per-user ledger of raw event values appended batch-by-batch
    (``appendList``), aggregates recomputed from the stored list on
    every update — the keep-the-items state shape (replay buffers,
    evidence lists) that ValueState cannot express. Final row per user
    (highest running count) certified against the batch oracle; the
    recomputed-from-list aggregates are arrival-order-invariant, so
    stream/batch equality is exact.

    Scale: list length is per-user event count — bounded by the
    watermark horizon in a production deployment (unbounded here to
    keep the oracle exact over the full replay)."""
    from pyspark.sql import Window

    from ..streaming.stateful import streaming_user_values_list
    from ..streaming.windows import stream_events

    with _rocksdb_state(spark):
        stream = stream_events(spark, sf_dir)
        # NO state-partition rule here (r13): this processor's per-key
        # Python state payload makes the replay COMPUTE-bound in the
        # worker, and shrinking partitions to the commit-optimal count
        # starved it (measured list-state 6.8 s at 32 state
        # partitions vs 33-60 s at 4 across two close runs) — the
        # cores-matched session default stands
        updates = _drain(
            streaming_user_values_list(stream),
            "st_list",
            output_mode="update",
        )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "streaming_map_state_availablenow",
    oracle="""
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM events
    GROUP BY user_id, event_type
    """,
)
def streaming_map_state_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MapState`` through the real transformWithState operator:
    per-user per-event-type (count, sum) folded with point
    ``getValue``/``updateValue`` lookups — the keyed-sub-aggregate
    state shape whose sub-key space is unbounded and only touched
    entries cost anything. Every update emits the key's full map, so
    the final (user, type) rows are the totals; certified per pair
    against the batch group-by oracle."""
    from pyspark.sql import Window

    from ..streaming.stateful import streaming_user_type_map
    from ..streaming.windows import stream_events

    with _rocksdb_state(spark):
        stream = stream_events(spark, sf_dir)
        # NO state-partition rule here (r13): this processor's per-key
        # Python state payload makes the replay COMPUTE-bound in the
        # worker, and shrinking partitions to the commit-optimal count
        # starved it (measured map-state 6.8 s at 32 state
        # partitions vs 33-60 s at 4 across two close runs) — the
        # cores-matched session default stands
        updates = _drain(
            streaming_user_type_map(stream),
            "st_map",
            output_mode="update",
        )
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "statestore_reader_dedup_audit",
    oracle="SELECT DISTINCT event_id FROM events",
)
def statestore_reader_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store INTROSPECTION certified end-to-end: run an
    (unwatermarked) streaming ``dropDuplicates`` over the replayed
    events into a throwaway checkpoint, then read the checkpoint back
    through Spark's ``statestore`` batch source — the §2.8
    observability surface an operator uses to audit what a stateful
    query is actually holding. The read-back dedup keys must equal
    ``SELECT DISTINCT event_id``; hash equality certifies both the
    dedup state contents and the reader's decoding of the store's key
    format. Unwatermarked on purpose: eviction would make state a
    horizon-dependent subset (the watermarked form is certified by
    ``streaming_dedup_availablenow``); production audits read specific
    partitions/batches the same way."""
    from ..operators.materialize import scratch_dir
    from ..streaming.windows import projected_state_partitions, stream_events

    stream = stream_events(spark, sf_dir).select("event_id", "ts")
    # scratch_dir: reclaimed by the inter-query sweep / atexit — it
    # must outlive this function because the returned reader is lazy
    ck = scratch_dir(spark, "ssread")
    # state-store partitions by projected state size (r13 rule, same
    # as _drain); the state reader below decodes whatever partition
    # count the checkpoint holds
    sp = projected_state_partitions(f"{sf_dir}/events.parquet")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", sp):
        q = (
            stream.dropDuplicates(["event_id"])
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
    if not finished:
        # a timed-out drain leaves an IN-PROGRESS checkpoint: reading
        # it would certify a partial dedup state — fail loudly instead
        q.stop()
        raise RuntimeError(
            "statestore_reader_dedup_audit: availableNow drain did not "
            "terminate within 300s; refusing to audit a partial checkpoint"
        )
    return (
        spark.read.format("statestore")
        .load(ck)
        .select(F.col("key.event_id").alias("event_id"))
    )


@query(
    "streaming_timer_session_close_availablenow",
    oracle="""
    WITH peru AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             epoch_us(max(ts)) // 1000 AS last_ms
      FROM events GROUP BY user_id),
    wm AS (SELECT max(last_ms) AS wm_ms FROM peru)
    SELECT user_id, n_events
    FROM peru, wm
    WHERE last_ms + 1800000 <= wm_ms
    """,
)
def streaming_timer_session_close_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time TIMERS through the real transformWithState operator,
    driver-certified: each user's processor keeps one live timer at
    ``last_event + 30 min`` (delete-then-register on every batch), and
    when the final watermark passes an expiry the engine calls
    ``handleExpiredTimer``, emitting that user's closed-session row.
    The certified set is exactly the users whose session-close expiry
    is ≤ the end-of-replay watermark — the user holding the global max
    event time (and anyone within 30 min of it) stays OPEN, which is
    the semantics a production sessionizer relies on.

    Determinism notes: the fixture replays as ONE data micro-batch
    (single events file through stream_events), so every user's full
    count is in state before any timer can fire; the fire condition
    was pinned empirically at the boundary — ``expiry == watermark``
    FIRES (≤, not <; tests/test_streaming.py) — and the oracle uses
    the same ms-floored arithmetic (`epoch_us // 1000`) Spark's
    event-time stats use. Timer state is one (timer, scalar) pair per
    user on the RocksDB store — bounded by live keys at any scale."""
    from ..streaming.stateful import streaming_session_close_timers
    from ..streaming.windows import stream_events

    with _rocksdb_state(spark):
        stream = stream_events(spark, sf_dir).withWatermark("ts", "0 seconds")
        updates = _drain(
            streaming_session_close_timers(stream),
            "st_timer",
            output_mode="update",
            src_path=f"{sf_dir}/events.parquet",
        )
    return updates.where(F.col("kind") == "closed").select(
        "user_id", "n_events"
    )


#: Byte-identical to ``snapshot_scd2_history``'s oracle on purpose:
#: the streaming sink's whole contract is that a CDC stream merged
#: batch-by-batch through ``foreachBatch`` converges to EXACTLY the
#: table the one-shot batch merge builds — same oracle, same hash.
_SCD2_HISTORY_ORACLE = """
    WITH ranked AS (
      SELECT o_custkey,
             o_orderstatus AS status,
             CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS price_cents,
             o_orderdate AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders),
    v1 AS (SELECT o_custkey, status, price_cents, d FROM ranked WHERE rn = 1),
    v2 AS (SELECT o_custkey, status, price_cents, d FROM ranked WHERE rn = 2),
    chg AS (
      SELECT v1.o_custkey,
             v1.status AS s1, v1.price_cents AS p1, v1.d AS d1,
             v2.status AS s2, v2.price_cents AS p2, v2.d AS d2
      FROM v1 JOIN v2 ON v1.o_custkey = v2.o_custkey
      WHERE (v1.status <> v2.status OR v1.price_cents <> v2.price_cents)
        AND v2.d > v1.d)
    SELECT o_custkey, s1 AS status, p1 AS price_cents,
           CAST(CAST(d1 AS DATE) AS VARCHAR) AS valid_from,
           CAST(CAST(d2 AS DATE) AS VARCHAR) AS valid_to,
           FALSE AS is_current
    FROM chg
    UNION ALL
    SELECT o_custkey, s2 AS status, p2 AS price_cents,
           CAST(CAST(d2 AS DATE) AS VARCHAR) AS valid_from,
           '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM chg
    UNION ALL
    SELECT v1.o_custkey, v1.status, v1.price_cents,
           CAST(CAST(v1.d AS DATE) AS VARCHAR) AS valid_from,
           '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM v1
    WHERE v1.o_custkey NOT IN (SELECT o_custkey FROM chg)
"""


@query("streaming_cdc_scd2_availablenow", oracle=_SCD2_HISTORY_ORACLE)
def streaming_cdc_scd2_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC→SCD-2 SINK driver-certified end-to-end — the
    last §2.8 streaming surface without a CORRECTNESS row (its merge
    writer is certified batch-side by ``snapshot_scd2_history``, its
    replay safety by pytest; the foreachBatch sink itself never faced
    the external gate). The same deterministic two-batch CDC feed as
    the batch twin — each customer's first order is the version-0 row,
    the second order the change — is written as two single-file parquet
    batches with strictly increasing mtimes, replayed as a REAL change
    stream (file source, ``maxFilesPerTrigger=1`` → one merge per
    micro-batch), and merged into a parquet dimension through
    ``streaming.sinks.stream_to_scd2_dim``. The returned history table
    must hash-equal the one-shot batch merge's oracle: closed-out v0
    rows, current v1 rows, untouched single-order customers.

    The file mtimes are set explicitly (b0 older than b1) because the
    file source orders its listing by modification time: base-before-
    cdc is the ordered-delivery contract every CDC log (Kafka,
    binlog) provides per key; the writer's not-strictly-newer guard
    would reject a reversed delivery rather than corrupt history.

    Scale: each micro-batch is one set-based merge (join + union +
    crash-safe swap) — on a 100 TB deployment the dimension is a
    Delta/Iceberg MERGE target and the swap becomes the table
    format's transactional commit; per-batch cost scales with
    |batch| + |current dimension|, never with history size. The
    single-file staging here is certification plumbing (deterministic
    micro-batch boundaries), not the production layout."""
    import glob as _glob
    import os
    import shutil
    import time

    from pyspark.sql import Window

    from ..operators.materialize import scratch_dir
    from ..sources.readers import fixture_table
    from ..streaming.sinks import stream_to_scd2_dim

    orders = fixture_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    shaped = (
        orders.select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
            .cast("long")
            .alias("price_cents"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
            "o_orderkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .drop("o_orderkey")
    )
    base = shaped.where(F.col("rn") == 1).drop("rn")
    cdc = shaped.where(F.col("rn") == 2).drop("rn")

    # scratch_dir: reclaimed by the inter-query sweep / atexit — it
    # must outlive this function because the returned reader is lazy
    root = scratch_dir(spark, "cdc-scd2")
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    now = time.time()
    for i, batch in enumerate((base, cdc)):
        staging = os.path.join(root, f"stage{i}")
        # repartition(1), not coalesce(1): an exchange barrier keeps
        # the rank window parallel; only the file write is single-task
        batch.repartition(1).write.mode("overwrite").parquet(staging)
        (part,) = _glob.glob(os.path.join(staging, "part-*.parquet"))
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (now - 200.0 + 100.0 * i,) * 2)
        shutil.rmtree(staging, ignore_errors=True)

    dim = os.path.join(root, "dim")
    q = stream_to_scd2_dim(
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        dim,
        ["o_custkey"],
        "ts",
        os.path.join(root, "ck"),
    )
    if not q.awaitTermination(300):
        # a timed-out drain leaves a partially-merged dimension:
        # certifying it would hash a half-built history — fail loudly
        q.stop()
        raise RuntimeError(
            "streaming_cdc_scd2_availablenow: availableNow drain did "
            "not terminate within 300s; refusing to read a partial "
            "dimension"
        )
    hist = spark.read.parquet(dim)
    return hist.select(
        "o_custkey",
        "status",
        "price_cents",
        F.col("__valid_from").cast("date").cast("string").alias("valid_from"),
        F.col("__valid_to").cast("date").cast("string").alias("valid_to"),
        F.col("__current").alias("is_current"),
    )


@query(
    "streaming_ingest_idempotent_availablenow",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS value_cents,
           epoch_us(ts) AS ts_us
    FROM events
    """,
)
def streaming_ingest_idempotent_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exactly-once-style parquet INGESTION sink driver-certified —
    the last streaming sink without a CORRECTNESS row (its anti-join
    writer is R14-certified batch-side; the foreachBatch + checkpoint
    composition never faced the gate). The events stream is drained
    into a parquet table through ``stream_to_parquet_idempotent``
    TWICE — the second drain uses a FRESH checkpoint, so every file is
    redelivered from offset zero, the worst at-least-once failure mode
    (a lost checkpoint after a complete run). Key-level idempotence
    (anti-join on event_id) must make the replay a no-op: the final
    table hash-equals the single-copy events oracle, row for row.

    Scale: each micro-batch pays one anti-join against the target's
    key column (parquet column-pruned scan) — the plain-parquet
    equivalent of a transactional sink's exactly-once commit; on
    Delta/Iceberg the txn log replaces the anti-join. The cents grid
    on ``value`` keeps the comparison integer-exact; timestamps ride
    as integer microseconds."""
    import os

    from ..operators.materialize import scratch_dir
    from ..streaming.sinks import stream_to_parquet_idempotent
    from ..streaming.windows import stream_events

    # scratch_dir: reclaimed by the inter-query sweep / atexit — it
    # must outlive this function because the returned reader is lazy
    root = scratch_dir(spark, "ingest-idem")
    tbl = os.path.join(root, "tbl")
    for attempt in ("ck1", "ck2"):  # ck2 = full redelivery replay
        q = stream_to_parquet_idempotent(
            stream_events(spark, sf_dir),
            tbl,
            ["event_id"],
            os.path.join(root, attempt),
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_ingest_idempotent_availablenow: drain "
                f"({attempt}) did not terminate within 300s; refusing "
                "to certify a partial table"
            )
    return spark.read.parquet(tbl).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
