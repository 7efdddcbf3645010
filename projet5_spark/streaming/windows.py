"""Structured Streaming surface (SURVEY.md §2.8).

The reference is pure batch; this module is the engine's streaming
extension over the ``events`` fixture replayed as a file stream. Each
transformation is the SAME expression as its batch twin in
``plans.events`` — that equivalence is the correctness strategy for
statefulness (SURVEY.md §7.4.6): run both, compare (tests).

Scale/ops posture:
- every stateful op carries a **watermark** so state is bounded and late
  data has defined semantics (drop after the horizon);
- windowed aggregates shuffle on (window, key) exactly like their batch
  forms — AQE doesn't apply, so ``spark.sql.shuffle.partitions`` is the
  state-store partition count: size it once for the cluster, it cannot
  change across restarts of a stateful query;
- file-replay source here; swap for Kafka by changing only
  ``stream_events``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import scoped_conf
from ..sources import footer

#: legacy on-disk schema: ts as int64 nanoseconds (older fixture
#: generators; see sources.readers.read_events). Newer fixtures store a
#: real timestamp[us] column — ``open_events_stream`` probes which.
EVENTS_FILE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _probe_events_schema(spark: SparkSession, probe_path: str):
    """(ts_is_ns_long, spark_schema) for an events-shaped parquet path.

    Fast path (r12): the parquet FOOTER schema
    (``sources.footer.arrow_schema``) converted via
    ``from_arrow_schema(prefer_timestamp_ntz=True)`` — validated
    field-for-field identical to the Spark batch probe on every
    fixture generation, ~1 ms instead of a ~0.2 s batch-read probe per
    replay. Paths the footer listing rule does not serve, INT96
    timestamps (pyarrow surfaces them as timestamp[ns], which only the
    Spark probe can tell from the ns-annotated encoding) and any
    conversion surprise fall back to the Spark probe under the
    nanosAsLong conf."""
    arrow = footer.arrow_schema(probe_path)
    if arrow is not None:
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import from_arrow_schema

            ts_type = arrow.field("ts").type
            # legacy generators wrote nanosecond timestamps: pyarrow
            # reports them as timestamp[ns] (or raw int64 epoch-ns) —
            # both read as bigint under nanosAsLong, i.e. the ns→µs
            # decode branch
            if ts_type == pa.int64() or (
                pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
            ):
                return True, EVENTS_FILE_SCHEMA
            return False, from_arrow_schema(arrow, prefer_timestamp_ntz=True)
        except Exception:  # no ts column / a type Spark cannot map
            pass
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_is_ns_long = False
    try:
        probed = spark.read.parquet(probe_path)
        ts_is_ns_long = dict(probed.dtypes).get("ts") == "bigint"
    finally:
        if not ts_is_ns_long:
            # restore — the conf must stay set for the stream's
            # lifetime only when micro-batches need the ns decode
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return ts_is_ns_long, (EVENTS_FILE_SCHEMA if ts_is_ns_long else probed.schema)


def open_events_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """events-shaped parquet as a file-replay stream, adapting to the
    on-disk ts encoding (a streaming source cannot infer a schema).

    A footer probe (:func:`_probe_events_schema`) decides: int64-
    nanosecond ``ts`` (legacy fixtures) gets the nanosAsLong conf +
    exact ns→µs integer division, mirroring the batch reader so
    streaming and batch twins see identical timestamps; a native
    timestamp column streams as-is."""
    probe_path = f"{path}/{glob}" if glob else path
    ts_is_ns_long, schema = _probe_events_schema(spark, probe_path)
    if ts_is_ns_long:
        # micro-batches plan new files for the lifetime of the query —
        # the conf must stay set session-wide on the legacy path
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.parquet(path)
    if ts_is_ns_long:
        # integer division — same exactness note as sources.readers.read_events
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes).get("ts", "").startswith("timestamp_ntz"):
        # watermarks require TIMESTAMP (ltz); the session tz is pinned
        # UTC (session.py) so this cast preserves the wall-clock values
        # the batch twins see
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_events(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """events fixture as a file-replay stream. The glob filter keeps the
    other fixture tables in sf_dir out of the source listing."""
    return open_events_stream(
        spark, sf_dir, glob="events.parquet", max_files_per_trigger=max_files_per_trigger
    )


def _gridsum2(col: str) -> F.Column:
    # EXACT cents-grid sum — the same expression as the batch twins'
    # registry.gridsum(col, 2). Using round(sum(double)) here instead
    # would make stream/batch equivalence summation-order-dependent.
    return F.sum(F.floor(F.col(col) * 100.0 + F.lit(0.5)).cast("long")) / 100.0


def streaming_tumbling_stats(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """10-minute tumbling counts/sums per event_type — batch twin:
    plans.events.tumbling_window_event_stats (bit-identical grid sum)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _gridsum2("value").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_session_windows(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """30-minute-gap session windows per user — batch twin:
    plans.events.session_windows_per_user (bit-identical grid sum)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _gridsum2("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding-window event counts (10 min window, 5 min slide) — batch
    twin: plans.events.sliding_window_event_counts. The window
    expression replicates each event into window/slide = 2 buckets
    inside the projection; streaming state is one count per open
    bucket within the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exactly-once dedup on (event_id, ts) within the
    watermark horizon — the streaming form of R7/R13.

    The event-time column MUST be part of the dedup key: Spark's
    streaming dropDuplicates only evicts state for keys whose
    event-time has passed the watermark when the watermarked column is
    in the key — with ``["event_id"]`` alone every id ever seen stays
    in the state store forever. With (id, ts) the state is bounded by
    rate × horizon; exact re-emissions (same id AND ts — the at-least-
    once redelivery case) dedup, while an id reused with a new
    timestamp counts as a new event (use
    :func:`streaming_dedup_within_watermark` to collapse those too)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


#: state-store sizing rule (r13, guide §2.2/§5): each state partition
#: targets this much PROJECTED state. The upper bound for projected
#: state is the source's decoded bytes (every stateful op here keys on
#: a subset/aggregate of input rows), read from parquet footer
#: metadata (uncompressed row-group sizes, ~1 ms). Per-partition floor
#: work — snapshot, WAL commit, provider init — measured ~30-60 ms per
#: partition per micro-batch on this box, so a cores-matched 32-way
#: state store pays ~1-2 s of pure commit overhead per replay when the
#: whole state fits in a few MB (interleaved A/B on the tumbling
#: replay: 32 partitions 2.30 s median vs 8 -> 1.12 s, 2 -> 1.08 s).
#: The floor keeps commit/compute parallelism when state is tiny; the
#: cap bounds the ceiling when the input-bytes proxy overshoots real
#: (post-aggregation) state at cluster scale.
_STATE_TARGET_BYTES = 64 << 20
_STATE_MIN_PARTITIONS = 4
_STATE_MAX_PARTITIONS = 32768


def projected_state_partitions(path: str) -> int | None:
    """State-store partition count from the source's projected state
    size — decoded (uncompressed) bytes from parquet footers
    (``sources.footer.decoded_bytes``: at most 64 footers, scaled by
    the part count) over a per-partition target — or None when the
    footers are unreadable (caller then leaves
    ``spark.sql.shuffle.partitions`` alone).

    Unlike sizing state partitions to the core count, this rule is
    scale-adaptive in the direction that matters: a small replay stops
    paying dozens of per-partition commit floors, a 100 TB source
    still fans out (input bytes only overestimate state, which errs
    toward MORE partitions — the safe side for memory)."""
    total = footer.decoded_bytes(path)
    if total is None:
        return None
    n = -(-total // _STATE_TARGET_BYTES)  # ceil
    return max(_STATE_MIN_PARTITIONS, min(n, _STATE_MAX_PARTITIONS))


def run_to_completion(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_s: int = 120,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a file-replay streaming query until the source is exhausted
    and return the collected sink as a (batch) DataFrame via the memory
    sink. Test harness helper — real deployments use a real sink.

    ``state_partitions`` (r13): when given, the query starts with
    ``spark.sql.shuffle.partitions`` set to it — for a streaming query
    this IS the state-store partition count, pinned into the
    checkpoint at first start — and the session value is restored
    after the drain. Derive it with :func:`projected_state_partitions`.
    The value is scoped by :func:`projet5_spark.session.scoped_conf`,
    so it is session-global for the whole drain: not safe for
    concurrent builders.

    Raises on timeout instead of returning a partial sink: the
    still-running query would keep mutating the memory table under the
    caller's comparison."""
    spark = stream_df.sparkSession
    with scoped_conf(spark, "spark.sql.shuffle.partitions", state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming query {query_name!r} still running after {timeout_s}s; "
            f"result would be partial"
        )
    return spark.table(query_name)


def streaming_dedup_within_watermark(
    events: DataFrame, key: str = "event_id", watermark: str = "1 hour"
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: collapse duplicate keys whose
    event times land within the watermark delay of each other. Unlike
    :func:`streaming_dedup`, the event-time column need not be part of
    the dedup key for state to expire — state for a key is dropped one
    delay after its first sighting, so re-emissions farther apart than
    the horizon are (deliberately) treated as new events. This is the
    at-least-once-source dedup shape: upstream retries cluster within
    seconds/minutes, and bounded state absorbs exactly that window."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])
