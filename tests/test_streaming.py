"""Streaming correctness via batch equivalence (SURVEY.md §2.8/§7.4.6):
the same window expressions run as a file-replay stream and as batch
must produce identical results once the stream is exhausted."""

from __future__ import annotations

import pytest

from projet5_spark.plans.events import (
    session_windows_per_user,
    tumbling_window_event_stats,
)
from projet5_spark.streaming import (
    run_to_completion,
    stream_events,
    streaming_dedup,
    streaming_session_windows,
    streaming_tumbling_stats,
)

SF = "/root/testdata/sf0.001"


def _norm(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "stream_fn,batch_fn,qname",
    [
        (streaming_tumbling_stats, tumbling_window_event_stats, "t_tumbling"),
        (streaming_session_windows, session_windows_per_user, "t_session"),
    ],
)
def test_stream_batch_equivalence(spark, stream_fn, batch_fn, qname):
    stream = stream_events(spark, SF)
    got = run_to_completion(stream_fn(stream), qname, output_mode="complete")
    want = batch_fn(spark, SF)
    assert sorted(got.columns) == sorted(want.columns)
    assert _norm(got.select(*sorted(got.columns))) == _norm(
        want.select(*sorted(want.columns))
    )


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream self-join must equal the same join run
    in batch once the replay is exhausted."""
    from projet5_spark.sources.readers import read_events
    from projet5_spark.streaming.joins import purchase_view_join

    stream = stream_events(spark, SF)
    got = run_to_completion(
        purchase_view_join(stream), "t_ssjoin", output_mode="append"
    )
    want = purchase_view_join(read_events(spark, SF))
    assert _norm(got.select(*sorted(got.columns))) == _norm(
        want.select(*sorted(want.columns))
    )


def test_stateful_user_profiles_match_batch(spark):
    """applyInPandasWithState per-user profile must equal the batch
    window+aggregate twin after the replay completes."""
    from projet5_spark.sources.readers import read_events
    from projet5_spark.streaming.stateful import (
        batch_user_profiles,
        streaming_user_profiles,
    )

    stream = stream_events(spark, SF)
    got = run_to_completion(
        streaming_user_profiles(stream), "t_stateful", output_mode="update"
    )
    want = batch_user_profiles(read_events(spark, SF))
    assert _norm(got.select(*sorted(got.columns))) == _norm(
        want.select(*sorted(want.columns))
    )


def test_streaming_dedup_removes_nothing_on_unique_ids(spark):
    stream = stream_events(spark, SF)
    got = run_to_completion(streaming_dedup(stream), "t_dedup", output_mode="append")
    from projet5_spark.sources.readers import read_events

    assert got.count() == read_events(spark, SF).count()


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """Multi-batch ingestion lands every event exactly once, and a full
    replay (fresh checkpoint) inserts nothing new."""
    from projet5_spark.sources.readers import read_events
    from projet5_spark.streaming.sinks import stream_to_parquet_idempotent
    from projet5_spark.streaming.windows import open_events_stream

    # split events into 4 files so the stream runs 4 micro-batches
    # (write via read_events so the copy carries µs timestamps regardless
    # of the fixture's on-disk ts encoding)
    src = str(tmp_path / "src")
    read_events(spark, SF).repartition(4).write.parquet(src)
    expected = read_events(spark, SF).count()

    def ingest(checkpoint: str):
        raw = open_events_stream(spark, src)
        out = str(tmp_path / "out")
        q = stream_to_parquet_idempotent(raw, out, ["event_id"], checkpoint)
        q.awaitTermination(120)
        return out

    out = ingest(str(tmp_path / "ck1"))
    assert spark.read.parquet(out).count() == expected
    # replay from scratch: idempotence absorbs every duplicate batch
    ingest(str(tmp_path / "ck2"))
    assert spark.read.parquet(out).count() == expected


def test_sliding_window_stream_matches_batch(spark):
    from projet5_spark.plans.events import sliding_window_event_counts
    from pyspark.sql import functions as F

    stream = stream_events(spark, SF)
    got = run_to_completion(
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        ),
        "t_sliding",
        output_mode="complete",
    )
    want = sliding_window_event_counts(spark, SF)
    assert _norm(got) == _norm(want)


def test_watermark_drops_late_data(spark, tmp_path):
    """End-to-end late-data semantics: an event arriving after the
    watermark horizon must NOT appear in the appended window output."""
    import time as _time

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_file(rows, name):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # file mtimes order the micro-batches

    # batch 1: on-time events up to 12:00 → watermark advances to 11:00
    write_file(
        [
            (1, "2024-01-01 10:00:00", 1, 1.0),
            (2, "2024-01-01 10:05:00", 1, 1.0),
            (3, "2024-01-01 12:00:00", 1, 1.0),
        ],
        "b1",
    )
    ck = str(tmp_path / "ck")

    def run_round(qname):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("w.start", "HH:mm").alias("w0"), "n")
        )
        rows = []

        def sink(batch_df, _id):
            rows.extend(batch_df.collect())

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)  # watermark survives rounds
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["w0"]: r["n"] for r in rows}

    # round 1: only the on-time file exists → watermark commits at 11:00
    out1 = run_round("t_late1")
    # round 2 (same checkpoint): the 08:00 event is now an hour behind
    # the committed watermark → must be dropped
    write_file(
        [
            (4, "2024-01-01 08:00:00", 1, 99.0),
            (5, "2024-01-01 12:10:00", 1, 1.0),
        ],
        "b2",
    )
    out2 = run_round("t_late2")
    windows = {**out1, **out2}
    assert "08:00" not in windows, f"late event leaked into {windows}"
    assert windows.get("10:00") == 2


def test_streaming_dedup_within_watermark_collapses_near_dups(spark, tmp_path):
    """Duplicate keys within the watermark delay must collapse to one
    row (the guaranteed direction of dropDuplicatesWithinWatermark)."""
    import pyspark.sql.functions as F

    from projet5_spark.streaming.windows import (
        run_to_completion,
        streaming_dedup_within_watermark,
    )

    src = str(tmp_path / "dupsrc")
    base = "2024-01-01 10:00:00"
    rows = [
        ("a", base),
        ("a", "2024-01-01 10:10:00"),  # retry 10 min later -> dropped
        ("b", base),
        ("c", "2024-01-01 10:20:00"),
    ]
    (
        spark.createDataFrame(rows, ["event_id", "ts_s"])
        .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
        .coalesce(1)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema("event_id string, ts timestamp").parquet(src)
    )
    got = run_to_completion(
        streaming_dedup_within_watermark(stream), "t_dedup_ww", output_mode="append"
    )
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == ["a", "b", "c"]


def test_stateful_profiles_survive_multi_chunk_groups(spark):
    """Force tiny Arrow batches so every user's micro-batch arrives as
    MANY unordered chunks — max_gap must still match the batch twin
    (regression: per-chunk sorting computed gaps across wrong
    neighbors)."""
    from projet5_spark.sources.readers import read_events
    from projet5_spark.streaming.stateful import (
        batch_user_profiles,
        streaming_user_profiles,
    )
    from projet5_spark.streaming.windows import run_to_completion, stream_events

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = stream_events(spark, SF)
        got = run_to_completion(
            streaming_user_profiles(stream), "t_stateful_chunks", output_mode="update"
        )
        want = batch_user_profiles(read_events(spark, SF))
        assert _norm(got.select(*sorted(got.columns))) == _norm(
            want.select(*sorted(want.columns))
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_stream_to_scd2_dim_builds_history_and_absorbs_replay(spark, tmp_path):
    """A change stream merged through the SCD-2 sink accumulates
    version history across micro-batches, and a full replay (fresh
    checkpoint) fabricates nothing — digest + ordering guards make the
    at-least-once window harmless."""
    import pyspark.sql.functions as F

    from projet5_spark.streaming.sinks import stream_to_scd2_dim

    # two change batches for the same keys: v1 then v2, as two files
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [(1, "alice", "2024-01-01 00:00:00"), (2, "bob", "2024-01-01 00:00:00")],
        "k long, v string, ts string",
    )
    b2 = spark.createDataFrame(
        [(1, "alicia", "2024-02-01 00:00:00"), (2, "bob", "2024-02-01 00:00:00")],
        "k long, v string, ts string",
    )
    b1.coalesce(1).write.parquet(f"{src}/f1")
    b2.coalesce(1).write.parquet(f"{src}/f2")

    dim = str(tmp_path / "dim")

    def ingest(checkpoint: str):
        raw = (
            spark.readStream.schema("k long, v string, ts string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = stream_to_scd2_dim(raw, dim, ["k"], "ts", checkpoint)
        q.awaitTermination(120)

    ingest(str(tmp_path / "ck1"))
    rows = spark.read.parquet(dim).collect()
    cur = {r["k"]: r["v"] for r in rows if r["__current"]}
    # k=1 versioned (alice -> alicia), k=2 unchanged (digest skip)
    assert cur == {1: "alicia", 2: "bob"}
    assert len(rows) == 3  # closed alice + current alicia + current bob

    # full replay from scratch: nothing closes, nothing inserts
    ingest(str(tmp_path / "ck2"))
    assert spark.read.parquet(dim).count() == 3


def test_disorder_profile_sizes_a_lossless_watermark(spark, tmp_path):
    """Coherence of the batch diagnostic with streaming semantics: a
    watermark sized by event_time_disorder_profile's max lateness keeps
    every event of a disordered multi-batch replay, while an undersized
    watermark provably drops some."""
    import time as _time

    from pyspark.sql import functions as F

    from projet5_spark.plans.layout import disorder_profile

    # synthetic arrival stream: every 10th event arrives ~35 min behind
    # the high-watermark; arrival order = event_id = file order
    base = "2024-01-01 06:00:00"
    rows = []
    for i in range(60):
        late = i % 10 == 9
        ts_off = (i - 35) * 60 if late else i * 60
        rows.append((i, ts_off, "click"))
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "event_id long, off long, event_type string").select(
        "event_id",
        "event_type",
        (F.to_timestamp(F.lit(base)).cast("long") + F.col("off"))
        .cast("timestamp")
        .alias("ts"),
    )
    # profile the stream (arrival order = event_id)
    prof = disorder_profile(
        df.select(
            "event_type", "event_id", F.col("ts").cast("long").alias("tsec")
        )
    ).collect()[0]
    assert prof["n_late"] > 0 and prof["max_lateness_s"] >= 34 * 60

    # replay in 6 files of 10 events (arrival order), 1 file per batch
    for c in range(6):
        chunk = df.where((F.col("event_id") >= c * 10) & (F.col("event_id") < (c + 1) * 10))
        chunk.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    def dropped_rows(wm_seconds, ck_name):
        """Total numRowsDroppedByWatermark across the replay."""
        stream = (
            spark.readStream.schema("event_id long, event_type string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", f"{wm_seconds} seconds")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.foreachBatch(lambda b, _i: b.count())
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ck_name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )

    sized = prof["max_lateness_s"] + 60
    assert dropped_rows(sized, "ck_ok") == 0, "profile-sized watermark lost events"
    assert dropped_rows(1, "ck_tight") > 0, "1s watermark should drop late events"


def test_transform_with_state_matches_batch(spark):
    """transformWithStateInPandas (Spark-4 stateful API) per-type stats
    must equal the batch aggregate twin after the replay completes. The
    API requires the RocksDB state store provider (conf set for this
    query and restored) AND protobuf for its driver-worker protocol —
    satisfied here either by a real install or by the vendored bridge
    tests/_proto_shim activates in conftest; skipped only where
    neither exists."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState's state-server protocol needs protobuf",
    )
    from pyspark.sql import functions as F

    from projet5_spark.sources.readers import read_events
    from projet5_spark.streaming.stateful import (
        batch_event_type_stats,
        streaming_event_type_stats,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_events(spark, SF)
        updates = run_to_completion(
            streaming_event_type_stats(stream), "t_tws", output_mode="update"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # update-mode memory sink keeps one row per key per micro-batch;
    # the final profile per key is the one with the highest running n
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
        "event_type"
    ).orderBy(F.desc("n_events"))
    got = (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    want = batch_event_type_stats(read_events(spark, SF))
    assert _norm(got.select(*sorted(got.columns))) == _norm(
        want.select(*sorted(want.columns))
    )


def test_transform_with_state_processor_logic_unit(spark):
    """The StatefulProcessor's fold logic, driven directly with a fake
    state handle across two simulated micro-batches — covers the
    operator's algebra even where the protobuf wire protocol (previous
    test) is unavailable."""
    import math

    import pandas as pd

    from projet5_spark.streaming.stateful import EventTypeStatsProcessor

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeValueState())

    proc = EventTypeStatsProcessor()
    proc.init(FakeHandle())
    batch1 = pd.DataFrame({"value": [1.25, 2.50, 0.10]})
    batch2 = pd.DataFrame({"value": [10.00, 0.05]})
    list(proc.handleInputRows(("click",), iter([batch1]), None))
    (out,) = list(proc.handleInputRows(("click",), iter([batch2]), None))
    vals = [1.25, 2.50, 0.10, 10.00, 0.05]
    cents = [math.floor(v * 100 + 0.5) for v in vals]
    assert out["n_events"][0] == len(vals)
    assert out["sum_value"][0] == sum(cents) / 100.0
    assert out["max_value"][0] == max(cents) / 100.0


def test_transform_with_state_batch_twin_fixture_replay(spark):
    """Full batch-twin equivalence for the transformWithState operator
    WITHOUT the state server: replay the real events fixture through
    the StatefulProcessor — one processor instance per key (the
    engine's per-key state isolation), rows split into three simulated
    micro-batches — and assert the final emitted profile per key equals
    ``batch_event_type_stats``. Together with the wire-protocol test
    above (skipped where protobuf is absent), this pins everything but
    the protobuf transport itself."""
    import pandas as pd

    from projet5_spark.sources.readers import read_events
    from projet5_spark.streaming.stateful import (
        EventTypeStatsProcessor,
        batch_event_type_stats,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeValueState())

    pdf = read_events(spark, SF).select("event_type", "value").toPandas()
    got = {}
    for key, grp in pdf.groupby("event_type"):
        proc = EventTypeStatsProcessor()
        proc.init(FakeHandle())
        last = None
        n = len(grp)
        for lo in range(0, n, max(1, -(-n // 3))):  # 3 micro-batches
            chunk = grp.iloc[lo : lo + max(1, -(-n // 3))]
            outs = list(
                proc.handleInputRows((key,), iter([chunk[["value"]]]), None)
            )
            last = outs[-1]
        got[key] = (
            int(last["n_events"][0]),
            float(last["sum_value"][0]),
            float(last["max_value"][0]),
        )

    want = {
        r["event_type"]: (
            int(r["n_events"]),
            float(r["sum_value"]),
            float(r["max_value"]),
        )
        for r in batch_event_type_stats(read_events(spark, SF)).collect()
    }
    assert got == want


def test_list_and_map_state_processor_logic_unit(spark):
    """Fold logic of the round-10 ListState/MapState processors, driven
    with fake state handles across simulated micro-batches — pins the
    algebra where the protobuf wire protocol is unavailable (the
    availableNow queries certify the transport end-to-end)."""
    import pandas as pd

    from projet5_spark.streaming.stateful import (
        UserTypeMapProcessor,
        UserValuesListProcessor,
    )

    class FakeListState:
        def __init__(self):
            self._rows = []

        def appendList(self, rows):
            self._rows.extend(rows)

        def get(self):
            return iter(list(self._rows))

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return k in self._m

        def getValue(self, k):
            return self._m[k]

        def updateValue(self, k, v):
            self._m[k] = v

        def iterator(self):
            return iter(sorted(self._m.items()))

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getListState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeListState())

        def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeMapState())

    lp = UserValuesListProcessor()
    lp.init(FakeHandle())
    list(lp.handleInputRows((7,), iter([pd.DataFrame({"value": [1.25, 2.50]})]), None))
    (out,) = list(
        lp.handleInputRows((7,), iter([pd.DataFrame({"value": [0.10]})]), None)
    )
    assert out["n_events"][0] == 3
    assert out["sum_value"][0] == (125 + 250 + 10) / 100.0
    assert out["max_value"][0] == 2.50

    mp = UserTypeMapProcessor()
    mp.init(FakeHandle())
    b1 = pd.DataFrame({"event_type": ["view", "click", "view"], "value": [1.0, 2.0, 3.0]})
    b2 = pd.DataFrame({"event_type": ["click"], "value": [0.5]})
    list(mp.handleInputRows((7,), iter([b1]), None))
    (out2,) = list(mp.handleInputRows((7,), iter([b2]), None))
    rows = {
        (r.event_type): (r.n_events, r.sum_value)
        for r in out2.itertuples(index=False)
    }
    assert rows["view"] == (2, 4.0)
    assert rows["click"] == (2, 2.5)


def test_event_time_timer_fires_at_watermark_boundary(spark, tmp_path):
    """Pins the timer-fire boundary the certified timer query's oracle
    encodes: an expiry EQUAL to the end-of-replay watermark FIRES
    (<=, not <), an expiry 1 ms past it does not, and the global-max
    holder never fires. Requires protobuf (vendored bridge)."""
    import datetime as dt

    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState's state-server protocol needs protobuf",
    )
    from pyspark.sql import functions as F

    from projet5_spark.streaming.stateful import (
        streaming_session_close_timers,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        base = dt.datetime(2025, 1, 1, 12, 0, 0)
        rows = [
            (1, base),  # expiry == watermark: must fire
            (2, base + dt.timedelta(minutes=30)),  # max holder: open
            (3, base + dt.timedelta(milliseconds=1)),  # 1 ms past: open
        ]
        src = str(tmp_path / "timer-edge")
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        out = run_to_completion(
            streaming_session_close_timers(stream), "t_edge", output_mode="update"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    closed = sorted(r.user_id for r in out.where(F.col("kind") == "closed").collect())
    assert closed == [1], closed


def test_events_schema_probe_handles_all_ts_encodings(spark, tmp_path):
    """The r12 footer-based events schema probe must classify every ts
    encoding exactly like the Spark batch probe it replaced: native
    timestamp[us] -> stream as-is (ntz schema); legacy nanosecond
    timestamps (pyarrow: timestamp[ns]) and raw int64 epoch-ns -> the
    nanosAsLong + ns->us decode branch with the explicit long schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from projet5_spark.streaming.windows import (
        EVENTS_FILE_SCHEMA,
        _probe_events_schema,
        open_events_stream,
        run_to_completion,
    )

    # native fixture: not the ns branch, schema matches the batch probe
    is_ns, schema = _probe_events_schema(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    assert is_ns is False
    assert schema == spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).schema

    # synthesized legacy file: ns-unit timestamps
    base_ns = 1_700_000_000_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [base_ns + i * 1_000_000_000 for i in range(3)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    src = str(tmp_path / "ns-events")
    import os

    os.makedirs(src, exist_ok=True)
    pq.write_table(tbl, os.path.join(src, "events.parquet"))
    is_ns, schema = _probe_events_schema(spark, f"{src}/events.parquet")
    assert is_ns is True
    assert schema == EVENTS_FILE_SCHEMA

    # end-to-end: the legacy stream decodes ns -> exact microseconds
    out = run_to_completion(
        open_events_stream(spark, src, glob="events.parquet").select(
            "event_id", F.unix_micros("ts").alias("us")
        ),
        "ns_probe_replay",
    )
    got = {r.event_id: r.us for r in out.collect()}
    assert got == {i + 1: (base_ns + i * 1_000_000_000) // 1000 for i in range(3)}


def test_projected_state_partitions_rule(spark, tmp_path):
    """r13 state-partition rule: partitions derive from the source's
    projected (uncompressed) state bytes over a 64 MB target, floored
    at 4 and capped — and run_to_completion restores the session's
    shuffle-partition conf after the drain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet5_spark.streaming.windows import (
        _STATE_MIN_PARTITIONS,
        projected_state_partitions,
        run_to_completion,
        stream_events,
        streaming_tumbling_stats,
    )

    # the sf0.1 events fixture is a few MB decoded: the floor applies
    assert (
        projected_state_partitions("/root/testdata/sf0.1/events.parquet")
        == _STATE_MIN_PARTITIONS
    )
    # a synthetic ~320 MB-decoded file crosses the 64 MB target past
    # the floor (PLAIN encoding so row-group total_byte_size ≈ 8 B/val)
    big = tmp_path / "big.parquet"
    n = 2_500_000
    col = pa.array(range(n), pa.int64())
    pq.write_table(
        pa.table({f"c{i}": col for i in range(16)}),
        big, compression="snappy", use_dictionary=False,
    )
    got = projected_state_partitions(str(big))
    assert got is not None and got > _STATE_MIN_PARTITIONS
    # unreadable path: unknown, caller leaves the conf alone
    assert projected_state_partitions(str(tmp_path / "nope.parquet")) is None

    # the drain pins the conf for the query and restores it after
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_to_completion(
        streaming_tumbling_stats(stream_events(spark, "/root/testdata/sf0.001")),
        "st_rule_probe",
        output_mode="complete",
        state_partitions=2,
    )
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_scoped_conf_restores_unsets_and_survives_raise(spark):
    """``scoped_conf`` restores a conf's old value, unsets a conf that
    had none, leaves the conf alone for ``None``, and restores it when
    the body raises."""
    from projet5_spark.session import scoped_conf

    key = "spark.sql.graft.test.scoped"
    spark.conf.set(key, "old")
    with scoped_conf(spark, key, "new"):
        assert spark.conf.get(key) == "new"
    assert spark.conf.get(key) == "old"
    with scoped_conf(spark, key, None):
        assert spark.conf.get(key) == "old"
    with scoped_conf(spark, key, 4):  # callers pass partition counts as int
        assert spark.conf.get(key) == "4"
    assert spark.conf.get(key) == "old"
    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, key, "new"):
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == "old"
    spark.conf.unset(key)
    with scoped_conf(spark, key, "new"):
        assert spark.conf.get(key) == "new"
    assert spark.conf.get(key, None) is None


def test_projected_state_partitions_samples_over_cap_sources(tmp_path, monkeypatch):
    """Past the footer cap the state-partition probe stays a bounded
    driver read (~100k parts at 100 TB would otherwise mean ~100k
    footer reads): it opens at most ``footer.MAX_PARTS`` footers and
    scales their mean decoded bytes per part by the part count — exact
    on uniform parts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet5_spark.sources import footer
    from projet5_spark.streaming.windows import (
        _STATE_MIN_PARTITIONS,
        projected_state_partitions,
    )

    src = tmp_path / "events.parquet"
    src.mkdir()
    n_parts = 2 * footer.MAX_PARTS + 3
    t = pa.table({"v": pa.array(range(100), pa.int64())})
    for i in range(n_parts):
        pq.write_table(t, src / f"part-{i:04d}.parquet")
    per_part = pq.ParquetFile(src / "part-0000.parquet").metadata.row_group(0).total_byte_size

    opened = []
    real = footer._footer
    monkeypatch.setattr(footer, "_footer", lambda f: opened.append(f) or real(f))
    assert footer.decoded_bytes(str(src)) == n_parts * per_part
    assert 0 < len(opened) <= footer.MAX_PARTS
    opened.clear()
    assert projected_state_partitions(str(src)) == _STATE_MIN_PARTITIONS
    assert 0 < len(opened) <= footer.MAX_PARTS
