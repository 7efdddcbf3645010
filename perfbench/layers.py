"""Per-layer measurement for the traced run.

Everything here observes the program from outside, around the public
calls into each layer: a counting wrapper on the py4j gateway client,
each operation's jobs and stages read back from the status store
through ``projet5_spark.instrumentation``, a ``StreamingQueryListener``,
the plan-shape counts of ``tools/plan_shape.py``, and a
resident-memory sampler over this process and its descendants. None of
it is active in an untraced run.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from collections import defaultdict

#: name -> (unit, better); every traced run reports all of them, 0 where
#: a layer is not used by the workload.
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.py4j_calls": ("count", "lower"),
    "plans.plan_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "plans.nodes": ("count", "lower"),
    "plans.exchanges": ("count", "lower"),
    "plans.broadcasts": ("count", "higher"),
    "operators.exec_s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "operators.stages": ("count", "lower"),
    "operators.tasks": ("count", "lower"),
    "operators.executor_cpu_s": ("s", "lower"),
    "operators.slot_busy_share": ("ratio", "higher"),
    "operators.shuffle_write_mb": ("MB", "lower"),
    "operators.spill_mb": ("MB", "lower"),
    "operators.released_rdds": ("count", "lower"),
    "functions.python_nodes": ("count", "lower"),
    "sources.read_csv_s": ("s", "lower"),
    "sources.merge_s": ("s", "lower"),
    "sources.readback_s": ("s", "lower"),
    "sources.scan_amplification": ("ratio", "lower"),
    "sources.write_amplification": ("ratio", "lower"),
    "sources.bytes_at_rest_per_input_byte": ("ratio", "lower"),
    "streaming.micro_batches": ("count", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.ops_per_s": ("ops/s", "higher"),
}

def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, read from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the
    JVM and the Python workers), sampled every ``period`` seconds from
    construction until :meth:`stop`."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def stop(self) -> int:
        """End sampling; returns the peak in KiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb


class Py4jCounter:
    """Counts py4j commands sent through the session's gateway client
    inside :meth:`window`."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self.active = False
        send = self.client.send_command

        def counted(*args, **kwargs):
            if self.active:
                self.count += 1
            return send(*args, **kwargs)

        self.client.send_command = counted

    @contextlib.contextmanager
    def window(self):
        """Count from zero while the block runs; ``count`` keeps the
        total afterwards."""
        self.count, self.active = 0, True
        try:
            yield self
        finally:
            self.active = False


def streaming_listener(spark):
    """Register a listener that keeps every query-progress event as a
    small dict; returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "input_rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())
    return events


class Tracer:
    """Per-operation layer records for one traced run. Jobs are
    attributed to an operation by job-id window (the benchmark is a
    single closed-loop caller), which also catches the jobs streaming
    queries run under their own job groups."""

    def __init__(self, spark, slots: int):
        self.spark = spark
        self.slots = slots
        self.py4j = Py4jCounter(spark)
        self.stream_events = streaming_listener(spark)
        self.ops: list[dict] = []
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark.sparkContext._jvm

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def job_mark(self) -> int:
        """Number of jobs started so far (job ids are sequential)."""
        return self._jobs().size()

    def plan_shape(self, df) -> dict:
        """Force physical planning (timed) and count plan-shape features
        with ``tools/plan_shape.py::shape_counts``."""
        from tools.plan_shape import shape_counts

        t = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        plan_s = time.perf_counter() - t
        text = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        shape = shape_counts(text)
        joins = shape.get("joins", {})
        return {
            "plan_s": plan_s,
            "nodes": shape.get("nodes", 0),
            "exchanges": shape.get("exchanges", 0),
            "broadcasts": joins.get("BroadcastHashJoin", 0)
            + joins.get("BroadcastNestedLoopJoin", 0),
            "python_nodes": shape.get("python", 0),
        }

    def summarize(self, ops_per_s: float, peak_kb: int, start_s: float) -> dict:
        """Mean per timed operation of each layer record, with each
        operation's jobs summed from the status store's stage rows
        (``projet5_spark.instrumentation.stage_stats``)."""
        from projet5_spark.instrumentation import stage_stats

        stages = {
            r["stage_id"]: r.asDict()
            for r in stage_stats(self.spark).collect()
            if r["status"] == "COMPLETE"
        }
        job_stages = {}
        jobs = self._jobs()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            ids = j.stageIds()
            job_stages[j.jobId()] = [ids.apply(k) for k in range(ids.size())]

        for o in self.ops:
            ids = {s for j in range(*o["jobs_window"]) for s in job_stages.get(j, ())}
            rows = [stages[s] for s in ids if s in stages]

            def total(field):
                return sum(r[field] or 0 for r in rows)

            o["jobs"] = o["jobs_window"][1] - o["jobs_window"][0]
            o["stages"] = len(rows)
            o["tasks"] = total("num_complete_tasks")
            o["executor_cpu_s"] = total("executor_cpu_time_ns") / 1e9
            o["slot_busy_share"] = (
                total("executor_run_time_ms") / 1e3 / (o["wall_s"] * self.slots)
            )
            o["shuffle_write_mb"] = total("shuffle_write_bytes") / 1e6
            o["spill_mb"] = total("disk_bytes_spilled") / 1e6
            if o.get("batch_rows"):
                o["scan_amplification"] = total("input_records") / o["batch_rows"]
                o["write_amplification"] = total("output_bytes") / o["batch_bytes"]

        def mean(key, rows=self.ops):
            vals = [o[key] for o in rows if key in o]
            return statistics.fmean(vals) if vals else 0.0

        merges = [o for o in self.ops if o.get("batch_rows")]
        n_replays = sum(1 for o in self.ops if o.get("streaming"))
        ev = self.stream_events
        return {
            "session.start_s": start_s,
            "plans.build_s": mean("build_s"),
            "plans.py4j_calls": mean("py4j_calls"),
            "plans.plan_s": mean("plan_s"),
            "plans.build_jobs": mean("build_jobs"),
            "plans.nodes": mean("nodes"),
            "plans.exchanges": mean("exchanges"),
            "plans.broadcasts": mean("broadcasts"),
            "operators.exec_s": mean("exec_s"),
            "operators.jobs": mean("jobs"),
            "operators.stages": mean("stages"),
            "operators.tasks": mean("tasks"),
            "operators.executor_cpu_s": mean("executor_cpu_s"),
            "operators.slot_busy_share": mean("slot_busy_share"),
            "operators.shuffle_write_mb": mean("shuffle_write_mb"),
            "operators.spill_mb": mean("spill_mb"),
            "operators.released_rdds": mean("released_rdds"),
            "functions.python_nodes": mean("python_nodes"),
            "sources.read_csv_s": mean("read_csv_s", merges),
            "sources.merge_s": mean("merge_s", merges),
            "sources.readback_s": mean("readback_s", merges),
            "sources.scan_amplification": mean("scan_amplification", merges),
            "sources.write_amplification": mean("write_amplification", merges),
            "sources.bytes_at_rest_per_input_byte": mean("bytes_at_rest", merges),
            "streaming.micro_batches": len(ev) / n_replays if n_replays else 0.0,
            "streaming.input_rows": sum(e["input_rows"] for e in ev) / n_replays
            if n_replays else 0.0,
            "streaming.trigger_ms": statistics.fmean(e["trigger_ms"] for e in ev)
            if ev else 0.0,
            "streaming.state_rows": statistics.fmean(e["state_rows"] for e in ev)
            if ev else 0.0,
            "process.peak_rss_mb": peak_kb / 1024.0,
            "trace.ops_per_s": ops_per_s,
        }
