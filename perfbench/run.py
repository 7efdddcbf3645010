"""Closed-loop benchmark of the projet5_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload catalog_queries --seed 1 --seconds 21 --trace 0

Workloads: ``catalog_queries`` and ``healthcare_etl`` (see README.md in
this directory). One run, in one process:

1. clears its scratch directory ``.perfbench_run/`` and generates the
   seeded inputs there (not counted in ``setup_s``);
2. starts the SparkSession with ``SLOTS`` task slots and runs every
   operation once, cold, collecting the catalog entries' outputs;
3. times whole warm passes of the same operations, one at a time: as
   many as ``--seconds`` holds at the workload's nominal pass wall, a
   number fixed per workload so every run does the same work. The
   first quartile of each operation's timed walls enters the metrics;
4. checks the outputs without Spark (DuckDB oracles, a pandas version of
   the reference's migration, table properties), stops Spark, waits for
   the JVM and its Python workers to exit, and prints one JSON object as
   the last line of stdout.

``--trace 1`` makes the separate traced run: same operations, with the
per-layer probes of ``layers.py`` on, reporting per-layer metrics instead
of the end-to-end ones. ``--smoke`` shrinks the inputs (sf0.001, a
small CSV) for the benchmark's own tests.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_run")

#: Spark task slots. Fewer than the 4 vCPUs this was sized on: the spare
#: cores take the Python driver, the Python workers and the JVM's GC and
#: JIT threads. At local[4] four runs of one query mix spread 26.4-47.5 s;
#: at local[2] the same mix read 29.4 s and 29.5 s.
SLOTS = 2
#: The heap is fixed at its maximum from the start: a growing heap adds
#: garbage collections to the first warm passes (~20% more CPU).
DRIVER_MEMORY = "2g"

#: Read-only catalog entries, each executed to the ``noop`` sink: TPC-H,
#: window and SQL-surface entries (planning and shuffle execution)
#: beside document entries (expression evaluation, a pandas UDF, an
#: eager ``localCheckpoint``).
CATALOG_QUERIES = [
    "q01_pricing_summary",
    "q05_region_revenue",
    "q18_large_volume_customers",
    "window_top3_customers_per_nation",
    "sql_cte_nation_revenue_rank",
    "doc_exact_dedup",
    "bigram_lm_doc_score",
    "udf_pandas_quality_score",
]
REPLAYS = ["streaming_dedup_availablenow"]
MERGES = ["ingest", "upsert", "reapply"]
WORKLOADS = {
    "catalog_queries": CATALOG_QUERIES,
    "healthcare_etl": MERGES + REPLAYS,
}


@dataclass(frozen=True)
class Scale:
    sf: float  # analytics tables, sf0.1 = 600k lineitems
    csv_rows: int  # healthcare ingest batch, before planted duplicates
    pass_s: float  # nominal wall of one warm pass, sets the pass count


#: After the cold pass the JVM keeps getting faster for two to four
#: passes, and the host's CPU steal comes in bursts that slow whole
#: passes by up to 2x. The first quartile of an operation's timed walls
#: sees through both: the later, warmer passes win, and so do the
#: undisturbed ones. At ``--seconds 24``: 6 timed passes of ~5 s and 3
#: of ~9.3 s.
FULL = {
    "catalog_queries": Scale(sf=0.01, csv_rows=0, pass_s=4.0),
    "healthcare_etl": Scale(sf=0.01, csv_rows=2_000, pass_s=8.0),
}
SMOKE = Scale(sf=0.001, csv_rows=300, pass_s=1e9)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def csv_schema():
    from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                                   StructField, StructType)

    from datagen import CSV_COLUMNS

    typed = {"Age": IntegerType(), "Billing Amount": DoubleType(),
             "Room Number": IntegerType()}
    return StructType([StructField(c, typed.get(c, StringType())) for c in CSV_COLUMNS])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Bench:
    """One run: the session, the inputs, the operations and their
    outcomes."""

    def __init__(self, workload: str, scale: Scale, seed: int, trace: bool):
        self.workload = workload
        self.scale = scale
        self.rng = random.Random(seed)
        self.seed = seed
        self.trace = trace
        self.data = os.path.join(SCRATCH, "data")
        self.tables = os.path.join(SCRATCH, "tables")
        self.bench_s = 0.0  # benchmark-side work kept out of setup_s
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.collected = {}
        self.timed: dict[str, list[tuple[float, bool]]] = {}  # op -> (wall, ok)
        self.tracer = None

    # -- inputs -------------------------------------------------------------
    def make_inputs(self) -> None:
        import checks
        import datagen

        t = time.perf_counter()
        datagen.analytics_tables(self.data, self.scale.sf, self.seed)
        if self.workload == "healthcare_etl":
            self.csv = datagen.healthcare_batches(
                os.path.join(SCRATCH, "csv"), self.scale.csv_rows, self.seed)
            ref_a = checks.reference_tables(self.csv[0])
            ref_b = checks.reference_tables(self.csv[1])
            ref_ab, counts_b = checks.merge_reference(ref_a, ref_b)
            _, counts_again = checks.merge_reference(ref_ab, ref_b)
            self.expect = {
                "ingest": (ref_a, {t: (0, len(ref_a[t])) for t in ref_a}),
                "upsert": (ref_ab, counts_b),
                "reapply": (ref_ab, counts_again),
            }
            self.batch_rows = [len(checks.read_batch(p)) for p in self.csv]
        self.bench_s += time.perf_counter() - t

    # -- session ------------------------------------------------------------
    def start_session(self):
        from projet5_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SLOTS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(SCRATCH, 'tmp')}",
                "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        if self.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark, SLOTS)

    # -- operations ---------------------------------------------------------
    def _hygiene(self) -> int:
        from projet5_spark.operators.materialize import (
            release_persistent_rdds, sweep_checkpoint_scratch)

        gc.collect()
        released = release_persistent_rdds(self.spark)
        sweep_checkpoint_scratch(self.spark)
        return released

    def catalog(self, name: str, collect: bool) -> float:
        """Build the entry and run it: collected to pandas for the oracle
        check (the cold pass), else to the ``noop`` sink."""
        from projet5_spark.plans import QUERIES

        tr = self.tracer
        rec = {"streaming": name in REPLAYS}
        t0 = time.perf_counter()
        if tr:
            j0 = tr.job_mark()
            with tr.py4j.window():
                t = time.perf_counter()
                df = QUERIES[name](self.spark, self.data)
                rec["build_s"] = time.perf_counter() - t
            rec["py4j_calls"] = tr.py4j.count
            j1 = tr.job_mark()
            rec["build_jobs"] = j1 - j0
            rec.update(tr.plan_shape(df))
        else:
            df = QUERIES[name](self.spark, self.data)
        t = time.perf_counter()
        if collect:
            self.collected[name] = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        rec["exec_s"] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        del df
        released = self._hygiene()
        if tr:
            rec.update(jobs_window=(j0, tr.job_mark()), wall_s=wall,
                       released_rdds=released)
            tr.ops.append(rec)
        return wall

    def merge(self, kind: str) -> float:
        """One healthcare batch: CSV scan, reference pipeline, and a
        ``merge_upsert`` into each of the two tables. ``ingest`` loads
        the first batch into empty tables; ``upsert`` merges the second
        batch; ``reapply`` merges the second batch again."""
        import checks
        from projet5_spark.plans.healthcare import (
            ADMISSION_KEY, PATIENT_KEY, healthcare_pipeline)
        from projet5_spark.sources.readers import read_csv, read_parquet
        from projet5_spark.sources.writers import merge_upsert

        csv = self.csv[0 if kind == "ingest" else 1]
        if kind == "ingest":
            shutil.rmtree(self.tables, ignore_errors=True)
        paths = {t: os.path.join(self.tables, t) for t in ("patients", "admissions")}
        tr = self.tracer
        rec = {}
        t0 = time.perf_counter()
        if tr:
            j0 = tr.job_mark()
        with tr.py4j.window() if tr else contextlib.nullcontext():
            raw = read_csv(self.spark, csv, schema=csv_schema())
            rec["read_csv_s"] = time.perf_counter() - t0
            res = healthcare_pipeline(raw)
            rec["build_s"] = time.perf_counter() - t0
        if tr:
            rec["py4j_calls"] = tr.py4j.count
            j1 = tr.job_mark()
            rec["build_jobs"] = j1 - j0
            shape = tr.plan_shape(res.admissions)
            for k, v in tr.plan_shape(res.patients).items():
                shape[k] += v
            rec.update(shape)
        t = time.perf_counter()
        counts = {
            "patients": merge_upsert(self.spark, res.patients, paths["patients"], PATIENT_KEY),
            "admissions": merge_upsert(self.spark, res.admissions, paths["admissions"],
                                       ADMISSION_KEY),
        }
        rec["exec_s"] = rec["merge_s"] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        del raw, res
        released = self._hygiene()
        if tr:
            rec.update(jobs_window=(j0, tr.job_mark()), wall_s=wall,
                       released_rdds=released)
            t = time.perf_counter()
            for p in paths.values():
                read_parquet(self.spark, p).count()
            rec["readback_s"] = time.perf_counter() - t
            applied = [self.csv[0]] + [self.csv[1]] * (MERGES.index(kind))
            rec["bytes_at_rest"] = sum(dir_bytes(p) for p in paths.values()) / sum(
                os.path.getsize(p) for p in applied)
            rec["batch_rows"] = self.batch_rows[0 if kind == "ingest" else 1]
            rec["batch_bytes"] = os.path.getsize(csv)
            tr.ops.append(rec)

        t = time.perf_counter()
        want, want_counts = self.expect[kind]
        got = checks.read_tables(self.tables)
        problems = [
            f"{kind}: merge_upsert({t}) returned {counts[t]}, reference {want_counts[t]}"
            for t in counts if counts[t] != want_counts[t]
        ] + [f"{kind}: {p}" for p in checks.check_tables(got, want)]
        self.bench_s += time.perf_counter() - t
        if problems and kind == "reapply":
            # a re-applied batch must leave both tables as they were;
            # when it does not, the operation failed
            raise OpFailed("; ".join(problems), wall)
        self.problems += problems
        return wall

    def run_op(self, op: str, phase: str) -> None:
        """Run one operation; ``phase`` is ``cold`` or ``timed``, and
        only timed operations enter the metrics."""
        self.attempted += 1
        t = time.perf_counter()
        ok = True
        try:
            if op in MERGES:
                wall = self.merge(op)
            else:
                wall = self.catalog(op, collect=phase == "cold")
        except OpFailed as e:
            ok, wall = False, e.wall
            log(f"operation {op} failed: {e.args[0][:500]}")
        except Exception:
            ok, wall = False, time.perf_counter() - t
            log(f"operation {op} raised:\n{traceback.format_exc()}")
        self.failed += not ok
        log(f"{phase} {op} {wall:.3f}s{'' if ok else ' failed'}")
        if phase == "timed":
            self.timed.setdefault(op, []).append((wall, ok))

    def warm_walls(self) -> tuple[list[float], list[bool]]:
        """Each operation's warm wall, the first quartile of its timed
        walls (the best one when it ran fewer than three times, where
        the quartile would fall below it), and whether it succeeded
        every time it was timed."""
        walls = [[w for w, _ in runs] for runs in self.timed.values()]
        return ([statistics.quantiles(w, n=4)[0] if len(w) > 2 else min(w)
                 for w in walls],
                [all(ok for _, ok in runs) for runs in self.timed.values()])

    def pass_order(self) -> list[str]:
        ops = list(WORKLOADS[self.workload])
        if self.workload == "healthcare_etl":
            tail = ops[len(MERGES):]
            self.rng.shuffle(tail)
            return MERGES + tail
        self.rng.shuffle(ops)
        return ops

    # -- checks -------------------------------------------------------------
    def check_catalog(self) -> None:
        import checks
        from projet5_spark.plans import ORACLE

        con = checks.duck_connection(self.data)
        for name, got in self.collected.items():
            want = con.execute(ORACLE[name]).fetchdf()
            self.problems += checks.compare_frames(got, want, name)
        con.close()


class OpFailed(Exception):
    """An operation ran but did not do what it must (counted in
    ``failed``, not in ``correct``)."""

    def __init__(self, msg: str, wall: float):
        super().__init__(msg)
        self.wall = wall


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from layers import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    alive = kids
    while alive:
        alive = [p for p in alive if _running(p)]
        if alive and time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    if importlib.util.find_spec("projet5_spark") is None:
        log("projet5_spark is not importable: run from the repository root")
        return 2

    shutil.rmtree(SCRATCH, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(SCRATCH, d))
    b = Bench(args.workload, SMOKE if args.smoke else FULL[args.workload],
              args.seed, bool(args.trace))
    b.make_inputs()
    b.start_session()
    try:
        if b.tracer:
            from layers import RssSampler

            sampler = RssSampler()
        for op in b.pass_order():
            b.run_op(op, "cold")
        setup_s = time.perf_counter() - T0 - b.bench_s
        if b.tracer:
            b.tracer.stream_events.clear()
            b.tracer.ops.clear()
        # a fixed number of whole passes, so every run does the same work
        for _ in range(max(1, math.ceil(args.seconds / b.scale.pass_s))):
            for op in b.pass_order():
                b.run_op(op, "timed")
        warm_s, warm_ok = b.warm_walls()
        # goodput of one pass at each operation's warm wall: operations
        # that succeeded per second, failed ones' wall included
        ops_per_s = sum(warm_ok) / sum(warm_s)
        if b.tracer:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            layers = b.tracer.summarize(ops_per_s, sampler.stop(), b.session_s)
        b.check_catalog()
    finally:
        stop_spark(b.spark)
    for p in b.problems:
        log(f"check failed: {p}")

    if b.tracer:
        from layers import LAYER_METRICS

        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in LAYER_METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": ops_per_s, "unit": "ops/s"},
            # a failed operation counts as slower than any other
            "op_p50_s": {"value": statistics.median(
                w if ok else math.inf for w, ok in zip(warm_s, warm_ok)), "unit": "s"},
        }
    print(json.dumps({
        "correct": not b.problems,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    # inputs, Spark's local dirs and every temporary file stay inside
    # the run's scratch directory
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    sys.path.insert(0, ROOT)
    sys.exit(main())
