"""SparkSession factory.

The reference's runtime is a single-threaded pandas loop
(migration.py:235-236); here every run goes through one SparkSession
configured for the execution profile we want at scale:

- **AQE on** (runtime join-strategy switches, skew-join splitting,
  post-shuffle partition coalescing) so the same declarative plan adapts
  from the sf0.001 smoke fixture to a 1000-executor 100 TB run.
- **Arrow on** so the unavoidable Python paths (pandas UDFs,
  ``applyInPandas``/``mapInPandas``) move columnar batches, not pickled rows.
- **UTC session timezone** — fixtures carry tz-naive timestamps; pinning
  the session tz makes wall-clock-derived values (dates, window buckets)
  deterministic across hosts and match the DuckDB oracle.
- **Shuffle partitions sized to the box** in local mode; on a real cluster
  AQE coalescing makes the initial number a ceiling, not a knob to tune
  per query.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "projet5-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    pass the cluster master / rely on spark-submit and only the SQL confs
    below apply.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # one shuffle partition per core: at local/bench scale more just
        # adds task-scheduling overhead (measured ~10% slower at 2×);
        # on a cluster AQE coalescing makes this a ceiling, so size it
        # to total executor cores there.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # instrumentation reads the status store for run stats; the
        # default 1000-stage retention evicts mid-bench (58 queries x 4
        # executions), silently truncating the totals — retain enough
        # for a full bench run (stage rows are tiny)
        .config("spark.ui.retainedStages", "20000")
        .config("spark.ui.retainedJobs", "20000")
        # Long-lived sessions run hundreds of distinct queries; the
        # ContextCleaner only drives broadcast/shuffle cleanup off JVM
        # GC, and its default periodic GC is 30min — stale broadcast
        # blocks pile up and visibly degrade later queries (measured
        # 3-10× slowdowns after ~100 executions). Tighten it.
        .config("spark.cleaner.periodicGC.interval", "15s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable determinism + perf confs on a session we
    didn't build.

    The correctness driver passes us *its* session; session timezone is a
    runtime SQL conf, so setting it here is safe and makes date/window
    derivations reproducible (and oracle-comparable) regardless of host tz.

    Perf confs are touched only when still at Spark's stock defaults
    (i.e. nobody tuned them deliberately): 200 shuffle partitions on a
    local box means hundreds of near-empty tasks per stage for our
    fixture-scale shuffles — correctness is unaffected either way, the
    wall-clock difference is ~2-5× on join-dense queries.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark


@contextmanager
def scoped_conf(
    spark: SparkSession, key: str, value: str | int | None
) -> Iterator[None]:
    """Set the runtime conf ``key`` to ``value`` for the body, then
    restore its old value, or unset it when it had none — also when the
    body raises. ``value=None`` leaves the conf alone.

    The conf is SESSION-GLOBAL while the body runs: a query another
    thread plans on the same session meanwhile inherits it, so this is
    not safe for concurrent builders (e.g. a thread pool building plans
    while a replay drains)."""
    if value is None:
        yield
        return
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
