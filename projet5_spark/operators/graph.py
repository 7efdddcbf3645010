"""Iterative graph operators: connected components by min-label
propagation — the clustering step of near-duplicate dedup (every doc in
a near-dup cluster collapses to one representative).

Iterative algorithms are where declarative-only engines stop; Spark's
loop-outside-the-plan idiom covers them: each round is a join+aggregate
(fully optimized by Catalyst), the driver only checks convergence. For
bounded-diameter graphs (near-dup clusters are small cliques), rounds ≈
cluster diameter. At 100 TB the per-round shuffle is keyed on node id —
the same partitioning every round, so with persisted labels the shuffle
of the (static) edge table is the only recurring cost.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import footer

_log = logging.getLogger("projet5_spark.run")


def _release_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint``'d frame's blocks.

    ``DataFrame.unpersist()`` only touches CacheManager entries — the
    checkpoint blocks belong to the plan's underlying ``LogicalRDD``.
    Reach that RDD through the analyzed plan and unpersist it directly
    so iterative loops return memory deterministically instead of
    waiting for the ContextCleaner's next periodic GC (30 min on an
    untuned session). Falls back silently to the cleaner if the plan
    shape ever stops being a bare LogicalRDD."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - depends on internal plan API
        pass


def _parquet_rows(df: DataFrame) -> int | None:
    """Row count of a parquet-scan-leaf DataFrame from its files'
    footers (``sources.footer``, ~1 ms for a local scratch checkpoint),
    or None when the scan has no input files, more than
    ``footer.MAX_PARTS`` of them, or any remote/unreadable one —
    callers fall back to a count job."""
    files = df.inputFiles()
    if not files or len(files) > footer.MAX_PARTS:
        # no files: not a file-scan leaf (e.g. a localCheckpointed
        # frame) — 0 here would silently force small=True and
        # broadcast an arbitrarily large table; report "unknown"
        return None
    counts = [footer.row_count(f) for f in files]
    return None if None in counts else sum(counts)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns ``(node, component)`` where component = the minimum node id
    reachable from ``node``. Deterministic. Nodes = every endpoint in
    ``edges`` (isolated nodes are trivially their own component — add
    them downstream if needed).
    """
    # localCheckpoint (not just persist): the edge list is re-joined
    # every round, and each round's convergence count re-ANALYZES the
    # full logical tree even when execution hits the cache — with a
    # deep upstream lineage (e.g. the DF-capped Jaccard pipeline) that
    # driver-side analysis dominates the loop. Checkpointing truncates
    # the lineage to a materialized scan, making every round's plan
    # constant-size. (persist alone measured 7s → 2s; checkpoint cuts
    # the remaining per-round analysis cost.)
    session = edges.sparkSession
    if session.conf.get("spark.cleaner.periodicGC.interval", None) is None:
        _log.warning(
            "connected_components: spark.cleaner.periodicGC.interval is "
            "unset; any localCheckpoint blocks the explicit release "
            "below cannot reach will linger until an untuned JVM GC "
            "(the engine session factory pins the interval to 15s)"
        )
    # materialize the directed edge list BEFORE symmetrizing: the union
    # references `edges` twice, and Spark evaluates each branch's
    # subtree independently — with an expensive upstream (the Jaccard
    # candidate pipeline) that doubled its work and spill (x20 docs
    # stress: 16.1 GB here vs 7.8 GB for the pipeline run once). The
    # edge list itself is pair-scale, so the materialized data is
    # small — but HOW it is materialized matters: routing the
    # producing plan through localCheckpoint's block-cache build made
    # the upstream pair aggregates spill 2.2 GB at x20 docs where the
    # identical plan under a plain action runs spill-free (measured
    # round 10), so the expensive upstream goes through a parquet
    # round-trip (operators/materialize.py) — plain write action,
    # lineage truncated by the scan, scratch deleted on convergence.
    from .materialize import parquet_checkpoint

    e0, release_e0 = parquet_checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
        label="cc-edges",
    )
    sym = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # read the footer count BEFORE releasing the scratch — the r12 form
    # read it after release_e0() had deleted the files, so the fast path
    # never fired and every call still paid the count job (r13 fix)
    e0_rows = _parquet_rows(e0)
    release_e0()
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    # small-graph fast path: broadcast the label table into each round's
    # joins — zero shuffles per round except one AQE-coalesced aggregate.
    # (An unknown driver session may run 200 shuffle partitions; without
    # this, every round pays hundreds of empty tasks.) Past the
    # threshold, fall back to plain shuffled joins. The pivot bound
    # comes from the edge scratch's parquet footer when readable
    # (|sym| ≤ 2·|e0| — a conservative bound is fine for a broadcast
    # pivot); else one count job (r12: saves a job per CC call).
    small = (
        2 * e0_rows < 5_000_000
        if e0_rows is not None
        else sym.count() < 5_000_000
    )
    hint = F.broadcast if small else (lambda df: df)

    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    # Block lifecycle: each superseded round's label checkpoint is
    # released EXPLICITLY below via its LogicalRDD handle (see
    # _release_checkpoint) — DataFrame.unpersist() can't reach those
    # blocks, and relying on the ContextCleaner alone makes memory
    # return a function of the session's periodicGC tuning.
    changed = -1
    prev_ckpt: DataFrame | None = None
    for _ in range(max_iter):
        # each node adopts min(own label, neighbors' labels)
        neighbor_min = (
            sym.join(hint(labels), sym.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nmin"))
        )
        # checkpoint per round: labels otherwise accumulate one nested
        # join per iteration, so round k pays O(k) analysis — quadratic
        # over the loop. The per-node changed flag rides in the same
        # projection (nmin < old component — NULL nmin filters out), so
        # convergence is one filter-count on the checkpointed frame
        # instead of the old new-vs-old re-join (r12: one join + one
        # broadcast build fewer per round, same count).
        new_labels = (
            labels.join(hint(neighbor_min), labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                (F.col("nmin") < F.col("component")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("__changed")).count()
        # the previous round's checkpoint is now fully consumed (this
        # round's join + count were its last readers) — drop its blocks
        if prev_ckpt is not None:
            _release_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels
        if changed == 0:
            break
    else:
        # downstream correctness (cluster representatives) depends on
        # full convergence — a chain longer than max_iter rounds would
        # silently mislabel, so fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter "
            f"(diameter of the largest component exceeds the cap)"
        )
    _release_checkpoint(sym)  # edge table: no readers after convergence
    return labels.drop("__changed")
