"""Exact distributed quantiles without per-group value buffering.

``F.percentile`` (exact interpolated percentile) is an
ObjectHashAggregate that holds EVERY value of a group in one in-memory
JVM buffer — per-group state grows linearly with the data, which both
super-linearizes wall clock (measured in the x100 embeddings stress:
8.1 s at 40k vectors → 90.1 s at 200k for the per-dim scaler fit) and
guarantees an eventual OOM at real scale. The sketch aggregates
(``approx_percentile``) are the bounded-state answer when tolerance is
acceptable; this module is the bounded-state answer when the result
must stay EXACT (oracle-paired queries, billing-grade stats):

1. **Fold to distinct values.** ``groupBy(keys, value).count()`` — a
   map-side-combinable aggregate whose output is bounded by the value
   DOMAIN per group (distinct cents / day counts / token lengths), not
   by row count. For fact tables this is typically a 10³–10⁶× fold.
2. **Locate rank brackets.** One cumulative-count window over the
   sorted distinct values per group (Tungsten external sort — spills,
   never OOMs). A type-7 quantile at fraction q needs the values at
   0-indexed ranks ``floor(pos)`` / ``ceil(pos)`` where
   ``pos = q·(n−1)``; a distinct-value row covers rank r iff
   ``prev_cum ≤ r < cum``.
3. **Interpolate exactly like Spark.** Only the ≤ 2·|qs| bracket rows
   per group survive to a tiny final aggregate applying
   ``Percentile``'s own formula ``(ceil−pos)·v[floor] +
   (pos−floor)·v[ceil]`` verbatim in double — results are
   bit-identical to ``F.percentile`` (same double ops, same order;
   asserted by tests/test_quantiles.py on random data with ties).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_exact_quantiles(
    df: DataFrame,
    keys: list[str],
    value: str,
    qs: Mapping[str, float],
    count_col: str | None = None,
    disc_qs: Mapping[str, float] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Exact type-7 (``F.percentile``-convention) quantiles of ``value``
    per ``keys`` group, with bounded executor state at any data size.

    ``qs`` maps output column name → fraction in [0, 1]; ``q=0.0`` /
    ``q=1.0`` are the exact min / max, so callers needing those get
    them from the same pass. Returns one row per group: ``keys`` +
    one DOUBLE column per ``qs`` entry (callers apply their own output
    grids). ``count_col`` additionally emits the group's non-null row
    count as a LONG column of that name — callers that also need ``n``
    get it from this pass instead of re-scanning the input relation.
    ``disc_qs`` entries emit ``percentile_disc`` semantics instead —
    the smallest actually-occurring value whose cumulative distribution
    reaches q (0-indexed rank ``max(0, ceil(q·n)−1)``) — keeping the
    value's own type, since no interpolation happens.
    With ``keys=[]`` the result is a single global row — the
    window then runs single-partition, but over the DISTINCT-value
    relation, which stays domain-bounded when rows do not.

    NULL ``value`` rows are ignored (``F.percentile`` semantics); a
    group whose values are ALL null disappears from the output entirely
    (``F.percentile`` would emit the group with a NULL quantile — no
    current caller feeds all-null groups; filter upstream if that
    distinction matters).

    ``weight_col`` (r13): each input row counts ``weight_col`` times —
    the caller has PRE-FOLDED the fact table to (keys, value, count)
    rows, so the quantiles here equal the unweighted quantiles of the
    expanded multiset exactly (weights are repeat counts, rank
    arithmetic is identical). This lets a query fold its fact table
    ONCE and feed both the quantile pass and its own downstream
    aggregates from the folded relation, instead of re-scanning facts
    per pass. Weights must be positive integers.
    """
    w_expr = (
        F.count(F.lit(1)).cast("long")
        if weight_col is None
        else F.sum(weight_col).cast("long")
    )
    vc = (
        df.where(F.col(value).isNotNull())
        .groupBy(*keys, value)
        .agg(w_expr.alias("__c"))
    )
    # both frames share one (partition, order) spec so they evaluate in
    # a single WindowExec over a single sort
    wo = Window.partitionBy(*keys).orderBy(value)
    wv = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = (
        vc.withColumn("__cum", F.sum("__c").over(wv))
        .withColumn("__n", F.sum("__c").over(wt))
        .withColumn("__prev", F.col("__cum") - F.col("__c"))
    )

    # The bracket/interp expressions below are composed as SQL TEXT and
    # handed to F.expr in ONE py4j call each. The original Column-API
    # composition issued ~6,000 py4j round-trips per invocation
    # (every F.lit/operator/when is a driver socket round-trip) —
    # profiled at 1.7–2.0 s of pure plan-CONSTRUCTION latency for a
    # 9-decile call, dwarfing the query's executor time at bench scale
    # (r13; guide §4's JVM↔Python boundary, here on the driver). The
    # parsed expressions are the same Catalyst operators: double
    # literals carry the `D` suffix (a bare 0.25 would parse as
    # DECIMAL and change the arithmetic), repr() round-trips the
    # fraction bit-exactly, and the tests pin bit-identity to
    # F.percentile / percentile_disc.
    vq = f"`{value}`"

    def pos_sql(q: float) -> str:
        return f"(cast((__n - 1) as double) * {q!r}D)"

    def agg_pos_sql(q: float) -> str:
        # per-group constant re-derived from the aggregated n so the
        # expression survives the groupBy
        return f"(cast((max(__n) - 1) as double) * {q!r}D)"

    def covers_sql(rank: str) -> str:
        return f"(__prev <= {rank} AND {rank} < __cum)"

    def disc_rank_sql(q: float) -> str:
        return f"greatest(ceil(cast(__n as double) * {q!r}D) - 1, 0L)"

    keep_parts = []
    for q in qs.values():
        p = pos_sql(q)
        keep_parts.append(covers_sql(f"floor({p})"))
        keep_parts.append(covers_sql(f"ceil({p})"))
    for q in (disc_qs or {}).values():
        keep_parts.append(covers_sql(disc_rank_sql(q)))
    kept = r.where(F.expr(" OR ".join(keep_parts) or "false"))

    def interp_sql(q: float) -> str:
        p_row = pos_sql(q)
        v = f"cast({vq} as double)"
        lo = f"max(CASE WHEN {covers_sql(f'floor({p_row})')} THEN {v} END)"
        hi = f"max(CASE WHEN {covers_sql(f'ceil({p_row})')} THEN {v} END)"
        p = agg_pos_sql(q)
        return (
            f"CASE WHEN floor({p}) = ceil({p}) THEN {lo} "
            f"ELSE (cast(ceil({p}) as double) - {p}) * {lo} "
            f"+ ({p} - cast(floor({p}) as double)) * {hi} END"
        )

    aggs = [F.expr(interp_sql(q)).alias(name) for name, q in qs.items()]
    for name, q in (disc_qs or {}).items():
        aggs.append(
            F.expr(
                f"max(CASE WHEN {covers_sql(disc_rank_sql(q))} "
                f"THEN {vq} END)"
            ).alias(name)
        )
    if count_col is not None:
        aggs.append(F.expr("cast(max(__n) as bigint)").alias(count_col))
    return kept.groupBy(*keys).agg(*aggs)


#: internal columns attach_exact_quantiles stages on its input rows
_RESERVED = frozenset({"__cum", "__n", "__prev"})


def attach_exact_quantiles(
    df: DataFrame,
    keys: list[str],
    value: str,
    qs: Mapping[str, float],
    weight_col: str | None = None,
) -> DataFrame:
    """Attach each group's exact type-7 quantiles of ``value`` AS
    COLUMNS on every input row — the per-group-scalar attach that
    :func:`grouped_exact_quantiles` + a broadcast join-back needs two
    extra plan trees for, done inside the window pass instead (r13).

    Why: a query that computes a per-group quantile and then keeps
    processing the same relation (MAD outliers, decile binning)
    previously built the quantile as a SEPARATE aggregate and
    broadcast-joined it back — the quantile subtree re-ran the whole
    upstream (no exchange reuse across broadcast-subquery boundaries
    under AQE) and each broadcast build was its own sequential job.
    Attaching through the window keeps ONE straight-line pipeline:
    exchange on ``keys``, one sort by ``value``, two chained
    WindowExecs (prefix sums, then bracket extraction over the same
    partitioning — no second exchange, no sort), zero joins.

    Input grain: any — duplicate (keys, value) rows are fine. The
    row-level prefix sums split a duplicated value's mass across its
    copies in an arbitrary tie order, but every bracket rank lands on
    exactly one copy and every copy carries the same ``value``, so the
    partition-wide ``max(CASE WHEN covers(rank) ...)`` extraction is
    deterministic. Weights are repeat counts (non-negative integers —
    a zero-weight row collapses to prev == cum, never covers a rank
    and never shifts one, which is how a caller restricts the ranks to
    one arm of the data while attaching to all of it);
    ``weight_col=None`` weighs each row 1. NULL ``value`` rows must be
    filtered upstream (they would enter the rank arithmetic here —
    unlike grouped_exact_quantiles, this variant returns its input
    rows and cannot silently drop them).

    Reserved names: the window pass stages its prefix sums in the
    internal columns ``__cum``, ``__n`` and ``__prev``, so an input
    that already has one of them (in any letter case) raises
    ``ValueError`` instead of an ambiguous-reference analysis error.

    Returns ``df``'s columns plus one DOUBLE column per ``qs`` entry,
    bit-identical to ``F.percentile`` (same formula, same double ops;
    pinned by tests/test_quantiles.py). Same SQL-text composition as
    grouped_exact_quantiles — a handful of py4j calls, not thousands.

    Scale note: the window partitions by ``keys`` — per-group state is
    the sort spill (bounded, Tungsten external sort), but the ROW
    COUNT per group is the caller's input grain; feed a domain-folded
    (keys, value, count) relation, not raw facts, exactly as the
    grouped variant's step-1 fold does.
    """
    clash = sorted(_RESERVED & {c.lower() for c in df.columns})
    if clash:
        raise ValueError(
            f"attach_exact_quantiles: input columns {clash} collide with "
            f"its reserved internal columns {sorted(_RESERVED)}; rename "
            f"them first"
        )
    vq = f"`{value}`"
    part = ", ".join(f"`{k}`" for k in keys)
    by = f"PARTITION BY {part} " if keys else ""
    run = (
        f"OVER ({by}ORDER BY {vq} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    full = (
        f"OVER ({by}ORDER BY {vq} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    w = f"`{weight_col}`" if weight_col is not None else "1L"
    staged = df.selectExpr(
        "*",
        f"sum({w}) {run} AS __cum",
        f"sum({w}) {full} AS __n",
    ).selectExpr("*", f"(__cum - {w}) AS __prev")

    def covers_sql(rank: str) -> str:
        return f"(__prev <= {rank} AND {rank} < __cum)"

    def q_sql(q: float) -> str:
        p = f"(cast((__n - 1) as double) * {q!r}D)"
        v = f"cast({vq} as double)"
        lo = (
            f"max(CASE WHEN {covers_sql(f'floor({p})')} THEN {v} END) {full}"
        )
        hi = f"max(CASE WHEN {covers_sql(f'ceil({p})')} THEN {v} END) {full}"
        return (
            f"CASE WHEN floor({p}) = ceil({p}) THEN {lo} "
            f"ELSE (cast(ceil({p}) as double) - {p}) * {lo} "
            f"+ ({p} - cast(floor({p}) as double)) * {hi} END"
        )

    out_cols = [f"`{c}`" for c in df.columns] + [
        f"{q_sql(q)} AS `{name}`" for name, q in qs.items()
    ]
    return staged.selectExpr(*out_cols)


def decile_array_or_fail(qdf: DataFrame, cols: list[str], context: str) -> DataFrame:
    """Fold the quantile columns of a one-row global-quantile result
    into a single array column named ``qs`` — failing LOUDLY when the
    quantiles are NULL (the input arm was empty or all-NULL, so
    ``grouped_exact_quantiles`` with ``keys=[]`` emitted its one
    all-NULL row). Callers bin rows with
    ``size(filter(qs, q -> q < x))``, and an array of NULLs would
    silently place EVERY row in bin 0 — a wrong-but-plausible result
    the guard converts into an explicit error (ADVICE r7)."""
    arr = F.when(F.col(cols[0]).isNotNull(), F.array(*cols)).otherwise(
        F.raise_error(
            F.lit(
                f"{context}: quantile input arm is empty or all-NULL — "
                "decile bins are undefined"
            )
        )
    )
    return qdf.select(arr.alias("qs"))
