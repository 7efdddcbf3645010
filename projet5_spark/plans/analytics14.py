"""Batch 16 operator battery — fuzzy matching and temporal rollups:
SymSpell-style deletion-neighborhood fuzzy join, time-weighted average
price (TWAP), and order-cycle-time percentiles.

Scale design notes:
- **SymSpell join** replaces the quadratic edit-distance comparison
  with an equi-join on deletion variants: a string of length L emits
  L+1 candidate keys, two strings within edit distance 1 MUST share
  one, and the exact distance check runs only on bucket-mates — the
  deletion-neighborhood trick that makes fuzzy dedup linear-ish. The
  variant shuffle carries short keys; per-key fan-out is bounded by
  how many real strings collide on a deletion.
- **TWAP** sorts only within (user, day) partitions — bounded, well-
  distributed windows — and folds to exact integer cents×microsecond
  products before the one division.
- **Cycle time** folds the fact table to per-order spans (entity
  scale) and takes exact interpolated percentiles per priority group;
  at 100 TB the same query runs on quantile sketches with a
  documented tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query


#: Per-variant fan-out cap for the SPLIT variant of
#: ``symspell_candidate_pairs`` (cap>0): a deletion variant shared by
#: more than this many keys is "hot" and routed through the
#: position-exact completion instead of the plain variant self-join,
#: keeping rare-path fan-out at <= cap^2/2 per variant. The default
#: mode (cap=0) is position-exact everywhere and needs no cap — its
#: fan-out is bounded by the true-match cluster size. The sf0.01
#: fixture's densest bucket holds 29 keys > this cap, so the split
#: mode's hot path is exercised by the planted tests.
_SYMSPELL_VARIANT_CAP = 16


def _symspell_variant_rows(names: DataFrame) -> DataFrame:
    """(k, pos, v) rows: pos 0 is the identity (v = the name itself),
    pos i >= 1 the variant with character i deleted. Positions are kept
    (not ``array_distinct``-collapsed) because the hot-path completion
    joins on (v, pos)."""
    return names.select(
        "k",
        F.posexplode(
            F.concat(
                F.array(F.col("name")),
                F.expr(
                    "transform(sequence(1, length(name)), i -> "
                    "concat(substring(name, 1, i - 1), "
                    "substring(name, i + 1, length(name))))"
                ),
            )
        ).alias("pos", "v"),
    )


def _position_exact_pairs(rows: DataFrame) -> DataFrame:
    """Candidate pairs from (k, pos, v) variant rows via the
    position-exact joins. Every candidate is a TRUE distance<=1 pair:

    * same-(v, pos) join — a same-length pair at distance 1 differs at
      exactly one position p, and deleting p from both sides yields the
      SAME variant at the SAME position, so it always shares (v, p);
      conversely, same-(v, pos) bucket-mates differ only at that
      position. Two keys with an identical name share (name, 0).
    * identity-vs-deletion join on v — an insert/delete pair's shorter
      string IS the shared variant, emitted at pos 0 by itself and at
      pos >= 1 by the longer string; such a candidate differs by the
      one deleted character.

    So the join cost here equals the output's own size — quadratic only
    where the answer itself is quadratic (a flood of same-position
    spelling variants), never lev-2 false-candidate fan-out."""
    # both joins MERGE-pinned: every side is entity-PROPORTIONAL
    # (names × variants), so a size-based broadcast is never scale-safe
    # (a narrower keying experiment showed AQE will promote the 15M-row
    # identity side to broadcast and OOM the driver when its byte
    # estimate dips), and a shuffle-hash build of the variant relation
    # OOMs per-partition where sort-merge spills gracefully
    a, b = rows.alias("a"), rows.alias("b").hint("merge")
    samepos = a.join(
        b,
        (F.col("a.v") == F.col("b.v"))
        & (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.k") < F.col("b.k")),
    ).select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
    ident = rows.where(F.col("pos") == 0).select("k", "v")
    dels = rows.where(F.col("pos") > 0).select("k", "v")
    ins_del = (
        ident.alias("a")
        .hint("merge")
        .join(dels.alias("b"), (F.col("a.v") == F.col("b.v")) & (F.col("a.k") != F.col("b.k")))
        .select(
            F.least(F.col("a.k"), F.col("b.k")).alias("key_a"),
            F.greatest(F.col("a.k"), F.col("b.k")).alias("key_b"),
        )
    )
    return samepos.unionByName(ins_del)


def symspell_candidate_pairs(names: DataFrame, cap: int = 0) -> DataFrame:
    """Distinct (key_a, key_b) candidate pairs (key_a < key_b) covering
    every pair within edit distance 1, with per-join-key fan-out bounded
    by the TRUE-match cluster size — the information floor, stronger
    than any fixed cap.

    ``cap=0`` (default): position-exact generation for every variant
    (`_position_exact_pairs`) — candidates coincide exactly with the
    distance<=1 pair set, so no bucket can fan out beyond its own share
    of the answer. This is the 100 TB path AND the fastest measured
    variant at fixture scale (sf0.1 medians: 3.9 s vs 4.3 s for the
    split below vs 3.4 s for the uncapped plain join that a hot variant
    would blow up at scale).

    ``cap>0``: the DF-split variant mirroring the near-dup family
    (llm.py `_split_shingles_by_df`) — plain self-join on the variant
    string for "rare" buckets (<= cap keys; fan-out <= cap^2/2 per
    variant, fewer shuffled rows since pos is dropped), position-exact
    completion for hot buckets. Useful when variant rows dominate cost
    (very short strings) and false-candidate fan-out is known-bounded.

    Completeness (either mode): a distance<=1 pair shares >= 1 variant;
    a same-length pair shares it at the same deleted position, an
    insert/delete pair shares the shorter string itself, so the
    position-exact joins find it; in split mode a rare shared variant
    is found by the rare join and a hot one by the completion. Proven
    against a planted 40-key hot bucket in tests/test_symspell_cap.py
    at caps 0, 1, 16, and 10000.

    Negative result recorded so it is not retried: swapping the join
    key for ``xxhash64(variant)`` (narrower rows, long-compare sorts)
    left the x100 wall and its ~22.5 GB spill unchanged — the working
    set is the candidate/name pipeline, not the variant-string sort —
    while making AQE size-estimate the 15M-row identity side as
    broadcastable (driver OOM). The joins keep the string keys, now
    MERGE-pinned: every side is entity-proportional, so a size-based
    broadcast is never scale-safe.

    Side effect: building the plan MATERIALIZES the variant relation
    (``localCheckpoint(eager=True)`` — Spark jobs run at call time, and
    lineage is truncated, so losing the caching executors means
    recomputation is impossible rather than slow). Call it when you
    will actually execute the result. The repartition width comes from
    ``spark.sql.shuffle.partitions`` (the user/AQE-facing width knob,
    meaningful under dynamic allocation), falling back to
    ``defaultParallelism`` only if that conf is unreadable.
    """
    rows = _symspell_variant_rows(names)
    spark = names.sparkSession
    try:
        n_wide = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # e.g. conf set to "auto" under AQE
        n_wide = spark.sparkContext.defaultParallelism
    if cap <= 0:
        # materialize once: the position-exact joins read the variant
        # relation four times (samepos probe+build, identity, deletion
        # sides), and each broadcast build is a blocking sub-job that
        # would otherwise re-run the scan + posexplode pipeline. The
        # pinned repartition supplies the dedup aggregate's required
        # distribution at full width — the pair set is small in BYTES,
        # so the aggregate's own exchange would be AQE-coalesced to 1-2
        # partitions — and every downstream consumer (the levenshtein
        # verify) inherits that width for free.
        return (
            _position_exact_pairs(rows.localCheckpoint(eager=True))
            .repartition(n_wide, "key_a", "key_b")
            .dropDuplicates()
        )
    # Split mode: materialize once — the bucket-count aggregate, both
    # rare join sides, and the hot subset re-read the materialized rows
    # instead of re-running the posexplode pipeline ~5x.
    rows = rows.localCheckpoint(eager=True)
    kv = rows.select("k", "v").distinct()
    hot = (
        kv.groupBy("v")
        .agg(F.count(F.lit(1)).alias("nk"))
        .where(F.col("nk") > F.lit(cap))
        .select("v")
    )
    rare_kv = kv.join(hot, "v", "left_anti")
    ra, rb = rare_kv.alias("a"), rare_kv.alias("b")
    rare_pairs = ra.join(
        rb, (F.col("a.v") == F.col("b.v")) & (F.col("a.k") < F.col("b.k"))
    ).select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
    # (k, pos, v) rows are already distinct — posexplode emits each
    # position once per key — so no dedup shuffle is needed here; the
    # final pair-level distinct absorbs multi-variant double-hits.
    hot_rows = rows.join(hot, "v").select("k", "pos", "v")
    return (
        rare_pairs.unionByName(_position_exact_pairs(hot_rows))
        .repartition(n_wide, "key_a", "key_b")
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# SymSpell-style fuzzy name match (edit distance <= 1)
# --------------------------------------------------------------------------


@query(
    "symspell_fuzzy_name_match",
    oracle="""
    WITH vars AS (
      SELECT c_custkey AS k, v
      FROM (
        SELECT c_custkey,
               unnest(list_distinct(
                 [c_name] || [substr(c_name, 1, i - 1) || substr(c_name, i + 1)
                              FOR i IN range(1, len(c_name) + 1)])) AS v
        FROM customer)),
    cand AS (
      SELECT DISTINCT a.k AS key_a, b.k AS key_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.k < b.k),
    named AS (
      SELECT key_a, key_b, ca.c_name AS name_a, cb.c_name AS name_b
      FROM cand
      JOIN customer ca ON key_a = ca.c_custkey
      JOIN customer cb ON key_b = cb.c_custkey)
    SELECT CAST(key_a AS BIGINT) AS key_a, CAST(key_b AS BIGINT) AS key_b,
           name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
    FROM named WHERE levenshtein(name_a, name_b) <= 1
    ORDER BY key_a, key_b
    """,
)
def symspell_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match of customer names within edit distance 1 via the
    SymSpell deletion-neighborhood: each name emits itself plus its L
    single-deletion variants as candidate keys, strings within distance
    1 are guaranteed to share a variant, and the exact ``levenshtein``
    check runs only on bucket-mates — the standard way to make fuzzy
    dedup an equi-join instead of an all-pairs scan.

    The variant shuffle carries (short-string, key, position) rows —
    L+1 per name; candidates dedup on the key pair before the distance
    filter so a pair sharing several variants verifies once. Candidate
    generation is position-exact (``symspell_candidate_pairs`` default):
    per-join-key fan-out is bounded by the true-match cluster size, so
    no variant bucket — the sf0.01 fixture's densest holds 29 keys —
    can blow up beyond its own share of the answer; the
    ``_SYMSPELL_VARIANT_CAP`` DF-split variant remains available and
    planted-tested for short-string corpora."""
    from .llm import _spread

    # _spread: the variant generation (an interpreted transform() HOF,
    # L+1 substring-concats per name) otherwise runs on the customer
    # file's single input split — once per consumer of the variant
    # relation; at real scale the scan is already multi-split
    c = _spread(
        spark,
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"), F.col("c_name").alias("name")
        ),
    )
    # the shuffle carries (variant, key) only — names re-attach after
    # the pair set is distinct, so no text amplifies through the join;
    # the candidate relation arrives width-pinned (see
    # symspell_candidate_pairs), so the broadcast name joins and the
    # per-pair levenshtein verify run at full parallelism
    cand = symspell_candidate_pairs(c)
    ca = c.select(F.col("k").alias("key_a"), F.col("name").alias("name_a"))
    cb = c.select(F.col("k").alias("key_b"), F.col("name").alias("name_b"))
    lev = F.levenshtein("name_a", "name_b")
    return (
        cand.join(ca, "key_a")
        .join(cb, "key_b")
        .where(lev <= 1)
        .select(
            F.col("key_a").cast("long").alias("key_a"),
            F.col("key_b").cast("long").alias("key_b"),
            "name_a",
            "name_b",
            lev.cast("long").alias("lev"),
        )
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# Time-weighted average value (TWAP) per user-day
# --------------------------------------------------------------------------


@query(
    "twap_event_values_daily",
    oracle="""
    WITH pts AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             epoch_us(ts) AS us,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      FROM events),
    spans AS (
      SELECT user_id, day, cents,
             lead(us) OVER (PARTITION BY user_id, day ORDER BY us, cents)
               - us AS dur_us
      FROM pts),
    agg AS (
      SELECT user_id, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents * dur_us) AS BIGINT) AS wsum,
             CAST(sum(dur_us) AS BIGINT) AS wtot
      FROM spans WHERE dur_us IS NOT NULL
      GROUP BY user_id, day)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
           CAST(floor(CAST(wsum AS DOUBLE) / wtot) AS BIGINT) AS twap_centi
    FROM agg WHERE wtot > 0
    ORDER BY user_id, day
    """,
)
def twap_event_values_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per (user, day) — the TWAP
    aggregation market-data and metering pipelines use: each reading is
    weighted by how long it remained current (microseconds until the
    next reading that day); the day's last reading closes the window.

    The ``lead`` window partitions by (user, day) — bounded, evenly
    distributed state, never a global sort — and everything after it is
    one hash aggregate over exact integers: cents × microsecond
    products summed as BIGINT, one final division. The (us, cents)
    window order is a total order for same-microsecond readings, so
    both engines pick identical spans."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("us", "cents")
    spans = pts.select(
        "user_id", "day", "cents", (F.lead("us").over(w) - F.col("us")).alias("dur_us")
    ).where(F.col("dur_us").isNotNull())
    return (
        spans.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # cents × µs-duration ≈ 1e16 per span — the BIGINT sum
            # crosses 2⁶³ within a few hundred spans of a hot user-day
            # under ANSI checking; decimal → the same floored ratio
            F.sum(
                F.col("cents").cast("decimal(19,0)")
                * F.col("dur_us").cast("decimal(19,0)")
            ).alias("wsum"),
            F.sum("dur_us").cast("long").alias("wtot"),
        )
        .where(F.col("wtot") > 0)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.floor(F.col("wsum").cast("double") / F.col("wtot"))
            .cast("long")
            .alias("twap_centi"),
        )
        .orderBy("user_id", "day")
    )


# --------------------------------------------------------------------------
# Order cycle-time percentiles by priority
# --------------------------------------------------------------------------


@query(
    "cycle_time_percentiles_by_priority",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS days
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate)
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(quantile_cont(days, 0.50) * 1e4) / 1e4 AS p50_days,
           floor(quantile_cont(days, 0.90) * 1e4) / 1e4 AS p90_days,
           floor(quantile_cont(days, 0.99) * 1e4) / 1e4 AS p99_days
    FROM spans
    GROUP BY priority
    ORDER BY priority
    """,
)
def cycle_time_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-last-shipment cycle time percentiles (p50/p90/p99, exact
    linear interpolation) per order priority — the SLA latency rollup:
    does URGENT actually ship faster, and what does the tail look like?

    The fact table folds to one integer day-span per order before the
    percentile pass, and the percentiles come from
    ``grouped_exact_quantiles`` — bit-identical to ``F.percentile`` /
    DuckDB ``quantile_cont`` linear interpolation on those exact
    integers (floored to 4dp), but with ranking state bounded by the
    day-span DOMAIN per priority rather than buffering every span in
    one JVM aggregate buffer, so the exact form survives 100 TB (a
    per-group sketch remains the cheaper-still option; see
    ``quantile_sketch_verdict_prices`` for the certified pattern).

    The per-order max ship date is aggregated BELOW the join (Catalyst
    does not push aggregates through joins itself): the close date
    depends only on l_orderkey, so the join carries the 4x-smaller
    per-order relation instead of fact-width rows. Measured x100: the
    sort working set moves from the join into the pre-aggregate
    shuffle (~same spilled bytes — the fact must be folded either
    way); warm sf0.1 drops 1.38 -> 1.15 s."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # pre-shuffle before the per-order fold (the q18/packed_min_dedup
    # trade): ~4 lineitems per order means map-side combine barely
    # reduces the shuffle while its hash map holds every touched group
    # — that map was this query's 5.9 GB x100 spill; post-shuffle each
    # task owns only its own groups (x100: zero spill)
    closes = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .repartition("l_orderkey")
        .groupBy(F.col("l_orderkey"))
        .agg(F.max("l_shipdate").alias("close_d"))
    )
    spans = o.join(closes, o.o_orderkey == closes.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("close_d", "o_orderdate").alias("days"),
    )
    # grouped_exact_quantiles: bit-identical to F.percentile without
    # buffering every span per group (the day-span DOMAIN bounds the
    # ranking state instead)
    from ..operators.quantiles import grouped_exact_quantiles

    qt = grouped_exact_quantiles(
        spans,
        ["priority"],
        "days",
        {"p50": 0.50, "p90": 0.90, "p99": 0.99},
        count_col="n_orders",
    )

    def grid(c: str, name: str):
        return (F.floor(F.col(c) * F.lit(1e4)) / F.lit(1e4)).alias(name)

    return qt.select(
        "priority",
        "n_orders",
        grid("p50", "p50_days"),
        grid("p90", "p90_days"),
        grid("p99", "p99_days"),
    ).orderBy("priority")
