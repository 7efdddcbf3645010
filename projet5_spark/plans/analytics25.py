"""Batch 27 operator battery — sequential patterns & reporting
surfaces: eventually-follows support mining, KL divergence between
per-source distributions, calendar densification with zero-fill, and
rank-with-ties top-k.

Scale design notes:
- **Eventually-follows** is the 2-step sequential-pattern miner
  (process mining's follows-relation): sessions fold to one row per
  (session, event_type) carrying the FIRST occurrence time, so the
  ordered-pair join is bounded by |types|² per session regardless of
  session length.
- **KL divergence** compares each source's doc-length distribution to
  the corpus mixture over fixed buckets: two bucket-scale aggregates,
  log-ratios via the engine-invariant integer log on exact counts
  (Laplace-smoothed so no bucket is empty).
- **Densification** cross-joins a data-anchored calendar (bounded:
  days × types) against observed counts and zero-fills the holes —
  the report-feed shape; the cross join is calendar-scale, never
  fact-scale.
- **Rank-with-ties** contrasts ``rank() ≤ k`` (ties admit extra rows)
  with the catalog's row_number top-k family — the semantic a revenue
  leaderboard usually wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Eventually-follows support (2-step sequential patterns)
# --------------------------------------------------------------------------

_EF_GAP_US = 1_800_000_000  # same 30-min sessionizer as the bounce rate


@query(
    "eventually_follows_support",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT user_id, event_type, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {_EF_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    sess AS (
      SELECT user_id, event_type, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM marked),
    firsts AS (
      SELECT user_id, sid, event_type, min(us) AS first_us
      FROM sess GROUP BY user_id, sid, event_type),
    n_sess AS (SELECT CAST(count(*) AS BIGINT) AS total FROM
               (SELECT DISTINCT user_id, sid FROM firsts)),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM firsts a JOIN firsts b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.event_type <> b.event_type AND a.first_us < b.first_us
      GROUP BY a.event_type, b.event_type)
    SELECT type_a, type_b, n_sessions,
           CAST(floor(CAST(n_sessions AS DOUBLE) * 1e6 / total) AS BIGINT)
             AS support_micro
    FROM pairs CROSS JOIN n_sess
    ORDER BY type_a, type_b
    """,
)
def eventually_follows_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eventually-follows support — process mining's follows relation,
    the 2-step sequential-pattern miner: for each ordered type pair
    (A, B), the number and share of sessions where A's FIRST occurrence
    precedes B's — "users who err, then sign up" vs the reverse.

    Sessions fold to one row per (session, type) carrying the first
    occurrence, so the ordered-pair join is ≤ |types|² per session no
    matter how long the session; support normalizes by the session
    count. Same 30-minute sessionizer as ``session_bounce_rate_daily``
    (total-ordered windows, engine-identical)."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(wl)
    marked = pts.select(
        "user_id",
        "event_type",
        "us",
        "event_id",
        F.when(prev.isNull() | (F.col("us") - prev > _EF_GAP_US), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select(
        "user_id", "event_type", "us", F.sum("new_s").over(wr).alias("sid")
    )
    firsts = sess.groupBy("user_id", "sid", "event_type").agg(
        F.min("us").alias("first_us")
    )
    n_sess = (
        firsts.select("user_id", "sid")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
    )
    a, b = firsts.alias("a"), firsts.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.first_us") < F.col("b.first_us")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    return (
        pairs.join(F.broadcast(n_sess))
        .select(
            "type_a",
            "type_b",
            "n_sessions",
            F.floor(F.col("n_sessions").cast("double") * 1e6 / F.col("total"))
            .cast("long")
            .alias("support_micro"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# KL divergence of per-source doc-length distributions vs the corpus
# --------------------------------------------------------------------------

_KL_BUCKET = 100  # n_chars bucket width


@query(
    "kl_divergence_doc_lengths",
    oracle=f"""
    WITH b AS (
      SELECT source, n_chars // {_KL_BUCKET} AS bkt FROM documents),
    per AS (SELECT source, bkt, CAST(count(*) AS BIGINT) AS c FROM b
            GROUP BY source, bkt),
    src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM per
                GROUP BY source),
    n_bkts AS (SELECT CAST(count(DISTINCT bkt) AS BIGINT) AS k FROM b),
    corp AS (SELECT bkt, CAST(sum(c) AS BIGINT) AS cc FROM per GROUP BY bkt),
    corp_tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corp),
    grid AS (
      SELECT s.source, c.bkt,
             coalesce(p.c, 0) + 1 AS ps,
             st.ns + k AS ps_tot,
             c.cc + 1 AS pc,
             ct.nc + k AS pc_tot
      FROM (SELECT DISTINCT source FROM per) s
      CROSS JOIN corp c
      CROSS JOIN n_bkts
      CROSS JOIN corp_tot ct
      JOIN src_tot st ON s.source = st.source
      LEFT JOIN per p ON p.source = s.source AND p.bkt = c.bkt),
    terms AS (
      SELECT source,
             CAST(floor((CAST(ps AS DOUBLE) / ps_tot)
                        * (({ln_det_int_sql('ps')} - {ln_det_int_sql('ps_tot')})
                           - ({ln_det_int_sql('pc')} - {ln_det_int_sql('pc_tot')}))
                        * 1e9) AS BIGINT) AS t
      FROM grid)
    SELECT source, CAST(sum(t) AS BIGINT) AS kl_nano
    FROM terms GROUP BY source ORDER BY source
    """,
)
def kl_divergence_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's doc-length distribution from the
    corpus mixture — the distribution-drift metric that complements the
    catalog's PSI (binned ratio), KS (sup of ECDF gap), and chi-square
    (independence) batteries; KL is what mixture-rebalancing objectives
    actually minimize.

    Lengths bucket to a fixed width, counts Laplace-smooth (+1) so no
    bucket is empty, log-ratios evaluate as DIFFERENCES of the
    engine-invariant integer log on exact counts (ln(a/b) = ln a −
    ln b — no float division feeds the log), and each term floors onto
    a 1e-9 grid before the order-independent BIGINT sum. State is
    buckets × sources."""
    b = _t(spark, sf_dir, "documents").select(
        "source", F.floor(F.col("n_chars") / _KL_BUCKET).cast("long").alias("bkt")
    )
    per = b.groupBy("source", "bkt").agg(F.count(F.lit(1)).cast("long").alias("c"))
    src_tot = per.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    # same bucket set as b: every bucket survives the (source, bkt) agg
    n_bkts = per.agg(F.countDistinct("bkt").cast("long").alias("k"))
    corp = per.groupBy("bkt").agg(F.sum("c").cast("long").alias("cc"))
    corp_tot = corp.agg(F.sum("cc").cast("long").alias("nc"))
    sources = per.select("source").distinct()
    grid = (
        sources.crossJoin(F.broadcast(corp))
        .crossJoin(F.broadcast(n_bkts))
        .crossJoin(F.broadcast(corp_tot))
        .join(F.broadcast(src_tot), "source")
        .join(per.withColumnRenamed("c", "pc_raw"), ["source", "bkt"], "left")
        .select(
            "source",
            (F.coalesce(F.col("pc_raw"), F.lit(0)) + 1).alias("ps"),
            (F.col("ns") + F.col("k")).alias("ps_tot"),
            (F.col("cc") + 1).alias("pc"),
            (F.col("nc") + F.col("k")).alias("pc_tot"),
        )
    )
    term = F.floor(
        (F.col("ps").cast("double") / F.col("ps_tot"))
        * (
            (ln_det_int("ps") - ln_det_int("ps_tot"))
            - (ln_det_int("pc") - ln_det_int("pc_tot"))
        )
        * 1e9
    ).cast("long")
    return (
        grid.select("source", term.alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("kl_nano"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Calendar densification with zero-fill
# --------------------------------------------------------------------------


@query(
    "events_daily_densified_zero_fill",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
      FROM events),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    obs AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day)
    SELECT t.event_type, strftime(c.day, '%Y-%m-%d') AS day,
           coalesce(o.n, 0) AS n_events,
           o.n IS NULL AS zero_filled
    FROM cal c CROSS JOIN types t
    LEFT JOIN obs o ON o.event_type = t.event_type AND o.day = c.day
    ORDER BY t.event_type, day
    """,
)
def events_daily_densified_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (event_type × calendar day) count grid with explicit
    zero-fill — the report-feed densification that turns a sparse
    aggregate into the complete matrix a dashboard or forecasting
    model expects, with a flag marking which cells were backfilled.

    The calendar derives from the data's own min/max (one scalar
    aggregate), the cross join is calendar-scale (days × types), and
    the observed counts attach by left join — fact rows are touched
    exactly once, in the one grouped aggregate. The interpolating
    sibling is ``events_resample_interpolate``; this is the zero-fill
    (count semantics) form."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day")
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    obs = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        cal.crossJoin(F.broadcast(types))
        .join(obs, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("zero_filled"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Rank-with-ties top-k (vs row_number top-k)
# --------------------------------------------------------------------------


@query(
    "rank_with_ties_top_quantity_orders",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
           CAST(l_linenumber AS BIGINT) AS linenumber,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(rank() OVER (PARTITION BY l_orderkey
                             ORDER BY l_quantity DESC) AS BIGINT) AS rk
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    QUALIFY rk <= 2
    ORDER BY orderkey, rk, linenumber
    """,
)
def rank_with_ties_top_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 lineitems per order by quantity under RANK semantics: ties
    ADMIT extra rows (every lineitem tied with the second-ranked one
    appears, and a tied first makes rank 2 vanish entirely) — the
    leaderboard contract, vs the catalog's row_number top-k family
    (``window_top3_customers_per_nation``) which cuts exactly k rows
    and needs an arbitrary tie-break to be deterministic. Quantities
    draw from a 50-value integer domain, so within-order ties are
    plentiful and the divergent semantics actually fire.

    RANK over the quantity alone (no tie-break) is deterministic as a
    SET precisely because ties share a rank; the final ORDER BY adds
    the row-level total order only for output comparison. The ``rk ≤
    2`` predicate is a WindowGroupLimit; the key-mod filter keeps the
    exhibit row-bounded (DuckDB spells the post-window filter
    ``QUALIFY``, Spark a filter over the windowed projection — same
    plan)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 20 == 0)
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_quantity"))
    return (
        li.select(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.col("l_linenumber").cast("long").alias("linenumber"),
            F.col("l_quantity").cast("long").alias("qty"),
            F.rank().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 2)
        .orderBy("orderkey", "rk", "linenumber")
    )
