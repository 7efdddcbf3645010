"""Batch 14 operator battery — model-eval, embedding statistics, and
storage-ops planning: language-ID confusion matrix, embedding
covariance profile, open-order backlog sweep-line, partition Merkle
digests, zone-map pruning audit, and golden-record survivorship.

Scale design notes:
- **Confusion matrix** is prediction groupBy truth — the eval rollup
  every classifier-in-the-loop curation pipeline runs; cardinality is
  |langs|², never row-scale.
- **Covariance** accumulates the d(d+1)/2 upper-triangle product sums
  map-side on an integer micro-grid; d is the embedding width (64), so
  state is O(d²) regardless of corpus size.
- **Backlog sweep-line** compresses each order to two ±1 delta events,
  aggregates deltas per date FIRST, and only then runs the running-sum
  window over the date-bounded table — never a row-scale window.
- **Merkle digests** fold rows into per-bucket commutative digests
  (count/sum/xor of row sha-256 prefixes); replicas diff bucket rows to
  find *which* partition changed, then re-sync only it.
- **Zone-map audit** quantifies data skipping: per-file min/max bounds
  under the natural layout vs a date-sorted layout, and the fraction of
  files a date predicate could prune in each — the measured argument
  for sort/cluster-on-write.
- **Survivorship** is one window argmax per duplicate cluster with a
  multi-criterion (completeness, recency-proxy, key) order — the MDM
  "golden record" pick, shuffling only the cluster key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .llm import _lang_id_oracle, lang_id_heuristic
from .registry import query


# --------------------------------------------------------------------------
# Language-ID confusion matrix
# --------------------------------------------------------------------------


@query(
    "lang_confusion_matrix",
    oracle=f"""
    WITH pred AS ({_lang_id_oracle()})
    SELECT labeled_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n
    FROM pred
    GROUP BY labeled_lang, predicted_lang
    ORDER BY labeled_lang, predicted_lang
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the labeled
    ``lang`` column — the evaluation rollup a classifier-in-the-loop
    curation pipeline (quality filters, lang routers) runs before
    trusting a model's labels at scale.

    Composes the registered ``lang_id_heuristic`` plan (same scoring,
    same argmax tie-break) and adds one |langs|²-cardinality hash
    aggregate — per-class recall/precision read directly off the
    matrix rows."""
    pred = lang_id_heuristic(spark, sf_dir)
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("labeled_lang", "predicted_lang")
    )


# --------------------------------------------------------------------------
# Embedding covariance profile (top off-diagonal pairs)
# --------------------------------------------------------------------------

_COV_TOPK = 10


@query(
    "embedding_covariance_topvar",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    sums AS (
      SELECT i, CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS s_g
      FROM x GROUP BY i),
    prods AS (
      SELECT a.i AS i, b.i AS j,
             CAST(sum(CAST(floor(a.v * b.v * 1e9) AS BIGINT)) AS BIGINT) AS sp_g
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY a.i, b.i)
    SELECT prods.i AS i, prods.j AS j,
           CAST(floor(((CAST(sp_g AS DOUBLE) / 1e9) / n
                       - ((CAST(sa.s_g AS DOUBLE) / 1e6) / n)
                         * ((CAST(sb.s_g AS DOUBLE) / 1e6) / n)) * 1e9)
                AS BIGINT) AS cov_nano
    FROM prods
    JOIN n ON true
    JOIN sums sa ON prods.i = sa.i
    JOIN sums sb ON prods.j = sb.i
    ORDER BY abs(cov_nano) DESC, 1, 2
    LIMIT {_COV_TOPK}
    """,
)
def embedding_covariance_topvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} most-covariant embedding dimension pairs — the feature-
    redundancy profile run before PCA/whitening or dimension pruning:
    strongly covariant axes mean the representation wastes width.

    Each vector contributes its d(d+1)/2 upper-triangle products; the
    per-(i,j) sums accumulate map-side as floored integer grids (10⁻⁹
    for products, 10⁻⁶ for means — order-independent BIGINTs), so the
    aggregate state is O(d²) = 2 080 cells regardless of corpus size.
    cov(i,j) = E[xy] − E[x]E[y] over those exact sums; the one division
    per term and the final floor are engine-identical. Top-k carries an
    (i, j) tie-break after the |cov| ordering."""
    x = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("p", "vf")
    ).select(
        "vec_id", (F.col("p") + F.lit(1)).cast("long").alias("i"),
        F.col("vf").cast("double").alias("v"),
    )
    n = _t(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sums = x.groupBy("i").agg(
        F.sum(F.floor(F.col("v") * F.lit(1e6)).cast("long"))
        .cast("long")
        .alias("s_g")
    )
    a, b = x.alias("a"), x.alias("b")
    prods = (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(F.floor(F.col("a.v") * F.col("b.v") * F.lit(1e9)).cast("long"))
            .cast("long")
            .alias("sp_g")
        )
    )
    sa = sums.alias("sa")
    sb = sums.alias("sb")
    pr = prods.alias("pr")
    cov_nano = F.floor(
        (
            (F.col("sp_g").cast("double") / F.lit(1e9)) / F.col("n")
            - ((F.col("sa.s_g").cast("double") / F.lit(1e6)) / F.col("n"))
            * ((F.col("sb.s_g").cast("double") / F.lit(1e6)) / F.col("n"))
        )
        * F.lit(1e9)
    ).cast("long")
    return (
        pr.join(F.broadcast(n))
        .join(F.broadcast(sa), F.col("pr.i") == F.col("sa.i"))
        .join(F.broadcast(sb), F.col("pr.j") == F.col("sb.i"))
        .select(F.col("pr.i").alias("i"), F.col("pr.j").alias("j"),
                cov_nano.alias("cov_nano"))
        .orderBy(F.abs(F.col("cov_nano")).desc(), "i", "j")
        .limit(_COV_TOPK)
    )


# --------------------------------------------------------------------------
# Open-order backlog sweep-line
# --------------------------------------------------------------------------


@query(
    "orders_open_backlog_by_month",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             o.o_orderdate AS open_d,
             max(l.l_shipdate) AS close_d
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    deltas AS (
      SELECT open_d AS d, CAST(1 AS BIGINT) AS delta FROM spans
      UNION ALL
      SELECT close_d + INTERVAL 1 DAY AS d, CAST(-1 AS BIGINT) FROM spans),
    by_day AS (
      SELECT CAST(d AS DATE) AS d, sum(delta) AS delta FROM deltas GROUP BY 1),
    run AS (
      SELECT d, sum(delta) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS open_cnt
      FROM by_day)
    SELECT strftime(d, '%Y-%m') AS month,
           CAST(max(open_cnt) AS BIGINT) AS max_open,
           CAST(arg_max(open_cnt, d) AS BIGINT) AS eom_open
    FROM run
    GROUP BY 1
    ORDER BY 1
    """,
)
def orders_open_backlog_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrently-open orders over time via the sweep-line trick: each
    order (open = order date, close = last line-item ship date)
    contributes +1/−1 delta events, and the running sum of deltas IS the
    live backlog — the interval-stacking operator behind concurrency,
    occupancy, and WIP dashboards, without ever joining intervals
    against a calendar.

    Deltas aggregate per date BEFORE the window, so the running sum
    scans the date-bounded delta table (~2 400 rows for 7 years), not
    the fact table — the same value-space compression the KS ECDF uses.
    Per month: peak backlog and the level on the month's last active
    day (``max_by`` with a unique date key — tie-free)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # per-order close date folded BELOW the join (the cycle_time /
    # business_days fix): the max depends only on l_orderkey, so the
    # join carries the per-order relation instead of fact-width rows
    closes = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("close_d"))
    )
    spans = o.join(closes, o.o_orderkey == closes.l_orderkey).select(
        "o_orderdate", "close_d"
    )
    deltas = spans.select(
        F.col("o_orderdate").alias("d"), F.lit(1).cast("long").alias("delta")
    ).unionByName(
        spans.select(
            F.date_add(F.col("close_d"), 1).alias("d"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    by_day = deltas.groupBy("d").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    run = by_day.select("d", F.sum("delta").over(w).alias("open_cnt"))
    return (
        run.groupBy(F.date_format("d", "yyyy-MM").alias("month"))
        .agg(
            F.max("open_cnt").cast("long").alias("max_open"),
            F.max_by("open_cnt", "d").cast("long").alias("eom_open"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Partition Merkle digests
# --------------------------------------------------------------------------

_MERKLE_BUCKETS = 16

#: canonical row encoding shared textually with the oracle (same
#: engine-neutral rendering as table_content_checksum)
_MK_ROW_SPARK = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
    "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT), "
    "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)"
)
_MK_ROW_DUCK = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
    "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT), "
    "strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)"
)


@query(
    "partition_merkle_digests",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey % {_MERKLE_BUCKETS} AS bucket,
             CAST(('0x' || substring(sha256({_MK_ROW_DUCK}), 1, 8))
                  AS UBIGINT) AS h32
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h32) AS BIGINT) AS sum_h32,
           CAST(bit_xor(CAST(h32 AS BIGINT)) AS BIGINT) AS xor_h32
    FROM h
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def partition_merkle_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition content digests — the Merkle level below
    ``table_content_checksum``: rows hash into their storage bucket's
    commutative digest (count + sum + xor of sha-256 prefixes), so two
    replicas that disagree at the table level diff these 16 rows to
    find *which* partition diverged and re-sync only it (the
    anti-entropy protocol of Dynamo-style stores and lakehouse sync
    jobs).

    Map-only + one bucket-keyed aggregate; digests are order- and
    partitioning-independent, so any engine, any layout, any shuffle
    produces identical bucket rows."""
    orders = _t(spark, sf_dir, "orders")
    h32 = (
        F.conv(F.substring(F.sha2(F.expr(_MK_ROW_SPARK), 256), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h32")
    )
    return (
        orders.select(
            (F.col("o_orderkey") % _MERKLE_BUCKETS).cast("long").alias("bucket"),
            h32,
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("h32").cast("long").alias("sum_h32"),
            F.bit_xor("h32").cast("long").alias("xor_h32"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Zone-map pruning audit
# --------------------------------------------------------------------------

_ZM_FILES = 32
_ZM_LO = "1995-01-01"
_ZM_HI = "1995-12-31"


@query(
    "zonemap_pruning_audit",
    oracle=f"""
    WITH nat AS (
      SELECT o_orderkey % {_ZM_FILES} AS file_id, o_orderdate AS d
      FROM orders),
    sorted_rows AS (
      SELECT o_orderdate AS d,
             CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1
                  AS BIGINT) AS rn,
             (SELECT count(*) FROM orders) AS n
      FROM orders),
    sorted AS (
      SELECT (rn * {_ZM_FILES}) // n AS file_id, d FROM sorted_rows),
    bounds AS (
      SELECT 'natural' AS layout, file_id, min(d) AS lo, max(d) AS hi
      FROM nat GROUP BY file_id
      UNION ALL
      SELECT 'sorted', file_id, min(d), max(d) FROM sorted GROUP BY file_id)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(*) FILTER (WHERE hi < '{_ZM_LO}' OR lo > '{_ZM_HI}')
                AS BIGINT) AS prunable,
           CAST(floor((CAST(count(*) FILTER (WHERE NOT (hi < '{_ZM_LO}'
                                                        OR lo > '{_ZM_HI}'))
                            AS DOUBLE) / count(*)) * 1e6) AS BIGINT)
             AS scan_frac_micro
    FROM bounds
    GROUP BY layout
    ORDER BY layout
    """,
)
def zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit: per-file min/max date bounds (the parquet
    zone maps / footer stats) under the natural write layout vs a
    date-sorted layout, and the fraction of files a one-year predicate
    must still scan in each — the measured case for sort/cluster-on-
    write (companion to ``zorder_key_orders``: that builds the layout
    key, this quantifies the payoff).

    The natural arm buckets by write order (key mod files); the sorted
    arm assigns files by date rank. The oracle states that rank as a
    global row_number, but rows sharing a date are CONTIGUOUS in it
    (the orderkey tie-break can only permute rows with the same d), so
    each file's min/max date falls out of the dates-scale cumulative
    count relation alone: date d spans ranks [prev_cum, cum-1], and
    intersecting those spans with the equal-count file ranges
    reproduces the per-file bounds exactly — ~2.5k date rows instead
    of pushing every order through a single-partition rank (x100
    stress: 55.5 s before, the plan's dominant serial chunk). At
    production scale the file assignment is a range partitioner's
    output; same bounds either way. A date-range predicate prunes a
    file iff its [min,max] misses the range entirely; sorted layouts
    prune ~(1 − selectivity) of files, scattered layouts prune
    ~none."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    natural = orders.select(
        (F.col("o_orderkey") % _ZM_FILES).alias("file_id"),
        F.col("o_orderdate").alias("d"),
    )
    n = orders.count()
    dates = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wd = Window.orderBy("d")  # distinct-dates rows only: tiny by design
    sorted_ = dates.select(
        "d",
        (F.sum("cnt").over(wd) - F.col("cnt")).alias("pc"),
        (F.sum("cnt").over(wd) - F.lit(1)).alias("last_rn"),
    ).select(
        F.explode(
            F.sequence(
                F.expr(f"(pc * {_ZM_FILES}) div {n}"),
                F.expr(f"(last_rn * {_ZM_FILES}) div {n}"),
            )
        ).alias("file_id"),
        "d",
    )
    bounds = (
        natural.groupBy("file_id")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.lit("natural").alias("layout"), "lo", "hi")
        .unionByName(
            sorted_.groupBy("file_id")
            .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
            .select(F.lit("sorted").alias("layout"), "lo", "hi")
        )
    )
    prunable = (F.col("hi") < _ZM_LO) | (F.col("lo") > _ZM_HI)
    return (
        bounds.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.count(F.when(prunable, 1)).cast("long").alias("prunable"),
            F.floor(
                (
                    F.count(F.when(~prunable, 1)).cast("double")
                    / F.count(F.lit(1))
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("scan_frac_micro"),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------------------------
# Golden-record survivorship
# --------------------------------------------------------------------------

_GR_CLUSTERS = 500


@query(
    "golden_record_survivorship",
    oracle=f"""
    WITH ranked AS (
      SELECT c_custkey % {_GR_CLUSTERS} AS cluster_id, c_custkey,
             CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT) AS bal_cents,
             row_number() OVER (
               PARTITION BY c_custkey % {_GR_CLUSTERS}
               ORDER BY (c_mktsegment IS NOT NULL) DESC,
                        CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT) DESC,
                        c_custkey DESC) AS rk,
             count(*) OVER (PARTITION BY c_custkey % {_GR_CLUSTERS})
               AS n_members
      FROM customer)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(c_custkey AS BIGINT) AS golden_key,
           bal_cents AS golden_bal_cents,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1
    ORDER BY cluster_id
    """,
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record pick per duplicate cluster — the MDM survivorship
    step after entity-resolution blocking (``er_blocking_match_stats``):
    within each cluster the surviving record wins by completeness
    (non-null segment), then highest balance, then newest key — a
    deterministic multi-criterion ``row_number`` argmax, totally
    ordered so both engines agree on every tie.

    One window over the cluster key (the only shuffle); cluster sizes
    are entity-scale, so partitions stay balanced at 100 TB. The
    demo clusters come from key mod {_GR_CLUSTERS}; production clusters
    arrive from the ER match stage."""
    c = _t(spark, sf_dir, "customer")
    bal_cents = F.floor(F.col("c_acctbal") * 1e2 + F.lit(0.5)).cast("long")
    base = c.select(
        (F.col("c_custkey") % _GR_CLUSTERS).cast("long").alias("cluster_id"),
        F.col("c_custkey").cast("long").alias("c_custkey"),
        bal_cents.alias("bal_cents"),
        F.col("c_mktsegment").isNotNull().alias("has_seg"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("has_seg").desc(), F.col("bal_cents").desc(), F.col("c_custkey").desc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        base.select(
            "cluster_id",
            "c_custkey",
            "bal_cents",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).cast("long").alias("n_members"),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("c_custkey").alias("golden_key"),
            F.col("bal_cents").alias("golden_bal_cents"),
            "n_members",
        )
        .orderBy("cluster_id")
    )
