"""Pipeline-audit operators: declarative data-quality constraint
checks, CDC-style snapshot diffing, and shuffle-balance profiling —
the checks an operator of a 100 TB lakehouse runs on every ingest.

Scale design notes:
- **DQ checks** are each a single aggregate (or one key-join for the
  referential check) producing a one-row count; the union of checks is
  a constant-size summary regardless of table volume. The orphan check
  is a left-anti join on the FK — shuffle keyed, no broadcast
  assumption about the parent side.
- **Snapshot diff** is one full-outer join on the natural key comparing
  a content digest per side — the standard "what changed between
  yesterday's and today's snapshot" CDC primitive. The shuffle carries
  key + 32-byte digest, never the payload.
- **Shuffle-balance profile** simulates the partition assignment of a
  prospective shuffle (bucket = sha-digest of the key, mod N) and
  reports the balance stats that predict stragglers BEFORE running the
  real job. sha256 (not Spark's murmur ``hash()``) so the oracle can
  reproduce the assignment bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


@query(
    "dq_constraint_checks",
    oracle="""
    SELECT 'orders_null_custkey' AS check_name,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST(coalesce(sum(n - 1), 0) AS BIGINT)
    FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey) g
    WHERE n > 1
    UNION ALL
    SELECT 'orders_bad_status',
           CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT)
    FROM lineitem
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style declarative constraint audit: not-null, primary-key
    uniqueness, accepted-values, referential integrity, and two range
    checks, emitted as one (check_name, n_violations) summary.

    Each check reduces to a scalar before the union, so the result is
    six rows whatever the table size. All row-local checks against the
    same table fold into ONE aggregate pass and unpivot to their
    summary rows — a dbt-style audit suite should read each table once
    per scan shape, not once per check — leaving exactly three
    fact-scale operations: the orders scalar pass, the PK-uniqueness
    groupBy, and the FK anti-join (hash join on the key, AQE-sized)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def rows(df: DataFrame) -> DataFrame:
        names = df.columns
        pairs = ", ".join(f"'{n}', `{n}`" for n in names)
        return df.select(
            F.expr(
                f"stack({len(names)}, {pairs}) AS (check_name, n_violations)"
            )
        ).select(
            "check_name",
            F.coalesce(F.col("n_violations"), F.lit(0)).cast("long").alias(
                "n_violations"
            ),
        )

    o_scalars = rows(
        orders.agg(
            F.count(F.when(F.col("o_custkey").isNull(), 1)).alias(
                "orders_null_custkey"
            ),
            F.count(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            ).alias("orders_bad_status"),
        )
    )
    dup_pk = rows(
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.sum(F.col("c") - 1).alias("orders_duplicate_pk"))
    )
    orphan = rows(
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
            F.count(F.lit(1)).alias("lineitem_orphan_orderkey")
        )
    )
    li_scalars = rows(
        li.agg(
            F.count(F.when(F.col("l_quantity") <= 0, 1)).alias(
                "lineitem_nonpositive_qty"
            ),
            F.count(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)
            ).alias("lineitem_discount_range"),
        )
    )
    return o_scalars.union(dup_pk).union(orphan).union(li_scalars)


#: snapshot derivations (planted drift, mirrored in the oracle):
#: A = orders except keys ≡0 (mod 5); B = orders except keys ≡0 (mod 11),
#: with price +10% on keys ≡0 (mod 7). So mod-5 keys read as ADDED in B,
#: mod-11 keys as REMOVED, mod-7 keys as CHANGED.
_SNAP_SQL = """
    snap_a AS (
      SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price
      FROM orders WHERE o_orderkey % 5 <> 0),
    snap_b AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 11 <> 0)
"""


@query(
    "snapshot_diff_orders",
    oracle=f"""
    WITH {_SNAP_SQL},
    a AS (SELECT key, sha256(status || '|' ||
                  CAST(CAST(floor(price * 1e2 + 0.5) AS BIGINT) AS VARCHAR)) AS h
          FROM snap_a),
    b AS (SELECT key, sha256(status || '|' ||
                  CAST(CAST(floor(price * 1e2 + 0.5) AS BIGINT) AS VARCHAR)) AS h
          FROM snap_b),
    d AS (
      SELECT CASE WHEN a.key IS NULL THEN 'added'
                  WHEN b.key IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM a FULL OUTER JOIN b ON a.key = b.key)
    SELECT change_type, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY change_type
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: classify every natural key across two table
    snapshots as added / removed / changed / unchanged by comparing a
    content digest per side in one full-outer join.

    The digest is computed map-side over the 2dp price grid (exact
    integer cents, so both engines hash identical bytes); the join
    shuffles key + 32-byte hash only. The snapshots here are derived
    from the orders fixture with planted drift — see ``_SNAP_SQL``."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("price") * 1e2 + F.lit(0.5)).cast("long")
    digest = F.sha2(
        F.concat(F.col("status"), F.lit("|"), cents.cast("string")), 256
    )
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    snap_a = base.where(F.col("key") % 5 != 0).select("key", digest.alias("h_a"))
    snap_b = (
        base.where(F.col("key") % 11 != 0)
        .withColumn(
            "price",
            F.when(F.col("key") % 7 == 0, F.col("price") * 1.1).otherwise(
                F.col("price")
            ),
        )
        .select("key", digest.alias("h_b"))
    )
    d = snap_a.join(snap_b, "key", "full_outer").select(
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return d.groupBy("change_type").agg(F.count(F.lit(1)).cast("long").alias("n"))


_N_BUCKETS = 200


@query(
    "shuffle_balance_profile",
    oracle=f"""
    WITH b AS (
      SELECT CAST(('0x' || substring(sha256(CAST(o_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
             % {_N_BUCKETS} AS bucket
      FROM orders),
    sizes AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket)
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(min(n) AS BIGINT) AS min_rows,
           CAST(max(n) AS BIGINT) AS max_rows,
           floor((avg(n)) * 1e4) / 1e4 AS avg_rows,
           floor((max(n) * 1.0 / avg(n)) * 1e4) / 1e4 AS skew_ratio
    FROM sizes
    """,
)
def shuffle_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prospective-shuffle balance audit: assign each row to one of N
    buckets by a digest of its join key and report bucket-size balance
    (max/avg = the straggler factor a real shuffle on this key would
    see). One hash aggregate over (bucket); the digest is sha256 so
    the oracle reproduces Spark's assignment exactly — production code
    would use ``hash()`` (murmur) for speed, same distribution."""
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("o_custkey").cast("string"), 256), 1, 8), 16, 10)
        .cast("bigint")
        % _N_BUCKETS
    )
    sizes = orders.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.min("n").cast("long").alias("min_rows"),
        F.max("n").cast("long").alias("max_rows"),
        _q(F.avg("n"), 4).alias("avg_rows"),
        _q(F.max("n") * F.lit(1.0) / F.avg("n"), 4).alias("skew_ratio"),
    )


# --------------------------------------------------------------------------
# SCD-2 merge, driver-visible
# --------------------------------------------------------------------------


@query(
    "snapshot_scd2_history",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey,
             o_orderstatus AS status,
             CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS price_cents,
             o_orderdate AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders),
    v1 AS (SELECT o_custkey, status, price_cents, d FROM ranked WHERE rn = 1),
    v2 AS (SELECT o_custkey, status, price_cents, d FROM ranked WHERE rn = 2),
    chg AS (
      SELECT v1.o_custkey,
             v1.status AS s1, v1.price_cents AS p1, v1.d AS d1,
             v2.status AS s2, v2.price_cents AS p2, v2.d AS d2
      FROM v1 JOIN v2 ON v1.o_custkey = v2.o_custkey
      WHERE (v1.status <> v2.status OR v1.price_cents <> v2.price_cents)
        AND v2.d > v1.d)
    SELECT o_custkey, s1 AS status, p1 AS price_cents,
           CAST(CAST(d1 AS DATE) AS VARCHAR) AS valid_from,
           CAST(CAST(d2 AS DATE) AS VARCHAR) AS valid_to,
           FALSE AS is_current
    FROM chg
    UNION ALL
    SELECT o_custkey, s2 AS status, p2 AS price_cents,
           CAST(CAST(d2 AS DATE) AS VARCHAR) AS valid_from,
           '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM chg
    UNION ALL
    SELECT v1.o_custkey, v1.status, v1.price_cents,
           CAST(CAST(v1.d AS DATE) AS VARCHAR) AS valid_from,
           '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM v1
    WHERE v1.o_custkey NOT IN (SELECT o_custkey FROM chg)
    """,
)
def snapshot_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 MERGE exercised end-to-end through the real writer
    (``sources.writers.scd2_upsert``), hash-checked by the driver — the
    batch analog of the streaming ``foreachBatch`` SCD-2 sink test.

    A deterministic two-batch CDC feed is derived from ``orders``: each
    customer's first order (by orderdate, orderkey) is the version-0
    dimension row, the second order is the change batch. The writer's
    three branches all fire on real data: changed-and-newer keys close
    out and re-insert, same-date arrivals hit the out-of-order guard,
    identical-content arrivals hit the idempotence guard, and
    single-order customers stay untouched. The oracle re-derives the
    final history table purely in SQL from the same MERGE semantics.

    The parquet round-trip goes through the writer's crash-safe
    two-rename swap into a scratch dir (wiped per call) — at scale this
    is the nightly dimension-maintenance job against the real table.
    """
    import os
    import shutil

    from pyspark.sql import Window

    from ..sources.writers import scd2_upsert

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    shaped = (
        orders.select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
            .cast("long")
            .alias("price_cents"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
            "o_orderkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .drop("o_orderkey")
    )
    base = shaped.where(F.col("rn") == 1).drop("rn")
    cdc = shaped.where(F.col("rn") == 2).drop("rn")
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    path = os.path.join(
        repo_root, "spark-warehouse", f"scd2_history_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(path, ignore_errors=True)
    scd2_upsert(spark, base, path, ["o_custkey"], "ts")
    scd2_upsert(spark, cdc, path, ["o_custkey"], "ts")
    hist = spark.read.parquet(path)
    return hist.select(
        "o_custkey",
        "status",
        "price_cents",
        F.col("__valid_from").cast("date").cast("string").alias("valid_from"),
        F.col("__valid_to").cast("date").cast("string").alias("valid_to"),
        F.col("__current").alias("is_current"),
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey,
             o_orderstatus AS status,
             CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS price_cents,
             o_orderdate AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders),
    v1 AS (SELECT o_custkey, status, price_cents, d FROM ranked WHERE rn = 1),
    v2 AS (SELECT o_custkey, status, price_cents, d FROM ranked WHERE rn = 2),
    chg AS (
      SELECT v1.o_custkey,
             v1.status AS s1, v1.price_cents AS p1, v1.d AS d1,
             v2.status AS s2, v2.price_cents AS p2, v2.d AS d2
      FROM v1 JOIN v2 ON v1.o_custkey = v2.o_custkey
      WHERE (v1.status <> v2.status OR v1.price_cents <> v2.price_cents)
        AND v2.d > v1.d),
    hist AS (
      SELECT o_custkey, s1 AS status, p1 AS price_cents,
             CAST(CAST(d1 AS DATE) AS VARCHAR) AS valid_from,
             CAST(CAST(d2 AS DATE) AS VARCHAR) AS valid_to
      FROM chg
      UNION ALL
      SELECT o_custkey, s2, p2, CAST(CAST(d2 AS DATE) AS VARCHAR), '9999-12-31'
      FROM chg
      UNION ALL
      SELECT v1.o_custkey, v1.status, v1.price_cents,
             CAST(CAST(v1.d AS DATE) AS VARCHAR), '9999-12-31'
      FROM v1 WHERE v1.o_custkey NOT IN (SELECT o_custkey FROM chg)),
    probes AS (
      SELECT o_custkey, CAST(CAST(d AS DATE) AS VARCHAR) AS probe_day
      FROM ranked WHERE rn = 3)
    SELECT p.o_custkey, p.probe_day,
           h.status AS dim_status, h.price_cents AS dim_price_cents,
           h.valid_from AS dim_valid_from
    FROM probes p JOIN hist h
      ON p.o_custkey = h.o_custkey
     AND h.valid_from <= p.probe_day AND p.probe_day < h.valid_to
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) dimension lookup: join each fact probe
    to the SCD-2 version that was current AT the fact's event time —
    ``valid_from ≤ t < valid_to`` — the read-side counterpart of the
    ``scd2_upsert`` merge certified by ``snapshot_scd2_history``.

    The history is re-derived purely in-plan from the same two-batch
    CDC semantics (so this stays a single benchable plan, no writer
    round-trip); probes are each customer's third order. The interval
    predicate rides as a residual on the equi-join key — a hash join
    on o_custkey with at most two version rows per probe to filter,
    never a nested loop. ISO date strings compare lexicographically,
    identically on both engines.

    Only the first three versions per key matter downstream, so the
    fact-wide rank pipeline folds to that entity-scale relation ONCE
    and every consumer (v1/v2/changes/probes — six subtrees otherwise,
    eight fact scans measured) reads the materialization — the same
    thing a production PIT join does by reading a persisted dimension
    instead of re-deriving it per branch."""
    orders = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    ranked = orders.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.col("o_orderdate").alias("d"),
        "o_orderkey",
    ).withColumn("rn", F.row_number().over(w))
    ranked = ranked.where(F.col("rn") <= 3).localCheckpoint(eager=True)
    day = lambda c: F.col(c).cast("date").cast("string")  # noqa: E731
    v1 = ranked.where(F.col("rn") == 1).select(
        "o_custkey", "status", "price_cents", "d"
    )
    v2 = ranked.where(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"),
        F.col("status").alias("s2"),
        F.col("price_cents").alias("p2"),
        F.col("d").alias("d2"),
    )
    chg = v1.join(v2, v1.o_custkey == v2.ck2).where(
        (
            (F.col("status") != F.col("s2"))
            | (F.col("price_cents") != F.col("p2"))
        )
        & (F.col("d2") > F.col("d"))
    )
    far = F.lit("9999-12-31")
    hist = (
        chg.select(
            "o_custkey", "status", "price_cents",
            day("d").alias("valid_from"), day("d2").alias("valid_to"),
        )
        .unionByName(
            chg.select(
                "o_custkey",
                F.col("s2").alias("status"),
                F.col("p2").alias("price_cents"),
                day("d2").alias("valid_from"),
                far.alias("valid_to"),
            )
        )
        .unionByName(
            v1.join(chg.select("o_custkey"), "o_custkey", "left_anti").select(
                "o_custkey", "status", "price_cents",
                day("d").alias("valid_from"), far.alias("valid_to"),
            )
        )
    )
    probes = ranked.where(F.col("rn") == 3).select(
        "o_custkey", day("d").alias("probe_day")
    )
    return probes.join(hist, "o_custkey").where(
        (F.col("valid_from") <= F.col("probe_day"))
        & (F.col("probe_day") < F.col("valid_to"))
    ).select(
        "o_custkey",
        "probe_day",
        F.col("status").alias("dim_status"),
        F.col("price_cents").alias("dim_price_cents"),
        F.col("valid_from").alias("dim_valid_from"),
    )


def _packing_eff_oracle() -> str:
    from .registry import ORACLE

    return f"""
    WITH pk AS ({ORACLE["sequence_packing_bins"]})
    SELECT source,
           CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           floor((sum(n_tokens) * 1.0 / (count(DISTINCT bin) * 2048)) * 1e4) / 1e4
             AS utilization
    FROM pk GROUP BY source
    """


@query("packing_efficiency_stats", oracle=_packing_eff_oracle())
def packing_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability rollup over the sequence packer: bins, tokens, and
    capacity utilization per source — the metric that tells a training
    pipeline whether its packing wastes context-window budget (padding)
    and whether a different bin size or sort order would pay.

    Composes the existing ``sequence_packing_bins`` plan (same
    partitioned window, no extra corpus scan) and folds it to one row
    per source; utilization is an integer-token / integer-capacity
    ratio, so the 1e-4 grid is engine-exact."""
    from .llm import sequence_packing_bins

    pk = sequence_packing_bins(spark, sf_dir)
    return pk.groupBy("source").agg(
        F.count_distinct("bin").cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        _q(
            F.sum("n_tokens") * F.lit(1.0) / (F.count_distinct("bin") * F.lit(2048)),
            4,
        ).alias("utilization"),
    )


@query(
    "gdpr_erasure_audit",
    oracle="""
    WITH erased AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    c AS (SELECT count(*) AS before_n,
                 count(*) FILTER (WHERE c_custkey % 97 <> 0) AS after_n
          FROM customer),
    o AS (SELECT count(*) AS before_n,
                 count(*) FILTER (WHERE o_custkey % 97 <> 0) AS after_n
          FROM orders),
    l AS (SELECT count(*) AS before_n,
                 count(*) FILTER (WHERE o_custkey % 97 <> 0) AS after_n
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT 'customer' AS tbl, CAST(before_n AS BIGINT) AS rows_before,
           CAST(before_n - after_n AS BIGINT) AS rows_erased FROM c
    UNION ALL
    SELECT 'orders', CAST(before_n AS BIGINT),
           CAST(before_n - after_n AS BIGINT) FROM o
    UNION ALL
    SELECT 'lineitem', CAST(before_n AS BIGINT),
           CAST(before_n - after_n AS BIGINT) FROM l
    """,
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: given an erasure key set
    (deterministic here: custkeys ≡ 0 mod 97), report how many rows each
    table in the subject's lineage loses — customer directly, orders by
    FK, lineitem transitively through its order.

    The per-table erasure is an anti-join against the key set (broadcast
    at any realistic erasure-batch size); the transitive step reuses the
    fact table's existing FK join. Counting before/after in one
    conditional aggregate keeps the audit a single pass per table —
    at 100 TB the erasure itself would rewrite only the files whose
    row-group key ranges intersect the erasure set."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def one(tbl: str, df: DataFrame, keep) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            (F.count(F.lit(1)) - F.count(F.when(keep, 1)))
            .cast("long")
            .alias("rows_erased"),
        )

    keep_c = F.col("c_custkey") % 97 != 0
    keep_o = F.col("o_custkey") % 97 != 0
    lij = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return (
        one("customer", cust, keep_c)
        .unionByName(one("orders", orders, keep_o))
        .unionByName(one("lineitem", lij, keep_o))
    )
