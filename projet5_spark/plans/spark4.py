"""Modern engine surface (Spark 4.x): VARIANT semi-structured values,
Python user-defined table functions (UDTF), SQL pipe syntax, and ISO
``LISTAGG ... WITHIN GROUP``.

These queries exist to certify the engine's current-generation API
surface, not new algebra — each one's semantics are deliberately
expressible in ANSI SQL so the DuckDB oracle gates them like any other
operator:

- **VARIANT** is the typed semi-structured path that replaces
  stringly ``get_json_object`` chains: parse once, extract with typed
  paths, keep binary-encoded values columnar. Same shuffle shape as the
  JSON-string query it upgrades (plans/events.py).
- **Python UDTF** is the table-function escape hatch (one row in, many
  typed rows out, per-row Python state). It is a slow path like any
  row-at-a-time Python — the query bounds its input and the oracle is
  the set-based gaps-and-islands form you'd run at 100 TB; the UDTF
  exists to certify the lateral-join plumbing, argument passing, and
  schema contract.
- **Pipe syntax** and **LISTAGG** are parser/analyzer surface: same
  Catalyst plans as their classic spellings (sql_surface.py rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..session import scoped_conf
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# VARIANT (typed semi-structured values)
# --------------------------------------------------------------------------


@query(
    "variant_event_props_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(*) FILTER (
             WHERE json_extract(props, '$.missing') IS NULL) AS BIGINT)
             AS n_missing_path
    FROM events GROUP BY event_type
    """,
)
def variant_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed semi-structured aggregation through the VARIANT type:
    ``parse_json`` once into a binary-encoded variant, then
    ``variant_get`` with typed paths — the Spark-4 upgrade over
    stringly ``get_json_object`` (plans/events.py keeps the classic
    form; both compile to the same shuffle shape).

    ``try_variant_get`` on an absent path documents the null semantics
    (missing path → NULL, counted per group). Integer payloads keep
    every aggregate exact — no float grid needed."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "long")
    missing = F.try_variant_get(F.col("v"), "$.missing", "string")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.count(F.when(missing.isNull(), 1)).cast("long").alias("n_missing_path"),
    )


# --------------------------------------------------------------------------
# Python UDTF (lateral table function)
# --------------------------------------------------------------------------

#: Python-path row bound: the UDTF runs per-row Python, so the query
#: caps its input like the other anti-pattern exhibits (text_ml.py's
#: scalar UDF) — the oracle's gaps-and-islands form is the scale path.
_UDTF_DOC_BOUND = 50


@udtf(returnType="start_pos int, token string, run_len int")
class _TokenRuns:
    """Run-length encoder over a document's token stream: emits one row
    per maximal run of a repeated adjacent token (run length ≥ 2),
    1-indexed over the empty-filtered token positions."""

    def eval(self, text: str):  # noqa: D102 — contract is the class doc
        toks = [t for t in (text or "").split(" ") if t]
        i = 0
        while i < len(toks):
            j = i
            while j < len(toks) and toks[j] == toks[i]:
                j += 1
            if j - i >= 2:
                yield i + 1, toks[i], j - i
            i = j


@query(
    "udtf_token_runs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents WHERE doc_id < {_UDTF_DOC_BOUND}),
    flat AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
    runs AS (
      SELECT doc_id, tok, pos,
             pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos)
               AS grp
      FROM flat)
    SELECT doc_id,
           CAST(min(pos) AS INTEGER) AS start_pos,
           tok AS token,
           CAST(count(*) AS INTEGER) AS run_len
    FROM runs GROUP BY doc_id, tok, grp HAVING count(*) >= 2
    """,
)
def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-token runs per document via a Python UDTF in a lateral
    join — the table-function API surface: one text row in, N typed
    (start_pos, token, run_len) rows out, with the outer doc_id
    correlated through the lateral.

    The oracle computes identical runs with the set-based
    gaps-and-islands idiom (pos − row_number per (doc, token) is
    constant within a run) — which is also the form a 100 TB pass would
    use; the UDTF input is bounded to {_UDTF_DOC_BOUND} docs for the
    same reason the scalar-UDF exhibit is (Python rows are the slow
    path, the API contract is what's certified)."""
    spark.udtf.register("token_runs", _TokenRuns)
    _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < _UDTF_DOC_BOUND
    ).select("doc_id", "text").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, r.start_pos, r.token, r.run_len
        FROM udtf_docs_v d, LATERAL token_runs(d.text) r
        """
    )


# --------------------------------------------------------------------------
# SQL pipe syntax
# --------------------------------------------------------------------------


@query(
    "pipe_syntax_monthly_revenue",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY month ORDER BY month
    """,
)
def pipe_syntax_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue of finished orders expressed in SQL pipe syntax
    (`FROM … |> WHERE … |> EXTEND … |> AGGREGATE … |> ORDER BY`) — the
    linear query notation added to the SQL front-end in Spark 4.

    Parser surface only: the pipeline lowers to the exact Catalyst plan
    of its classic spelling (which is what the oracle runs)."""
    return spark.sql(
        f"""
        FROM parquet.`{sf_dir}/orders.parquet`
        |> WHERE o_orderstatus = 'F'
        |> EXTEND date_format(o_orderdate, 'yyyy-MM') AS month,
                  CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(cents) AS BIGINT) AS total_cents
           GROUP BY month
        |> ORDER BY month
        """
    )


# --------------------------------------------------------------------------
# ISO LISTAGG ... WITHIN GROUP
# --------------------------------------------------------------------------


@query(
    "listagg_nation_segments",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
    FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
    GROUP BY c_nationkey
    """,
)
def listagg_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation sorted roster of customer market segments via ISO
    ``LISTAGG(...) WITHIN GROUP (ORDER BY ...)`` — the standard ordered
    string aggregation (Spark 4 surface; collect_sorted_custkeys shows
    the pre-4 array_sort/array_join spelling of the same contract).

    The DISTINCT pre-aggregate bounds each group to the segment
    vocabulary, and WITHIN GROUP ordering makes the concatenation
    deterministic — an unordered listagg would hash-mismatch by
    partition order."""
    cust = _t(spark, sf_dir, "customer")
    cust.select("c_nationkey", "c_mktsegment").distinct().createOrReplaceTempView(
        "listagg_cust_v"
    )
    return spark.sql(
        """
        SELECT c_nationkey,
               listagg(c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment)
                 AS segments
        FROM listagg_cust_v GROUP BY c_nationkey
        """
    )


# --------------------------------------------------------------------------
# Python DataSource API (custom connector)
# --------------------------------------------------------------------------

_PYSOURCE_N = 1000


@query(
    "pysource_digest_rows",
    oracle=f"""
    WITH rows_gen AS (
      SELECT i AS id,
             substring(sha256(CAST(i AS VARCHAR)), 1, 8) AS dig
      FROM range(0, {_PYSOURCE_N}) t(i))
    SELECT CAST(CAST(('0x' || dig) AS UBIGINT) % 100 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id
    FROM rows_gen GROUP BY bucket
    """,
)
def pysource_digest_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup over a CUSTOM Python DataSource (``sources/pysource.py``,
    format ``detrows``): the connector plans 8 input partitions on the
    driver and each executor-side ``read()`` yields its row-id range —
    the pure-Python connector surface for systems without a JVM reader.

    Every emitted row is a closed-form function of its id (sha-256
    digest prefix + bucket), so the oracle replays the generator with
    ``range()`` in SQL and the hash gate certifies the connector's
    partition planning, pickling, and row materialization end-to-end.
    ``sf_dir`` is unused — the source is its own data."""
    from ..sources.pysource import FORMAT_NAME, register

    register(spark)
    rows = (
        spark.read.format(FORMAT_NAME)
        .option("n", _PYSOURCE_N)
        .option("numPartitions", 8)
        .load()
    )
    return rows.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
    )


# --------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (SQL surface)
# --------------------------------------------------------------------------


@query(
    "groupby_all_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def groupby_all_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` — the analyzer infers the
    grouping (every non-aggregate select item) and the ordering (every
    output column) instead of positional lists. Parser/analyzer surface
    only: lowers to the classic plan the oracle spells out."""
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM parquet.`{sf_dir}/orders.parquet`
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4): BFS hop counts over a deterministic graph
# --------------------------------------------------------------------------

_BFS_BODY = """
    edges AS (
      SELECT nk AS src, (nk + 1) % 25 AS dst FROM nodes
      UNION ALL SELECT (nk + 1) % 25, nk FROM nodes
      UNION ALL SELECT nk, (nk + 5) % 25 FROM nodes
      UNION ALL SELECT (nk + 5) % 25, nk FROM nodes),
    walk(nk, hops) AS (
      SELECT 0, 0
      UNION ALL
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.nk
      WHERE w.hops < 6)
    SELECT CAST(nk AS BIGINT) AS nk, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY nk ORDER BY nk
"""


@query(
    "recursive_cte_bfs_hops",
    oracle=f"""
    WITH RECURSIVE
    nodes AS (SELECT n_nationkey AS nk FROM nation),
    {_BFS_BODY}
    """,
)
def recursive_cte_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` (new SQL surface in Spark 4): BFS hop counts
    from node 0 over a deterministic ring-and-chord graph built on the
    nation keys (edges n→n±1 and n→n±5 mod 25, diameter ~4).

    The recursion enumerates walks up to 6 hops and folds to
    ``min(hops)`` per node — the SQL-standard reachability idiom,
    expressed identically on both engines (DuckDB runs the same
    recursive CTE). The hop bound caps frontier growth; at scale the
    iterative-join plan is the same one ``connected_components``
    drives procedurally, with the engine managing the loop instead of
    the driver."""
    return spark.sql(
        f"""
        WITH RECURSIVE
        nodes AS (SELECT n_nationkey AS nk
                  FROM parquet.`{sf_dir}/nation.parquet`),
        {_BFS_BODY}
        """
    )


# --------------------------------------------------------------------------
# SQL scripting (Spark 4 BEGIN/DECLARE/WHILE control flow)
# --------------------------------------------------------------------------

_SCRIPT_T0 = 100_000  # starting price threshold
_SCRIPT_TARGET = 1_000  # stop when at most this many orders exceed t


@query(
    "sql_scripting_threshold_search",
    oracle=f"""
    WITH RECURSIVE it AS (
      SELECT 0 AS k, CAST({_SCRIPT_T0} AS BIGINT) AS t,
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_totalprice > {_SCRIPT_T0}) AS n
      UNION ALL
      SELECT k + 1, it.t * 11 // 10,
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_totalprice > it.t * 11 // 10)
      FROM it WHERE it.n > {_SCRIPT_TARGET})
    SELECT t AS threshold, n AS n_above, CAST(k AS BIGINT) AS n_iterations
    FROM it WHERE n <= {_SCRIPT_TARGET} ORDER BY k LIMIT 1
    """,
)
def sql_scripting_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN / DECLARE / WHILE / SET) certified
    on a real control-flow computation: iteratively raise a price
    threshold by exact integer steps (``t := t * 11 DIV 10``) until at
    most {target} orders exceed it — the data-dependent loop shape
    (threshold searches, convergence sweeps) that previously needed a
    driver-side Python loop. The script's loop state lives in session
    variables; every probe is a full SQL aggregate against the orders
    scan. DuckDB replays the identical iteration as a recursive CTE,
    so the certified row proves loop count, final threshold, and final
    count all match on the exact integer grid.

    Scale note: each iteration is one count aggregate over a pruned
    scan — the loop multiplies scans, not shuffles; a production
    variant would compute the full threshold ladder in ONE pass
    (generate the t-sequence, conditional-sum per rung — see
    quality_threshold_calibration) when the iteration count is known
    to be bounded."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_script")
    with scoped_conf(spark, "spark.sql.scripting.enabled", "true"):
        out = spark.sql(
            f"""
            BEGIN
              DECLARE t BIGINT DEFAULT {_SCRIPT_T0};
              DECLARE n BIGINT DEFAULT 0;
              DECLARE k BIGINT DEFAULT 0;
              SET n = (SELECT count(*) FROM orders_script
                       WHERE o_totalprice > t);
              WHILE n > {_SCRIPT_TARGET} DO
                SET t = t * 11 DIV 10;
                SET k = k + 1;
                SET n = (SELECT count(*) FROM orders_script
                         WHERE o_totalprice > t);
              END WHILE;
              SELECT t AS threshold, n AS n_above, k AS n_iterations;
            END
            """
        )
    return out


sql_scripting_threshold_search.__doc__ = (
    sql_scripting_threshold_search.__doc__.format(target=_SCRIPT_TARGET)
)
