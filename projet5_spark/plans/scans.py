"""Source-scan certification battery (SURVEY.md §2.5 row 1).

The reference's pipeline STARTS at a file scan (migration.py:130,
``pd.read_csv`` on whatever the job is pointed at), so every ingest
format the engine claims needs a driver-certified round-trip, not just
a pytest: each query here WRITES a fixture table out in the format
under test, reads it back through the ``sources.readers`` entry point
with an explicit schema, and aggregates — while the DuckDB oracle runs
the same aggregate on the original parquet view. Equality certifies
both directions of the format boundary (writer fidelity + reader
correctness) with zero tolerance.

Scale notes per format:
- **CSV / JSONL split by line ranges** — a 1 TB input parallelizes
  across the cluster exactly like parquet minus column pruning; both
  readers here take explicit schemas so no inference pass runs.
- **multiline JSON does NOT split** — one file = one task; the query
  that exercises it uses the 5-row region table on purpose, and the
  docstring is the warning label.
- **partitioned parquet write → pruned read** is the R17 layout story
  end-to-end: the scan of one partition must not touch the others
  (plan-shape asserted in tests/test_plans.py).

Scratch space: ``<repo>/spark-warehouse/scans_<sf>/…`` (gitignored),
rebuilt per invocation — same convention as ``snapshot_scd2_history``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _scratch(sf_dir: str, leaf: str) -> str:
    path = os.path.join(
        _REPO, "spark-warehouse", f"scans_{os.path.basename(sf_dir)}", leaf
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


# --------------------------------------------------------------------------
# R1: CSV scan, driver-certified round trip
# --------------------------------------------------------------------------

_NATION_SCHEMA = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"


@query(
    "csv_scan_roundtrip_nation",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_name,
           max(n_name) AS last_name,
           CAST(sum(length(n_name)) AS BIGINT) AS name_chars
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def csv_scan_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 CSV scan (migration.py:130) certified end-to-end: write the
    nation fixture as headered CSV, read it back through
    :func:`~projet5_spark.sources.readers.read_csv` with the explicit
    schema, aggregate — the oracle aggregates the ORIGINAL parquet, so
    any quoting/escaping/typing drift across the CSV boundary fails the
    value hash (quoting of free text is separately pytest-certified on
    a messy fixture in tests/test_sources.py)."""
    from ..sources.readers import read_csv

    path = _scratch(sf_dir, "nation_csv")
    _t(spark, sf_dir, "nation").write.option("header", "true").csv(path)
    back = read_csv(spark, path, schema=_NATION_SCHEMA)
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
            F.sum(F.length("n_name")).cast("long").alias("name_chars"),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------------
# JSON Lines scan (the §2.5 gap named in VERDICT r7)
# --------------------------------------------------------------------------

_EVJ_SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT, ts_us BIGINT"


@query(
    "json_scan_roundtrip_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_scan_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Lines scan certified end-to-end: project events onto an
    integer-exact shape (cents grid + epoch-µs), write as JSONL, read
    back through :func:`~projet5_spark.sources.readers.read_json` with
    the explicit schema, aggregate per type — oracle aggregates the
    original parquet. Integers round-trip through JSON text exactly, so
    the comparison has zero float tolerance; JSONL splits by line
    ranges, so the same plan parallelizes at any input size."""
    from ..sources.readers import read_json

    path = _scratch(sf_dir, "events_jsonl")
    (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
            F.unix_micros("ts").alias("ts_us"),
        )
        .write.json(path)
    )
    back = read_json(spark, path, schema=_EVJ_SCHEMA)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("ts_us").cast("long").alias("first_us"),
            F.max("ts_us").cast("long").alias("last_us"),
        )
        .orderBy("event_type")
    )


_REGION_SCHEMA = "r_regionkey BIGINT, r_name STRING"


@query(
    "json_multiline_scan_region",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
           CAST(length(r_name) AS BIGINT) AS name_chars
    FROM region ORDER BY r_regionkey
    """,
)
def json_multiline_scan_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline-JSON scan: fold region into ONE JSON array document
    (``to_json(collect_list(struct(...)))``), land it as a text file,
    and read it back with ``multiLine=true`` — the config-file layout.
    Deliberately run on the 5-row region table: a multiline JSON file
    is one unsplittable task (the reader must see the whole document),
    so this path is for small inputs by construction; bulk data goes
    through the JSONL reader above."""
    from ..sources.readers import read_json

    path = _scratch(sf_dir, "region_json_doc")
    doc = (
        _t(spark, sf_dir, "region")
        .orderBy("r_regionkey")
        .agg(
            F.to_json(
                F.collect_list(F.struct("r_regionkey", "r_name"))
            ).alias("value")
        )
    )
    doc.coalesce(1).write.text(path)
    back = read_json(spark, path, schema=_REGION_SCHEMA, multiline=True)
    return back.select(
        "r_regionkey",
        "r_name",
        F.length("r_name").cast("long").alias("name_chars"),
    ).orderBy("r_regionkey")


# --------------------------------------------------------------------------
# to_json -> schema_of_json -> from_json loop (serialization surface)
# --------------------------------------------------------------------------

_O2J_SAMPLE = '{"k": 1, "status": "F", "cents": 1, "d": "1992-01-01"}'


@query(
    "to_json_from_json_roundtrip_orders",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(o_orderdate) AS VARCHAR) AS first_day,
           CAST(max(o_orderdate) AS VARCHAR) AS last_day
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
)
def to_json_from_json_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan JSON serialization loop: pack each order into a JSON
    string with ``to_json(struct(...))``, derive the parse schema from
    a sample literal with ``schema_of_json`` (how a pipeline binds to a
    payload it does not control), parse back with ``from_json``, and
    aggregate the unpacked fields — the oracle never leaves the parquet
    table, so every packed/parsed value must survive the loop exactly.
    All three functions are Catalyst expressions: the loop stays inside
    whole-stage codegen, no shuffle is added, and the integer-cents /
    ISO-date shape keeps the comparison tolerance-free."""
    o = _t(spark, sf_dir, "orders")
    packed = o.select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("status"),
                F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
                F.col("o_orderdate").cast("string").alias("d"),
            )
        ).alias("payload")
    )
    parsed = packed.select(
        F.from_json("payload", F.schema_of_json(F.lit(_O2J_SAMPLE))).alias("r")
    )
    return (
        parsed.select("r.status", "r.cents", "r.d")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# R17 end-to-end: partitioned write -> partition-pruned read
# --------------------------------------------------------------------------


@query(
    "partitioned_write_pruned_scan_orders",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY month ORDER BY month
    """,
)
def partitioned_write_pruned_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17's layout analog certified end-to-end (migration.py:80-103:
    the reference creates a secondary index; Spark's physical analog is
    directory partitioning): write orders partitioned by
    ``o_orderstatus`` through the sink layer, then read back with a
    status predicate and aggregate by month. The predicate resolves at
    the DIRECTORY level — the scan lists only the ``o_orderstatus=F``
    partition and never opens the others (PartitionFilters in the scan
    node; asserted in tests/test_plans.py) — which is the mechanism
    that lets a 100 TB table answer a one-partition query at
    one-partition cost. Oracle: the same filter+aggregate on the
    original table, so the write→prune→read loop must be lossless."""
    from ..sources.writers import write_parquet

    path = _scratch(sf_dir, "orders_by_status")
    write_parquet(
        _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        ),
        path,
        partition_by=["o_orderstatus"],
    )
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    return (
        back.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# CSV dead-letter quarantine (PERMISSIVE + corrupt-record column)
# --------------------------------------------------------------------------

_CSVQ_SCHEMA = (
    "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt STRING"
)


@query(
    "csv_scan_corrupt_quarantine",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN n_nationkey % 3 = 0 THEN 1 END) AS BIGINT)
             AS n_quarantined,
           CAST(count(CASE WHEN n_nationkey % 3 <> 0 THEN 1 END) AS BIGINT)
             AS n_good,
           CAST(sum(CASE WHEN n_nationkey % 3 <> 0 THEN n_nationkey END)
                AS BIGINT) AS good_key_sum,
           max(CASE WHEN n_nationkey % 3 <> 0 THEN n_name END) AS last_good_name
    FROM nation
    """,
)
def csv_scan_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter CSV ingest: synthesize a CSV where every third
    nation row carries an unparseable key (``x<k>``), read it back
    through :func:`~projet5_spark.sources.readers.read_csv` in
    PERMISSIVE mode with a corrupt-record column, and report the
    quarantine split — the load-don't-abort posture a 100 TB ingest
    needs when one malformed line of a trillion must not kill hour ten
    of the run (the FAILFAST/ANSI counterpart is
    ``try_arithmetic_null_on_error``). The oracle reconstructs the
    same split arithmetically from the clean table, so the reader's
    malformed-row semantics (null fields + raw line quarantined) are
    value-certified."""
    from ..sources.readers import read_csv

    nat = _t(spark, sf_dir, "nation")
    key_txt = F.when(
        F.col("n_nationkey") % 3 == 0,
        F.concat(F.lit("x"), F.col("n_nationkey").cast("string")),
    ).otherwise(F.col("n_nationkey").cast("string"))
    path = _scratch(sf_dir, "nation_csv_corrupt")
    nat.select(
        F.concat_ws(
            ",", key_txt, F.col("n_name"), F.col("n_regionkey").cast("string")
        ).alias("value")
    ).write.text(path)
    back = read_csv(
        spark,
        path,
        schema=_CSVQ_SCHEMA,
        header=False,
        mode="PERMISSIVE",
        corrupt_col="_corrupt",
    )
    # PERMISSIVE nulls only the malformed FIELD; sibling fields of a
    # quarantined line still parse (n_name survives) — so "good" must
    # be defined by the quarantine flag, not by any one field
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("_corrupt").cast("long").alias("n_quarantined"),
        F.count("n_nationkey").cast("long").alias("n_good"),
        F.sum("n_nationkey").cast("long").alias("good_key_sum"),
        F.max(F.when(F.col("_corrupt").isNull(), F.col("n_name"))).alias(
            "last_good_name"
        ),
    )


# --------------------------------------------------------------------------
# ORC scan round trip (columnar source beyond parquet)
# --------------------------------------------------------------------------


@query(
    "orc_scan_roundtrip_nation",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_name,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation WHERE n_nationkey >= 5
    GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def orc_scan_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan certified end-to-end: write the nation fixture as ORC
    (Spark's second built-in columnar format — common in Hive-lineage
    lakes a 100 TB ingest must read), read it back, filter + aggregate
    — the oracle aggregates the ORIGINAL parquet, so any typing drift
    across the ORC boundary fails the value hash. The ``n_nationkey >=
    5`` predicate rides ORC's pushdown path (min/max stripe statistics
    + optional bloom filters — the ORC analog of parquet row-group
    skipping), so the round trip certifies the filtered-scan plan, not
    just serialization."""
    path = _scratch(sf_dir, "nation_orc")
    _t(spark, sf_dir, "nation").write.orc(path)
    back = spark.read.orc(path)
    return (
        back.where(F.col("n_nationkey") >= 5)
        .groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------------
# Raw text-line corpus ingest (spark.read.text)
# --------------------------------------------------------------------------


@query(
    "text_scan_corpus_lines",
    oracle="""
    SELECT CAST(doc_id % 10 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def text_scan_corpus_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line corpus ingest — the most common LLM pretraining
    landing format (one document per line, id-prefixed): dump the
    documents fixture as ``doc_id\\ttext`` lines via the ``text``
    source, read it back with ``spark.read.text``, re-parse id and
    body with a bounded split, and aggregate token/char mass per id
    shard — the oracle aggregates the original parquet, so any
    line-framing or escaping drift fails the value hash. ``text``
    files split on line boundaries like JSONL/CSV, so the identical
    plan parallelizes across tasks at any corpus size (the fixture
    corpus is newline-free by construction — binary-safe corpora use
    the JSONL form instead, certified separately)."""
    path = _scratch(sf_dir, "docs_text")
    docs = _t(spark, sf_dir, "documents")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.text(path)
    back = spark.read.text(path).select(
        F.split(F.col("value"), "\t", 2).alias("parts")
    ).select(
        F.element_at(F.col("parts"), 1).cast("long").alias("doc_id"),
        F.element_at(F.col("parts"), 2).alias("text"),
    )
    return (
        back.groupBy((F.col("doc_id") % 10).cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# XML scan round trip (Spark 4 built-in XML source)
# --------------------------------------------------------------------------


@query(
    "xml_scan_roundtrip_region",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_regions,
           CAST(sum(r_regionkey) AS BIGINT) AS key_sum,
           min(r_name) AS first_name,
           max(r_name) AS last_name,
           CAST(sum(length(r_name)) AS BIGINT) AS name_chars
    FROM region
    """,
)
def xml_scan_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan certified end-to-end through Spark 4's BUILT-IN XML
    source (spark-xml graduated into core in 4.0): write the region
    fixture as row-tagged XML, read it back with an explicit rowTag +
    schema, aggregate — the oracle aggregates the original parquet, so
    any element-framing/typing/entity-escaping drift across the XML
    boundary fails the value hash. XML is the one legacy-feed format a
    migration engine still meets (the reference's healthcare domain
    runs on HL7-style XML exports); rowTag framing keeps the read
    splittable by element boundaries."""
    path = _scratch(sf_dir, "region_xml")
    _t(spark, sf_dir, "region").write.format("xml").option(
        "rootTag", "regions"
    ).option("rowTag", "region").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "region")
        .schema("r_regionkey BIGINT, r_name STRING")
        .load(path)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_regions"),
        F.sum("r_regionkey").cast("long").alias("key_sum"),
        F.min("r_name").alias("first_name"),
        F.max("r_name").alias("last_name"),
        F.sum(F.length("r_name")).cast("long").alias("name_chars"),
    )


# --------------------------------------------------------------------------
# Collation semantics (Spark 4 COLLATE)
# --------------------------------------------------------------------------


@query(
    "collation_lcase_grouping",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN p_partkey % 2 = 0
                  THEN lower(p_type)
                  ELSE upper(p_type) END AS t
      FROM part)
    SELECT lower(t) AS type_folded,
           CAST(count(*) AS BIGINT) AS n_parts,
           min(t) AS binary_min
    FROM mixed GROUP BY lower(t)
    """,
)
def collation_lcase_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation semantics certified: part types are case-mixed
    by key parity, then grouped under ``COLLATE UTF8_LCASE`` — the
    engine's case-insensitive comparison collapses 'economy' and
    'ECONOMY' into one group WITHOUT any lower() rewrite in the
    grouping key. The output projects an explicit fold + the binary
    min of each group's original spellings so the compared values are
    collation-independent; the oracle groups by lower() — equality
    proves the collated grouping partitions rows exactly like textual
    case-folding (for this ASCII domain), i.e. the collation is doing
    the work the rewrite would. The ASCII precondition is ENFORCED: a
    non-ASCII p_type raises in-plan rather than silently certifying an
    equivalence that no longer holds.

    Scale note: collated grouping keys hash/compare under the collation
    inside Tungsten — same shuffle shape as binary strings; unlike a
    lower() rewrite the original spellings stay available downstream."""
    part = _t(spark, sf_dir, "part")
    # the lower()-rewrite oracle is only equivalent to UTF8_LCASE for
    # ASCII data (full case folding diverges on e.g. Turkish dotless I
    # and U+00DF) — enforce that precondition in the plan instead of
    # assuming it, so a fixture change fails loudly rather than
    # silently certifying the wrong thing
    ascii_only = F.col("p_type").rlike(r"^[\x20-\x7e]*$")
    mixed = part.select(
        F.when(
            ~ascii_only,
            F.raise_error(
                F.concat(
                    F.lit(
                        "collation_lcase_grouping: non-ASCII p_type breaks "
                        "the lower()-rewrite oracle equivalence: "
                    ),
                    F.col("p_type"),
                )
            ),
        )
        .when(F.col("p_partkey") % 2 == 0, F.lower("p_type"))
        .otherwise(F.upper("p_type"))
        .alias("t")
    )
    collated = mixed.select(F.expr("t COLLATE UTF8_LCASE").alias("tc"), "t")
    return collated.groupBy("tc").agg(
        F.lower(F.min("t")).alias("type_folded"),
        F.count(F.lit(1)).alias("n_parts"),
        F.min("t").alias("binary_min"),
    ).select("type_folded", "n_parts", "binary_min")
