"""Source layer: schema-explicit readers + mechanical column normalization.

Reference semantics covered (SURVEY.md §2.1):
- R1 CSV scan  — migration.py:130 (``pd.read_csv``): here
  ``spark.read.csv`` with an *explicit* StructType. Schema inference costs
  an extra full pass and drifts between runs (SURVEY.md §7.4.4);
  at 100 TB an inference pass is a non-starter.
- R2 rename-all projection — migration.py:133
  (``strip().lower().replace(" ", "_")``) as :func:`normalize_columns`.
  A pure metadata operation: ``toDF`` rewrites the plan's output names,
  no job runs.

The analytics fixtures (TESTDATA.md) are Parquet; reads stay fully
declarative so Catalyst pushes filters and prunes columns down to the
scan (verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import scoped_conf
from . import footer

_log = logging.getLogger(__name__)

#: Text codecs Spark cannot split: the whole file becomes ONE task no
#: matter the cluster size. (bzip2 is absent on purpose — it splits.)
_UNSPLITTABLE_EXTS = (".gz", ".zip", ".snappy", ".lz4", ".deflate", ".zst")

#: One HDFS-ish split: a single unsplittable file beyond this is a
#: serialization bottleneck worth warning about.
_UNSPLITTABLE_WARN_BYTES = 128 << 20


def _warn_if_unsplittable_single_file(
    path: str, threshold: int | None = None
) -> bool:
    """Log a warning when ``path`` is one LOCAL compressed-text file
    big enough that its non-splittable codec serializes the scan to a
    single task (the trap documented in :func:`read_json`'s docstring —
    now enforced in code, not just prose). Returns whether it warned
    (for tests). Globs, directories, and remote URIs pass through
    silently: their parallelism comes from file COUNT, which is the
    layout fix this warning recommends."""
    if threshold is None:  # read the module global at CALL time so
        threshold = _UNSPLITTABLE_WARN_BYTES  # tests can lower it
    p = path[7:] if path.startswith("file://") else path
    if not p.lower().endswith(_UNSPLITTABLE_EXTS) or not os.path.isfile(p):
        return False
    try:
        size = os.path.getsize(p)
    except OSError:
        return False
    if size <= threshold:
        return False
    _log.warning(
        "single %s file %s is %.1f MB: this codec is not splittable, so "
        "Spark will scan it in ONE task regardless of cluster size — "
        "ship many moderate files (or bzip2, or parquet) instead",
        os.path.splitext(p)[1],
        path,
        size / 1e6,
    )
    return True

#: Fixture tables (TESTDATA.md); one parquet file per table under a sf dir.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def norm_name(c: str) -> str:
    """Mechanical column-name normalization (migration.py:133)."""
    return c.strip().lower().replace(" ", "_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """R2: rename every column via :func:`norm_name` (metadata-only)."""
    return df.toDF(*[norm_name(c) for c in df.columns])


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    infer: bool = False,
    mode: str | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """R1: CSV scan. Explicit ``schema`` preferred; ``infer=True`` only for
    reference-parity experiments (extra pass over the data).

    ``mode``/``corrupt_col`` mirror :func:`read_json`: with
    ``mode="PERMISSIVE"`` a malformed line (type mismatch, wrong field
    count) yields a null-fielded row, and if ``corrupt_col`` is named —
    it must also appear in ``schema`` as a STRING field — the raw line
    is quarantined there for a dead-letter audit instead of silently
    poisoning the load. Spark requires such a query to reference at
    least one ordinary column besides the corrupt one."""
    _warn_if_unsplittable_single_file(path)
    reader = spark.read.option("header", str(header).lower())
    if mode is not None:
        reader = reader.option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    multiline: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON file scan (SURVEY.md §2.5 row 1, the third ingest format
    beside parquet/CSV — reference analog migration.py:130, the scan
    slot the pipeline points at whatever input it is given).

    Defaults target JSON Lines (one object per line), the only JSON
    layout that SPLITS at scale: Spark assigns line ranges of a JSONL
    file to tasks the same way it does CSV, so a 1 TB JSONL input
    parallelizes across the cluster (split + no-torn-rows asserted in
    tests/test_sources.py). ``multiline=True`` parses whole files as
    single JSON documents/arrays instead — each FILE becomes one
    unsplittable task, so it is for small config-ish inputs only.
    Compression is the same trap: ``.json.gz`` is a non-splittable
    codec, so one giant gzipped file also serializes to one task —
    at scale ship JSONL as many moderate files (or bzip2, which
    splits), or better, convert to parquet at the ingest edge.

    Explicit ``schema`` preferred for the same reasons as
    :func:`read_csv` (inference costs an extra full pass and drifts);
    it also pins the semantics of malformed rows: with
    ``mode="PERMISSIVE"`` (default) a bad line yields a null-fielded
    row, optionally captured whole in ``corrupt_col`` for a quarantine
    audit; ``mode="DROPMALFORMED"`` silently drops; ``mode="FAILFAST"``
    aborts the scan.
    """
    _warn_if_unsplittable_single_file(path)
    reader = spark.read.option("multiLine", str(multiline).lower()).option(
        "mode", mode
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture reader: the file stores nanosecond timestamps,
    which Spark's parquet reader rejects by default — read them as
    int64 nanos (``nanosAsLong``, a runtime-settable SQL conf) and
    convert to the engine's µs TimestampType. Truncation (floor to µs)
    matches DuckDB's ns→string truncation, so oracles line up."""
    # Set the ns-as-long conf only around plan analysis, then restore:
    # the converted schema is baked into the analyzed plan (verified —
    # execution succeeds after the unset), and leaving the flag on
    # session-wide would silently turn every LATER ns-timestamp parquet
    # read into bigint columns instead of Spark's default loud error.
    # (The streaming reader keeps it set: micro-batches plan new files
    # for the lifetime of the query.)
    path = f"{sf_dir}/events.parquet"
    # r12 fast path: footer-derived explicit schema (no inference job,
    # no conf dance). _footer_schema returns None for ns-ANNOTATED
    # timestamps — those need the nanosAsLong conf — while a raw int64
    # epoch-ns column reads natively as long and takes the same exact
    # ns→µs integer conversion.
    schema = _footer_schema(path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "bigint":
        # integer division, NOT `/1000` through double: epoch-ns
        # values (~1.7e18) exceed double's 2^53 exact range
        # (ulp ≈ 256 ns), so the double path can be off by 1 µs vs
        # DuckDB's exact truncation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type.startswith("timestamp_ntz"):
        # newer fixture generators write a native timestamp[us]
        # column, which Spark reads as TIMESTAMP_NTZ. Normalize to
        # TIMESTAMP so downstream event-time ops (watermarks,
        # unix_micros, tz-aware window fns) all see one type; the
        # session tz is pinned UTC so the wall-clock is unchanged.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables from ``{sf_dir}/{name}.parquet``.

    Plans built on these stay lazy; loading all ten is free until an
    action runs, and each query's plan only scans the tables it uses.
    """
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


def fixture_rowcount(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fallback_df: DataFrame | None = None,
) -> int:
    """Exact row count of a fixture table, from parquet FOOTER metadata
    (:func:`footer.row_count`, ~1 ms) instead of a Spark count job
    (~0.2 s warm at sf0.1 — and a full scheduling round-trip).

    Several scale-pivot decisions (ngram/winnowing/simhash/tfidf
    families) need only the corpus row count at plan-build time; the
    footer's ``num_rows`` is the same exact number the count job
    returns, so the pivot is unchanged on any input. Paths the footer
    listing rule does not serve fall back to the Spark count."""
    n = footer.row_count(f"{sf_dir}/{name}.parquet")
    if n is not None:
        return n
    # fallback_df: the caller's already-built frame — counting it (not
    # a fresh read) keeps test seams that stub the table reader
    # working, and is the same number on real inputs
    if fallback_df is not None:
        return fallback_df.count()
    return fixture_table(spark, sf_dir, name).count()


def fixture_column_max(
    spark: SparkSession, sf_dir: str, name: str, column: str
):
    """Exact max of a fixture column from parquet FOOTER statistics
    (:func:`footer.column_max`, ~1 ms), else a Spark ``max`` job."""
    mx = footer.column_max(f"{sf_dir}/{name}.parquet", column)
    if mx is not None:
        return mx
    return fixture_table(spark, sf_dir, name).agg(F.max(column)).first()[0]


def _footer_schema(path: str) -> StructType | None:
    """Spark schema of a local parquet path from its footers
    (:func:`footer.arrow_schema`, ~1 ms per part), or None when the
    fast path does not apply — the footer listing rule gives none,
    parts differ (schema evolution), or a column stores nanosecond
    timestamps (legacy events encoding), which keep the dedicated
    read_events decode path.

    ``from_arrow_schema(prefer_timestamp_ntz=True)`` is validated
    field-for-field identical to Spark's own parquet inference on
    every fixture table × scale factor and on a multi-part directory
    (tests/test_sources.py)."""
    arrow = footer.arrow_schema(path)
    if arrow is None:
        return None
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        for field in arrow:
            if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
                return None
        return from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except Exception:  # an arrow type Spark has no mapping for
        return None


def fixture_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one fixture-table reader every plan module should use: routes
    ``events`` through :func:`read_events` (nanosecond timestamps need
    the legacy conf + ns→µs conversion); a direct parquet read of that
    file either errors or silently yields bigint ts depending on
    session history.

    r12: the schema comes from the parquet FOOTERS
    (:func:`_footer_schema`) — ``spark.read.parquet`` without a schema
    runs a footer-inference job (~0.1 s of driver round-trip) on EVERY
    plan build, which the bench pays once per timed run per table; the
    explicit schema skips it (the R1 schema-explicit doctrine, extended
    to the parquet fixtures). A single file and a flat directory of
    uniform parts qualify; partitioned or mixed layouts, remote paths,
    schema evolution and any footer surprise fall back to inference."""
    if name == "events":
        return read_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)
