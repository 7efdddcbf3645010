"""Sink layer: batch writes + idempotent (anti-join) appends.

Reference semantics covered (SURVEY.md §2.1):
- R15 document insert — migration.py:185/:229 did one ``insert_one`` RPC
  per row; here a single batch ``df.write`` (the per-row network term of
  SURVEY.md §2.2 disappears structurally).
- R16 sink truncate — migration.py:124-127 ``col.drop()`` →
  ``mode("overwrite")``.
- R14 existence anti-check — migration.py:179-183/:205-212 probed the
  target per row (``find_one``); :func:`append_if_absent` replaces that
  with one **left-anti join** of the new batch against the existing
  table on the natural key.
- Upsert — :func:`merge_upsert` (SCD-1) and :func:`scd2_upsert`
  (SCD-2) share one staged dataflow: the batch's new rows are written
  once into the staging directory of a swap commit
  (:func:`_swap_commit`), everything else is derived from that staged
  parquet and appended beside it, and the directory is swapped in.
  Every write that needs a count goes through :func:`_append`, which
  reads it from parquet footers (:func:`_table_rows`), so no writer
  re-runs a batch's lineage (CSV scan, cleaning) to count it.
- R17 index creation — migration.py:80-103: Spark has no secondary
  indexes; the physical-layout analog (SURVEY.md §4.3) is
  ``partitionBy`` (partition pruning) + ``sortWithinPartitions``
  (row-group/min-max skipping inside Parquet).

Scale posture: writers never collect; layout args exist so a 100 TB
table lands partitioned on its pruning key with clustered sort order.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import footer


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
    desc: bool = False,
) -> None:
    """Batch Parquet write with optional layout.

    ``partition_by`` → directory-level partition pruning on read.
    ``sort_within_by`` mirrors the reference's compound index with a DESC
    component (migration.py:98-103): sorted row groups give min/max-stat
    skipping for range predicates on the sort key.
    """
    if sort_within_by:
        keys = [F.desc(c) if desc else F.asc(c) for c in sort_within_by]
        df = df.sortWithinPartitions(*keys)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _existing_or_none(spark: SparkSession, path: str):
    """Read the merge target, distinguishing 'absent' from 'broken'.

    A missing table means first load. Anything else — corrupt footer,
    transient FS error, a crash that left the table renamed aside —
    must RAISE, never be treated as first load: silently overwriting
    would destroy the existing data/history. Crash leftovers from an
    interrupted swap are detected explicitly with a recovery hint.
    """
    import glob
    import logging

    if not os.path.exists(path):
        leftovers = glob.glob(f"{path}__old_*") + glob.glob(f"{path}__staging_*")
        if leftovers:
            raise RuntimeError(
                f"merge target {path} is missing but a prior run left "
                f"{leftovers}: a swap was interrupted mid-commit. Recover "
                f"by renaming the newest __old_* (or a complete "
                f"__staging_*) back to {path} before merging again."
            )
        return None
    # target present: any __old_* is garbage from a commit whose final
    # cleanup died — delete it now so the mid-swap detector above stays
    # unambiguous (exactly one candidate) for a future genuine crash.
    # __staging_* is only warned about: it may belong to an in-flight
    # writer, and a stale one is harmlessly superseded by the next swap.
    log = logging.getLogger("projet5_spark.run")
    for stale in glob.glob(f"{path}__old_*"):
        log.warning("removing stale swap backup %s (commit completed)", stale)
        shutil.rmtree(stale)
    for stale in glob.glob(f"{path}__staging_*"):
        log.warning(
            "stale staging dir %s left behind (crashed or in-flight "
            "writer); it will be superseded, not reused", stale
        )
    return spark.read.parquet(path)


def _table_rows(spark: SparkSession, path: str) -> int:
    """Rows of the parquet table at ``path``: the footers' row counts
    when :func:`footer.row_count` gives them, else a Spark ``count()``
    of the written files — never a re-run of the lineage that wrote
    them."""
    n = footer.row_count(path)
    return spark.read.parquet(path).count() if n is None else n


def _append(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Append ``df`` to the parquet directory at ``path`` (created when
    absent) and return the rows it added: the table's rows after the
    write minus before, both from :func:`_table_rows`. The write is the
    only job that evaluates ``df``."""
    before = _table_rows(spark, path) if os.path.exists(path) else 0
    df.write.mode("append").parquet(path)
    return _table_rows(spark, path) - before


@contextmanager
def _swap_commit(path: str):
    """Crash-safe table replacement. The body writes the new table into
    the yielded staging directory; on a clean exit the commit renames
    the current table aside, renames staging in and deletes the
    set-aside copy. Each rename is a single atomic ``os.rename``; a
    crash can leave a stale ``__old``/``__staging`` directory (detected
    on the next merge) but never a destroyed table — unlike
    delete-then-move. A body that raises deletes its staging directory
    and leaves the table untouched; an in-process failure of the commit
    rename rolls the original back."""
    token = uuid.uuid4().hex[:8]
    staging = f"{path}__staging_{token}"
    backup = f"{path}__old_{token}"
    try:
        yield staging
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except BaseException:
        os.rename(backup, path)  # roll the table back, then re-raise
        raise
    shutil.rmtree(backup)


def merge_upsert(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    key_cols: list[str],
) -> tuple[int, int]:
    """SCD-1 merge onto a parquet table: rows whose key exists are
    replaced by the new version, unseen keys are inserted. Returns
    (updated, inserted) counts.

    Dataflow — the batch's lineage (CSV scan, cleaning, ...) runs once:

    1. ``new`` is written into the staging directory of
       :func:`_swap_commit`, in the merged output's column order and
       types (a ``unionByName`` against an empty copy of the table,
       which scans nothing);
    2. the table's rows whose key is absent from the keys read back
       from that staged parquet — one left-anti join — are appended
       into the same directory;
    3. the staging directory is swapped in.

    This is the parquet-only stand-in for ``MERGE INTO`` (a
    Delta/Iceberg table would make the swap a metadata commit; the
    dataflow is identical). Every count is read from parquet footers
    (:func:`_table_rows`, through :func:`_append`): the table's rows
    before the merge, the staged batch's rows, and the survivors'. The
    new batch must be unique on ``key_cols``.
    """
    existing = _existing_or_none(spark, path)
    if existing is None:
        return 0, _append(spark, new, path)

    with _swap_commit(path) as staging:
        n_new = _append(spark, existing.limit(0).unionByName(new), staging)
        staged = spark.read.parquet(staging)
        survivors = existing.join(
            staged.select(*key_cols), on=key_cols, how="left_anti"
        ).select(*(F.col(f.name).cast(f.dataType) for f in staged.schema))
        updated = _table_rows(spark, path) - _append(spark, survivors, staging)
    return updated, n_new - updated


def append_if_absent(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    key_cols: list[str],
) -> int:
    """R14: idempotent append — insert only rows whose natural key is not
    already present at ``path``. Returns the number of rows appended.

    One anti-join instead of O(rows) point lookups. The existing side is
    pruned to the key columns before the join, so at scale the probe side
    reads only the key bytes from Parquet (column pruning) and AQE
    broadcasts it when small. The anti-join's output is appended as is
    and counted from footers (:func:`_append`), so it runs once; a
    replay that adds nothing still writes one zero-row part.
    """
    existing = _existing_or_none(spark, path)
    if existing is not None:
        new = new.join(existing.select(*key_cols), on=key_cols, how="left_anti")
    return _append(spark, new, path)


def write_mongodb(
    df: DataFrame,
    uri: str,
    database: str,
    collection: str,
    mode: str = "append",
) -> None:
    """R15/R16 MongoDB sink parity (reference migration.py:185/:229
    wrote one ``insert_one`` RPC per row into the collections named at
    :121-122; here it is a single distributed batch write).

    Requires the MongoDB Spark Connector
    (``org.mongodb.spark:mongo-spark-connector``) on the session's
    classpath — e.g. ``spark-submit --packages``. This sandbox ships
    neither a mongod nor the connector jar, so the engine's default
    sink mapping is Parquet (SURVEY.md §1.1); calling this without the
    connector raises with a setup hint instead of a bare
    ClassNotFoundException.
    """
    try:
        (
            df.write.format("mongodb")
            .mode(mode)
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .save()
        )
    except Exception as e:
        # Only rewrite genuine data-source-resolution failures — a
        # reachable connector with a down/misconfigured mongod must
        # surface its real error, not a bogus "install the jar" hint.
        msg = str(e)
        if (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "ClassNotFoundException" in msg
            or "Failed to find the data source" in msg
            or "Failed to find data source" in msg
        ):
            raise RuntimeError(
                "MongoDB Spark Connector not available on this session's "
                "classpath; add org.mongodb.spark:mongo-spark-connector "
                "via --packages, or use write_parquet (the engine's "
                "documented sink mapping for the reference's collections)"
            ) from e
        raise


def scd2_upsert(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    key_cols: list[str],
    ts_col: str,
) -> tuple[int, int]:
    """SCD-2 merge onto a parquet dimension: history is preserved.

    Each row carries ``__valid_from`` / ``__valid_to`` / ``__current``.
    For an incoming key that exists and changed, the current version is
    closed out (``__valid_to`` = the new row's ``ts_col``) and the new
    version opens; unseen keys insert as current. Returns
    (versions_closed, versions_inserted).

    Dataflow — staged like :func:`merge_upsert`, so the batch's lineage
    runs once and both counts come from footers (:func:`_append`):

    1. one left join of the stamped batch against the current rows
       picks the new versions, which are written into the staging
       directory of :func:`_swap_commit` (``versions_inserted``);
    2. the current rows whose key is in that staged parquet close out
       at the staged ``__valid_from`` and are appended
       (``versions_closed``);
    3. history and the current rows whose key is not staged are
       appended, and the directory is swapped in.

    On Delta/Iceberg this becomes MERGE with the same branches. The new
    batch must be unique on ``key_cols``.

    Change detection: a re-arriving key only versions when a non-key,
    non-``ts_col`` attribute actually changed (sha2 digest compare), so
    replayed or full-snapshot batches where most rows are unchanged do
    NOT fabricate phantom versions — idempotent under redelivery.

    Out-of-order guard: an arrival whose ``ts_col`` is not strictly
    newer than the open version's ``__valid_from`` is skipped even when
    its content differs — replaying an older snapshot can neither close
    the current row with ``__valid_to < __valid_from`` nor install
    stale values as the current version.
    """
    far_future = F.lit("9999-12-31 00:00:00").cast("timestamp")
    val_cols = sorted(c for c in new.columns if c not in set(key_cols) | {ts_col})
    digest = F.sha2(
        F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                              for c in val_cols]),
        256,
    )
    stamped = (
        new.withColumn("__valid_from", F.col(ts_col).cast("timestamp"))
        .withColumn("__valid_to", far_future)
        .withColumn("__current", F.lit(True))
    )
    existing = _existing_or_none(spark, path)
    if existing is None:
        return 0, _append(spark, stamped, path)

    current = existing.where(F.col("__current"))
    cur = current.select(
        *key_cols,
        F.col("__valid_from").alias("__cur_from"),
        digest.alias("__cur_digest"),
        F.lit(True).alias("__matched"),
    )
    # a key versions when it is unseen, or when its content changed AND
    # the arrival is strictly newer than the open version — a replayed
    # older snapshot (out-of-order delivery) must not close the current
    # row with __valid_to < __valid_from and install stale values as
    # current. coalesce: a NULL ts (unparseable/absent) is "not newer",
    # so such an arrival is skipped
    is_new_version = F.col("__matched").isNull() | (
        (F.col("__cur_digest") != digest)
        & F.coalesce(F.col("__valid_from") > F.col("__cur_from"), F.lit(False))
    )
    inserts = (
        stamped.join(cur, on=key_cols, how="left")
        .where(is_new_version)
        .drop("__cur_from", "__cur_digest", "__matched")
    )
    with _swap_commit(path) as staging:
        n_inserted = _append(spark, existing.limit(0).unionByName(inserts), staging)
        staged = spark.read.parquet(staging)
        like_staged = [F.col(f.name).cast(f.dataType) for f in staged.schema]
        opened = staged.select(*key_cols, F.col("__valid_from").alias("__new_from"))
        # changed current rows close out at the new version's timestamp
        closed = (
            current.join(opened, on=key_cols, how="inner")
            .withColumn("__valid_to", F.col("__new_from"))
            .withColumn("__current", F.lit(False))
            .select(*like_staged)
        )
        n_closed = _append(spark, closed, staging)
        kept = existing.where(~F.col("__current")).unionByName(
            current.join(opened, on=key_cols, how="left_anti")
        )
        _append(spark, kept.select(*like_staged), staging)
    return n_closed, n_inserted


def append_index_partition(
    df: DataFrame, path: str, partition_col: str, value
) -> None:
    """Idempotently land one ingest partition of a maintained index
    table (e.g. the near-dup shingle index a growing corpus maintains
    instead of re-shingling history every day).

    The batch is stamped with ``partition_col = value`` and written
    with DYNAMIC partition overwrite: only the partitions present in
    the batch are replaced, every other partition is untouched — so
    re-running an ingest (retry, replayed orchestration step) rewrites
    its own partition with identical content instead of duplicating
    rows or clobbering history. This is the exactly-once-per-partition
    idiom partitioned parquet/HMS tables support natively; the
    anti-join form (:func:`append_if_absent`) covers tables without a
    partition boundary to overwrite.

    Scale: one shuffle-free write of batch-sized data; readers prune to
    the partitions their predicate names (ingest-date filters never
    touch historical files)."""
    (
        df.withColumn(partition_col, F.lit(value))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
