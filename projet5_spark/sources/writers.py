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
- Upsert — :func:`merge_upsert` stages the batch once (write it, then
  append the table's rows the batch does not replace into the same
  staging directory) and swaps the directory in; :func:`scd2_upsert`
  keeps version history behind the same swap (:func:`_swap_commit`).
  Row counts of written parquet come from footers
  (:func:`_table_rows`), so a merge or a first load never re-runs the
  batch's lineage (CSV scan, cleaning) just to count it.
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
    (:func:`_table_rows`): the table's rows before the merge, the
    staged batch's rows, and the survivors as staging's rows after the
    append minus the batch's. The new batch must be unique on
    ``key_cols``.
    """
    existing = _existing_or_none(spark, path)
    if existing is None:
        new.write.mode("overwrite").parquet(path)
        return 0, _table_rows(spark, path)

    with _swap_commit(path) as staging:
        existing.limit(0).unionByName(new).write.parquet(staging)
        n_new = _table_rows(spark, staging)
        staged = spark.read.parquet(staging)
        survivors = existing.join(
            staged.select(*key_cols), on=key_cols, how="left_anti"
        ).select(*(F.col(f.name).cast(f.dataType) for f in staged.schema))
        survivors.write.mode("append").parquet(staging)
        n_surv = _table_rows(spark, staging) - n_new
        updated = _table_rows(spark, path) - n_surv
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
    broadcasts it when small.
    """
    existing = _existing_or_none(spark, path)
    if existing is None:  # target doesn't exist yet -> plain write
        new.write.mode("overwrite").parquet(path)
        return _table_rows(spark, path)
    existing = existing.select(*key_cols)
    to_insert = new.join(existing, on=key_cols, how="left_anti")
    # Cache: the frame is both written and counted; without it the
    # anti-join would run twice.
    to_insert.persist()
    try:
        n = to_insert.count()
        if n:
            to_insert.write.mode("append").parquet(path)
    finally:
        to_insert.unpersist()
    return n


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

    Dataflow is set-based like :func:`merge_upsert` — one join to
    classify current rows, a union of (untouched history + closed-out
    rows + new versions) — and the write uses the same two-rename
    crash-safe swap. On Delta/Iceberg this becomes MERGE with the same
    branches. The new batch must be unique on ``key_cols``.

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
        stamped.write.mode("overwrite").parquet(path)
        return 0, _table_rows(spark, path)

    current = existing.where(F.col("__current"))
    history = existing.where(~F.col("__current"))
    arriving = new.select(
        *key_cols,
        F.col(ts_col).cast("timestamp").alias("__new_ts"),
        digest.alias("__new_digest"),
    )
    cur_digested = current.withColumn("__cur_digest", digest)
    matched = cur_digested.join(arriving, on=key_cols, how="inner")
    # a key only versions when the content changed AND the arrival is
    # strictly newer than the open version — a replayed older snapshot
    # (out-of-order delivery) must not close the current row with
    # __valid_to < __valid_from and install stale values as current.
    # coalesce: a NULL ts (unparseable/absent) is "not newer" — without
    # it the three-valued NULL comparison drops the key from BOTH the
    # versioning and the skip branch, leaving the old row open while
    # the new one still inserts (two __current rows for one key)
    versioning = (F.col("__cur_digest") != F.col("__new_digest")) & F.coalesce(
        F.col("__new_ts") > F.col("__valid_from"), F.lit(False)
    )
    # changed current rows close out at the new version's timestamp
    closed = (
        matched.where(versioning)
        .withColumn("__valid_to", F.col("__new_ts"))
        .withColumn("__current", F.lit(False))
        .drop("__new_ts", "__new_digest", "__cur_digest")
    )
    changed_keys = closed.select(*key_cols)
    # current rows stay untouched when their key is absent, unchanged,
    # or only matched by a stale (not-strictly-newer) arrival
    untouched_current = current.join(changed_keys, on=key_cols, how="left_anti")
    # only genuinely new content inserts: unseen keys + versioning keys;
    # unchanged and stale arrivals are both skipped
    no_insert_keys = matched.where(~versioning).select(*key_cols)
    inserts = stamped.join(no_insert_keys, on=key_cols, how="left_anti")
    out = (
        history.unionByName(untouched_current)
        .unionByName(closed)
        .unionByName(inserts.select(*closed.columns))
    )
    n_closed = closed.count()
    n_inserted = inserts.count()
    with _swap_commit(path) as staging:
        out.write.parquet(staging)
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
