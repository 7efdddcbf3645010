"""Source/sink coverage (SURVEY.md §2.5 scans): CSV and JSON readers
with explicit schemas produce the same relation as the parquet
original; column normalization is metadata-only."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from projet5_spark.sources.readers import norm_name, normalize_columns, read_csv

CUSTOMER_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)


def _agg(df):
    cents = F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("long")
    return (
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("bal_cents"),
            F.count_distinct("c_mktsegment").alias("segs"),
        ).collect()[0]
    )


def test_csv_roundtrip_matches_parquet(spark, tmp_path):
    pq = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    path = str(tmp_path / "cust_csv")
    pq.write.option("header", "true").csv(path)
    back = read_csv(spark, path, schema=CUSTOMER_SCHEMA)
    assert back.schema == CUSTOMER_SCHEMA
    assert tuple(_agg(back)) == tuple(_agg(pq))


def test_json_roundtrip_matches_parquet(spark, tmp_path):
    pq = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    path = str(tmp_path / "cust_json")
    pq.write.json(path)
    back = spark.read.schema(CUSTOMER_SCHEMA).json(path)
    assert tuple(_agg(back)) == tuple(_agg(pq))


def test_normalize_columns_is_metadata_only(spark):
    df = spark.createDataFrame([(1, "x")], ["  Mixed Case Col ", "Other Col"])
    out = normalize_columns(df)
    assert out.columns == ["mixed_case_col", "other_col"]
    assert norm_name(" A B ") == "a_b"


def test_csv_infer_mode_runs(spark, tmp_path):
    pq = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    path = str(tmp_path / "region_csv")
    pq.write.option("header", "true").csv(path)
    back = read_csv(spark, path, infer=True)
    assert back.count() == pq.count()
    assert set(back.columns) == set(pq.columns)


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    pq = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    path = str(tmp_path / "cust_orc")
    pq.write.orc(path)
    back = spark.read.orc(path)
    assert tuple(_agg(back)) == tuple(_agg(pq))


def test_text_source_line_counts(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_txt")
    docs.select("text").write.text(path)
    back = spark.read.text(path)
    assert back.count() == docs.count()
    # whole-corpus token mass survives the text round-trip
    toks = back.select(F.explode(F.split("value", " "))).count()
    want = docs.select(F.explode(F.split("text", " "))).count()
    assert toks == want


def test_binary_file_source(spark, tmp_path):
    """binaryFile source: the ingestion path for opaque media payloads
    (images/audio) — path + length + raw bytes per file."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "blobs")
    docs.limit(5).select("text").write.text(path)
    back = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(path)
    assert back.count() >= 1
    row = back.select("length", "content").first()
    assert row["length"] == len(row["content"])


def test_write_mongodb_raises_actionable_error_without_connector(spark):
    """The Mongo sink exists for reference parity; without the connector
    jar it must fail with a setup hint, not a bare class-load error."""
    import pytest

    from projet5_spark.sources.writers import write_mongodb

    df = spark.range(3)
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        write_mongodb(df, "mongodb://localhost", "db", "c")


def test_read_json_mode_matrix(spark, tmp_path):
    """The three malformed-row policies of read_json on one planted-bad
    JSONL file: PERMISSIVE quarantines the raw line and nulls the
    fields, DROPMALFORMED silently drops the row, FAILFAST aborts the
    scan. (PERMISSIVE is also driver-certified end-to-end by
    csv_scan_corrupt_quarantine / json_scan_roundtrip_events.)"""
    import pytest

    from projet5_spark.sources.readers import read_json

    path = str(tmp_path / "bad_jsonl")
    lines = ['{"id": 1, "v": "a"}', "{not json at all", '{"id": 3, "v": "c"}']
    spark.createDataFrame([(ln,) for ln in lines], "value string").coalesce(
        1
    ).write.text(path)

    perm = read_json(
        spark,
        path,
        schema="id BIGINT, v STRING, _corrupt STRING",
        corrupt_col="_corrupt",
    )
    rows = {r["id"]: r for r in perm.collect()}
    assert sorted(k for k in rows if k is not None) == [1, 3]
    bad = [r for r in perm.collect() if r["_corrupt"] is not None]
    assert len(bad) == 1 and bad[0]["id"] is None and "not json" in bad[0]["_corrupt"]

    dropped = read_json(spark, path, schema="id BIGINT, v STRING", mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]

    failfast = read_json(spark, path, schema="id BIGINT, v STRING", mode="FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        failfast.collect()


def test_read_csv_mode_matrix(spark, tmp_path):
    """Same matrix for read_csv: a type-malformed line is quarantined
    (PERMISSIVE + corrupt col), dropped (DROPMALFORMED), or aborts
    (FAILFAST)."""
    import pytest

    from projet5_spark.sources.readers import read_csv

    path = str(tmp_path / "bad_csv")
    lines = ["1,a", "x,b", "3,c"]
    spark.createDataFrame([(ln,) for ln in lines], "value string").coalesce(
        1
    ).write.text(path)

    perm = read_csv(
        spark,
        path,
        schema="id BIGINT, v STRING, _corrupt STRING",
        header=False,
        mode="PERMISSIVE",
        corrupt_col="_corrupt",
    )
    bad = [r for r in perm.collect() if r["_corrupt"] is not None]
    assert len(bad) == 1 and bad[0]["id"] is None and bad[0]["_corrupt"] == "x,b"

    dropped = read_csv(
        spark, path, schema="id BIGINT, v STRING", header=False, mode="DROPMALFORMED"
    )
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]

    failfast = read_csv(
        spark, path, schema="id BIGINT, v STRING", header=False, mode="FAILFAST"
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        failfast.collect()


def test_line_format_scans_split_across_tasks(spark, tmp_path):
    """The scale claim behind the JSONL/CSV readers is that they SPLIT
    by line ranges (a 1 TB input parallelizes like parquet). Prove it
    at fixture size by shrinking maxPartitionBytes: the same file must
    scan as multiple input partitions AND still produce exactly the
    original rows (no line torn at a split boundary)."""
    from pyspark.sql import functions as F

    from projet5_spark.sources.readers import read_csv, read_json

    n = 20_000
    src = spark.range(n).select(
        F.col("id"), F.concat(F.lit("name_"), F.col("id")).alias("v")
    )
    jpath, cpath = str(tmp_path / "big_jsonl"), str(tmp_path / "big_csv")
    src.coalesce(1).write.json(jpath)
    src.coalesce(1).write.option("header", "true").csv(cpath)

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        j = read_json(spark, jpath, schema="id BIGINT, v STRING")
        c = read_csv(spark, cpath, schema="id BIGINT, v STRING")
        assert j.rdd.getNumPartitions() > 1, "JSONL scan did not split"
        assert c.rdd.getNumPartitions() > 1, "CSV scan did not split"
        for df in (j, c):
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("id").alias("s"),
                F.count_distinct("v").alias("d"),
            ).first()
            assert (agg["n"], agg["s"], agg["d"]) == (n, n * (n - 1) // 2, n)
    finally:
        spark.conf.set(key, prev)


def test_unsplittable_single_file_warning(spark, tmp_path, caplog):
    """A single large gzipped text file must trigger the one-task
    serialization warning; small files, directories, and splittable
    layouts must not (the guard behind read_json's docstring trap)."""
    import gzip
    import logging

    from projet5_spark.sources.readers import (
        _warn_if_unsplittable_single_file,
        read_json,
    )

    big = tmp_path / "big.json.gz"
    with gzip.open(big, "wt") as f:
        f.write('{"id": 1}\n')
    small = tmp_path / "small.json.gz"
    with gzip.open(small, "wt") as f:
        f.write('{"id": 1}\n')

    # threshold shrunk so the "big" file trips without writing 128 MB
    assert _warn_if_unsplittable_single_file(str(big), threshold=0)
    assert not _warn_if_unsplittable_single_file(str(small))  # under default
    assert not _warn_if_unsplittable_single_file(str(tmp_path))  # a dir
    assert not _warn_if_unsplittable_single_file(
        str(tmp_path / "plain.jsonl"), threshold=0
    )  # splittable suffix

    # and the reader path emits it end-to-end (log capture, real read);
    # the threshold global is read at call time, so lowering it here
    # reaches read_json's internal call
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="projet5_spark.sources.readers"):
        import projet5_spark.sources.readers as R

        prev = R._UNSPLITTABLE_WARN_BYTES
        R._UNSPLITTABLE_WARN_BYTES = 0
        try:
            df = read_json(spark, str(big), schema="id BIGINT")
        finally:
            R._UNSPLITTABLE_WARN_BYTES = prev
    assert any("not splittable" in r.message for r in caplog.records)
    assert df.count() == 1

    # no warning on an ordinary read at the real 128 MB threshold
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="projet5_spark.sources.readers"):
        read_json(spark, str(small), schema="id BIGINT").count()
    assert not any("not splittable" in r.message for r in caplog.records)


def test_append_index_partition_idempotent(spark, tmp_path):
    """Re-landing the same ingest partition (retried orchestration)
    must leave the table exactly as after the first landing, and must
    never touch sibling partitions."""
    from projet5_spark.sources.writers import append_index_partition

    path = str(tmp_path / "idx")
    hist = spark.createDataFrame(
        [(1, 11, 111), (2, 22, 222)], "doc_id long, h1 long, h2 long"
    )
    batch = spark.createDataFrame(
        [(3, 33, 333), (4, 44, 444)], "doc_id long, h1 long, h2 long"
    )
    append_index_partition(hist, path, "ingest_date", "2025-01-01")
    append_index_partition(batch, path, "ingest_date", "2025-01-02")

    def snapshot():
        return sorted(
            (r.doc_id, r.h1, r.h2, str(r.ingest_date))
            for r in spark.read.parquet(path).collect()
        )

    once = snapshot()
    assert len(once) == 4
    # retry the batch landing: dynamic overwrite replaces ONLY the
    # batch partition, with identical content
    append_index_partition(batch, path, "ingest_date", "2025-01-02")
    assert snapshot() == once
    # and a new partition appends without disturbing the others
    append_index_partition(
        spark.createDataFrame([(5, 55, 555)], "doc_id long, h1 long, h2 long"),
        path,
        "ingest_date",
        "2025-01-03",
    )
    assert len(snapshot()) == 5 and set(once) <= set(snapshot())


def test_write_mongodb_roundtrip_live():
    """R15 live-sink smoke — the one reference-parity surface this
    sandbox cannot exercise (no mongod, no connector jar). Gated on
    ``SPARK_GRAFT_MONGO_URI`` so it runs wherever a MongoDB exists:
    the write goes through :func:`write_mongodb` (the batch form of
    migration.py's per-row insert_one loop) in a SUBPROCESS session —
    the connector package conf must be set before the JVM starts, and
    the suite's singleton session has no connector on its classpath —
    then the rows are read back through the same connector and
    compared. Skipped (not passed) in the sandbox; COVERAGE.md carries
    the standing environment-blocked status."""
    import os
    import subprocess
    import sys

    import pytest

    uri = os.environ.get("SPARK_GRAFT_MONGO_URI")
    if not uri:
        pytest.skip(
            "set SPARK_GRAFT_MONGO_URI (and have the mongo-spark-connector "
            "resolvable) to run the live MongoDB sink smoke"
        )
    pkg = os.environ.get(
        "SPARK_GRAFT_MONGO_PACKAGE",
        "org.mongodb.spark:mongo-spark-connector_2.13:10.4.1",
    )
    code = f"""
import sys
from pyspark.sql import SparkSession
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from projet5_spark.sources.writers import write_mongodb

spark = (SparkSession.builder.master("local[2]")
         .appName("mongo-smoke")
         .config("spark.jars.packages", {pkg!r})
         .getOrCreate())
df = spark.createDataFrame(
    [(1, "ALGERIA"), (2, "BRAZIL")], "n_nationkey long, n_name string")
write_mongodb(df, {uri!r}, "projet5_smoke", "nation", mode="overwrite")
back = (spark.read.format("mongodb")
        .option("connection.uri", {uri!r})
        .option("database", "projet5_smoke")
        .option("collection", "nation").load())
rows = sorted((r.n_nationkey, r.n_name) for r in back.collect())
assert rows == [(1, "ALGERIA"), (2, "BRAZIL")], rows
print("MONGO_SMOKE_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    assert "MONGO_SMOKE_OK" in out.stdout, out.stderr[-2000:]


def test_footer_schema_matches_spark_inference_all_fixtures(spark):
    """The r12 footer-derived explicit schema (fixture_table fast path)
    must be field-for-field what Spark's own parquet inference returns,
    for every fixture table at every committed scale factor — else the
    fast path would silently change dtypes engine-wide."""
    import os

    from projet5_spark.sources.readers import TABLES, _footer_schema

    checked = 0
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                   "/root/testdata/sf0.1"):
        for name in TABLES:
            path = f"{sf_dir}/{name}.parquet"
            if not os.path.exists(path):
                continue
            got = _footer_schema(path)
            if name == "events":
                # events may be ns-legacy on other checkouts, for which
                # _footer_schema returns None BY DESIGN — branch before
                # the not-None assert (r13 advice fix)
                continue
            assert got is not None, path
            assert got == spark.read.parquet(path).schema, path
            checked += 1
    assert checked >= 27  # 9 non-events tables x 3 scale factors


def test_footer_schema_multipart_directory(spark, tmp_path):
    """r13 (VERDICT item 3): _footer_schema must serve a directory of
    uniform-schema parts (at 100 TB every table is a directory), match
    Spark's inference on it, and still fall back to None when parts
    genuinely differ (schema evolution) or the part count exceeds the
    probe cap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet5_spark.sources import footer
    from projet5_spark.sources.readers import _footer_schema

    uniform = tmp_path / "uniform.parquet"
    uniform.mkdir()
    t = pa.table({"k": pa.array([1, 2], pa.int64()),
                  "v": pa.array(["a", "b"], pa.string())})
    pq.write_table(t, uniform / "part-000.parquet")
    pq.write_table(t, uniform / "part-001.parquet")
    (uniform / "_SUCCESS").write_text("")  # marker files are ignored
    got = _footer_schema(str(uniform))
    assert got is not None
    assert got == spark.read.parquet(str(uniform)).schema

    evolved = tmp_path / "evolved.parquet"
    evolved.mkdir()
    pq.write_table(t, evolved / "part-000.parquet")
    t2 = pa.table({"k": pa.array([3], pa.int64()),
                   "v": pa.array(["c"], pa.string()),
                   "extra": pa.array([1.5], pa.float64())})
    pq.write_table(t2, evolved / "part-001.parquet")
    assert _footer_schema(str(evolved)) is None  # differing parts: infer

    capped = tmp_path / "capped.parquet"
    capped.mkdir()
    for i in range(footer.MAX_PARTS + 1):
        pq.write_table(t, capped / f"part-{i:03d}.parquet")
    assert _footer_schema(str(capped)) is None  # over the probe cap


@pytest.mark.parametrize("layout", ["mixed", "over_cap"])
def test_footer_fast_paths_fall_back_to_spark(spark, tmp_path, layout):
    """Layouts the footer listing rule does not serve must take the
    Spark fallbacks and agree with Spark: a mixed layout (a top-level
    part beside a ``k=v/`` subdirectory, which Spark's partition
    discovery reads as 3 rows with max 5 — a flat footer sum said 2
    and 2) and a directory of more parts than the probe cap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet5_spark.sources import footer
    from projet5_spark.sources.readers import (
        _footer_schema,
        fixture_column_max,
        fixture_rowcount,
    )

    path = tmp_path / "t.parquet"
    path.mkdir()
    if layout == "mixed":
        pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}),
                       path / "part-0.parquet")
        (path / "lang=en").mkdir()
        pq.write_table(pa.table({"k": pa.array([3, 4, 5], pa.int64())}),
                       path / "lang=en" / "part-1.parquet")
    else:
        for i in range(footer.MAX_PARTS + 1):
            pq.write_table(pa.table({"k": pa.array([i], pa.int64())}),
                           path / f"part-{i:03d}.parquet")
    df = spark.read.parquet(str(path))

    class CountSpy:
        calls = 0

        def count(self):
            CountSpy.calls += 1
            return df.count()

    n = fixture_rowcount(spark, str(tmp_path), "t", fallback_df=CountSpy())
    assert CountSpy.calls == 1  # the footer sum was not trusted
    assert n == df.count()
    assert fixture_column_max(spark, str(tmp_path), "t", "k") == (
        df.agg(F.max("k")).first()[0]
    )
    assert _footer_schema(str(path)) is None


def test_footer_column_max_reads_the_leaf_column(spark, tmp_path):
    """Row-group statistics are indexed by parquet LEAF column: a
    struct field ahead of the key shifts the key's leaf index past its
    top-level field index, and the footer max must still be the key's
    (the top-level index read the struct's second leaf, 900 here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet5_spark.sources.readers import fixture_column_max

    s = pa.struct([("a", pa.int64()), ("b", pa.int64())])
    pq.write_table(
        pa.table({"s": pa.array([{"a": 100, "b": 900}, {"a": 1, "b": 2}], s),
                  "k": pa.array([5, 3], pa.int64())}),
        tmp_path / "t.parquet",
    )
    got = fixture_column_max(spark, str(tmp_path), "t", "k")
    assert got == 5 == spark.read.parquet(str(tmp_path / "t.parquet")).agg(
        F.max("k")
    ).first()[0]
