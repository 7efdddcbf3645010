"""Cross-engine determinism property tests: the gridsum/gridavg/quantize
helpers must produce bit-identical values in Spark and DuckDB on
adversarial inputs (boundary .005 values, negatives, large magnitudes,
many random 2dp doubles) — plus catalog hygiene guards that keep the
determinism doctrine from regressing."""

from __future__ import annotations

import random

import duckdb
import pytest

from pyspark.sql import functions as F

from projet5_spark.plans import ORACLE, QUERIES
from projet5_spark.plans.registry import gridavg, gridsum, quantize


def _adversarial_values():
    rng = random.Random(1234)
    vals = [
        0.005, -0.005, 0.015, 123.455, -123.455, 0.01, -0.01, 0.0,
        99999.99, -99999.99, 0.125, 2.675,  # classic repr traps
    ]
    # magnitudes capped so the x² term stays inside BIGINT on the 1e4 grid
    vals += [round(rng.uniform(-1e4, 1e4), 2) for _ in range(20000)]
    return vals


def test_grid_aggregates_match_duckdb(spark, tmp_path):
    path = str(tmp_path / "vals")
    vals = _adversarial_values()
    spark.createDataFrame([(i % 7, v) for i, v in enumerate(vals)], ["g", "x"]).write.parquet(path)

    got = {
        r["g"]: (r["s2"], r["s4"], r["a2"], r["q6"])
        for r in spark.read.parquet(path)
        .groupBy("g")
        .agg(
            gridsum("x", 2).alias("s2"),
            gridsum(F.col("x") * F.col("x"), 4).alias("s4"),
            gridavg("x", 2).alias("a2"),
            quantize(F.max("x"), 6).alias("q6"),
        )
        .collect()
    }
    duck = duckdb.connect()
    want = {
        g: (s2, s4, a2, q6)
        for g, s2, s4, a2, q6 in duck.execute(
            f"""
        SELECT g,
               sum(CAST(floor((x) * 1e2 + 0.5) AS BIGINT)) / 1e2,
               sum(CAST(floor((x * x) * 1e4 + 0.5) AS BIGINT)) / 1e4,
               sum(CAST(floor((x) * 1e2 + 0.5) AS BIGINT)) * 1.0 / (1e2 * count(x)),
               floor((max(x)) * 1e6) / 1e6
        FROM '{path}/*.parquet' GROUP BY g
        """
        ).fetchall()
    }
    assert set(got) == set(want)
    for g in got:
        assert got[g] == want[g], f"group {g}: {got[g]} != {want[g]}"


# -- catalog hygiene: the rules every registered query must keep ----------

_ALLOWED_TABLES = {
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
}


def test_no_round_in_oracle_sql():
    """round() is banned in oracle SQL — engines disagree on half-ties
    (registry.quantize docstring). floor-quantization only."""
    offenders = [n for n, sql in ORACLE.items() if "round(" in sql.lower()]
    assert not offenders, offenders


def test_oracle_tables_are_registered_views():
    import re

    for name, sql in ORACLE.items():
        tables = set(re.findall(r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", sql, re.I))
        unknown = {
            t.lower() for t in tables
        } - _ALLOWED_TABLES - {  # CTE names / keywords the crude regex catches
            "unnest", "generate_subscripts", "generate_series", "range", "null",
        }
        for t in list(unknown):
            # names defined as CTEs (with or without a column list,
            # e.g. `walk(nk, hops) AS (`, or `d1 AS MATERIALIZED (`) or
            # aliases inside the query
            if re.search(
                rf"\b{t}\s*(?:\([^)]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(",
                sql,
                re.I,
            ) or re.search(rf"\)\s*(?:AS\s+)?{t}\b", sql, re.I):
                unknown.discard(t)
        assert not unknown, f"{name}: unregistered tables {unknown}"


def test_every_query_name_is_snake_case():
    import re

    for name in QUERIES:
        assert re.fullmatch(r"[a-z0-9_]+", name), name


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_are_deterministic(spark, name):
    """Rows-only queries (no oracle) must at least repeat themselves:
    two runs in one session produce identical sorted results."""
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    b = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    assert a == b, f"{name} is nondeterministic across runs"


def test_ln_det_bit_identical_across_engines(spark, tmp_path):
    """functions.detmath: the fixed-expression integer log must produce
    BIT-identical doubles in Spark and DuckDB on adversarial inputs —
    powers of two (range-reduction edges), their neighbors, small
    primes, and random magnitudes up to 2^62 — and stay within 2e-7
    relative of the true log."""
    import math
    import struct as pystruct

    from projet5_spark.functions.detmath import ln_det_int, ln_det_int_sql

    rng = random.Random(99)
    ks = [1, 2, 3, 5, 7, 11]
    ks += [2**e for e in range(1, 62)]
    ks += [2**e - 1 for e in range(2, 62)]
    ks += [2**e + 1 for e in range(1, 61)]
    ks += [rng.randrange(1, 2**62) for _ in range(5000)]
    ks = sorted(set(ks))

    path = str(tmp_path / "ks")
    spark.createDataFrame([(k,) for k in ks], "k long").write.parquet(path)
    got = {
        r["k"]: r["lnk"]
        for r in spark.read.parquet(path).select("k", ln_det_int("k").alias("lnk")).collect()
    }
    duck = duckdb.connect()
    want = dict(
        duck.execute(
            f"SELECT k, {ln_det_int_sql('k')} AS lnk FROM '{path}/*.parquet'"
        ).fetchall()
    )
    assert set(got) == set(want)
    for k in ks:
        assert pystruct.pack("d", got[k]) == pystruct.pack("d", want[k]), (
            k, got[k], want[k]
        )
        if k > 1:
            rel = abs(got[k] - math.log(k)) / math.log(k)
            assert rel < 2e-7, (k, got[k], math.log(k))
        else:
            assert abs(got[k]) < 1e-7
