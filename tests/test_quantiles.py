"""grouped_exact_quantiles must be bit-identical to F.percentile.

The operator exists to replace per-group value buffering
(ObjectHashAggregate) with a domain-bounded cumulative window — the
results must not move by a single ULP, because oracle-paired queries
floor them onto output grids where any drift becomes a hash mismatch.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from projet5_spark.operators.quantiles import grouped_exact_quantiles

QS = {"q00": 0.0, "q05": 0.05, "q25": 0.25, "q50": 0.5, "q75": 0.75,
      "q90": 0.9, "q99": 0.99, "q100": 1.0}


def _percentile_twin(df, keys, value):
    aggs = [
        F.percentile(value, F.lit(q)).alias(name) for name, q in QS.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def _assert_equal(spark, df, keys, value):
    got = {
        tuple(r[k] for k in keys): [r[n] for n in QS]
        for r in grouped_exact_quantiles(df, keys, value, QS).collect()
    }
    want = {
        tuple(r[k] for k in keys): [r[n] for n in QS]
        for r in _percentile_twin(df, keys, value).collect()
    }
    assert got == want  # bit-exact, not approx


def test_matches_percentile_grouped_longs_with_ties(spark):
    rng = random.Random(7)
    rows = [
        (g, rng.choice([0, 1, 5, 5, 5, 7, 100, 10_000, -3]))
        for g in "abc"
        for _ in range(rng.randint(1, 400))
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    _assert_equal(spark, df, ["g"], "v")


def test_matches_percentile_doubles_and_singletons(spark):
    rng = random.Random(11)
    rows = [("one", 42.5)] + [
        ("many", rng.uniform(-1e6, 1e6)) for _ in range(997)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    _assert_equal(spark, df, ["g"], "v")


def test_matches_percentile_global_and_ignores_nulls(spark):
    rng = random.Random(13)
    rows = [(rng.randint(-50, 50),) for _ in range(500)] + [(None,)] * 25
    df = spark.createDataFrame(rows, "v int")
    _assert_equal(spark, df, [], "v")


def test_disc_matches_percentile_disc(spark):
    rng = random.Random(17)
    rows = [
        (g, rng.choice([1, 2, 2, 3, 50, 51]))
        for g in "ab"
        for _ in range(rng.randint(2, 99))
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    dq = {"d05": 0.05, "d50": 0.5, "d95": 0.95, "d0": 0.0, "d1": 1.0}
    got = {
        r["g"]: [r[n] for n in dq]
        for r in grouped_exact_quantiles(df, ["g"], "v", {}, disc_qs=dq).collect()
    }
    twin = df.groupBy("g").agg(
        *[
            F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY v)").alias(n)
            for n, q in dq.items()
        ]
    )
    want = {r["g"]: [r[n] for n in dq] for r in twin.collect()}
    assert got == want


def test_two_element_interpolation_exact(spark):
    # pos lands strictly between the two ranks for every interior q
    df = spark.createDataFrame([(10,), (20,)], "v long")
    row = grouped_exact_quantiles(df, [], "v", QS).head()
    assert row["q00"] == 10.0 and row["q100"] == 20.0
    assert row["q50"] == pytest.approx(15.0, abs=0)
    _assert_equal(spark, df, [], "v")


def test_weighted_equals_expanded_multiset(spark):
    """r13 weight_col: quantiles of a (keys, value, count) fold must be
    bit-identical to the unweighted quantiles of the expanded multiset
    — weights are repeat counts, so rank arithmetic is unchanged.
    Random grouped data with ties, plus disc and count_col surfaces."""
    import random

    rng = random.Random(13)
    rows = [
        (g, rng.choice([None] + list(range(-5, 40))))
        for g in ("a", "b", "c")
        for _ in range(rng.randint(3, 60))
    ]
    raw = spark.createDataFrame(rows, "g string, v int").withColumn(
        "v", F.col("v").cast("long")
    )
    folded = raw.groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    kw = dict(
        qs={"q25": 0.25, "q50": 0.5, "q99": 0.99},
        disc_qs={"d50": 0.5},
        count_col="n",
    )
    want = {
        r["g"]: r.asDict()
        for r in grouped_exact_quantiles(raw, ["g"], "v", **kw).collect()
    }
    got = {
        r["g"]: r.asDict()
        for r in grouped_exact_quantiles(
            folded, ["g"], "v", weight_col="c", **kw
        ).collect()
    }
    assert got == want


def test_attach_matches_grouped_join_back(spark):
    """r13 attach_exact_quantiles: attaching quantiles through the
    window pass must give every row exactly the value a broadcast
    join-back of grouped_exact_quantiles would — including on
    duplicate (keys, value) rows and with weights."""
    import random

    from projet5_spark.operators.quantiles import attach_exact_quantiles

    rng = random.Random(131)
    rows = [
        (g, rng.choice(range(-5, 25)))
        for g in ("a", "b", "c")
        for _ in range(rng.randint(3, 50))
    ]
    raw = spark.createDataFrame(rows, "g string, v int").withColumn(
        "v", F.col("v").cast("long")
    )
    qs = {"q25": 0.25, "q50": 0.5, "q90": 0.9}

    # unweighted, raw grain (duplicates abound)
    want = {
        r["g"]: r.asDict()
        for r in grouped_exact_quantiles(raw, ["g"], "v", qs).collect()
    }
    got = attach_exact_quantiles(raw, ["g"], "v", qs).collect()
    assert len(got) == len(rows)
    for r in got:
        for name in qs:
            assert r[name] == want[r["g"]][name], (r["g"], name)

    # weighted over the folded grain, plus two duplicate value rows
    # split across fold keys (the is_good-style split)
    folded = raw.withColumn("flag", F.col("v") % 2 == 0).groupBy(
        "g", "v", "flag"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    got_w = attach_exact_quantiles(
        folded, ["g"], "v", qs, weight_col="c"
    ).collect()
    for r in got_w:
        for name in qs:
            assert r[name] == want[r["g"]][name], (r["g"], name)

    # global (keys=[]) form
    gwant = grouped_exact_quantiles(raw, [], "v", qs).head().asDict()
    for r in attach_exact_quantiles(raw, [], "v", qs).collect():
        for name in qs:
            assert r[name] == gwant[name]


@pytest.mark.parametrize("col", ["__cum", "__n", "__prev", "__N"])
def test_attach_rejects_reserved_column_names(spark, col):
    """Hostile input: a caller column named like one of the window
    pass's internal columns must fail with a clear ValueError, not an
    ambiguous-reference analysis error or a silently wrong quantile."""
    from projet5_spark.operators.quantiles import attach_exact_quantiles

    df = spark.createDataFrame([("a", 1, 7), ("a", 3, 7)], f"g string, v long, {col} long")
    with pytest.raises(ValueError, match="reserved"):
        attach_exact_quantiles(df, ["g"], "v", {"q50": 0.5})
