"""Unit tests for operators that the oracle battery exercises only
indirectly: as-of join edges, first-seen dedup, profile ops, vector
math, LSH recall vs exact ground truth."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from projet5_spark.functions.vectors import cosine_similarity, dot, l2_norm
from projet5_spark.operators.dedup import exact_text_dedup, first_seen_dedup
from projet5_spark.operators.joins import asof_join
from projet5_spark.operators.profile import duplicate_count, null_profile


def test_asof_join_basic_and_edges(spark):
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "l1"),
            (1, "2024-01-01 12:00:00", "l2"),
            (2, "2024-01-01 09:00:00", "l3"),  # before any right row
            (3, "2024-01-01 09:00:00", "l4"),  # key with no right rows
        ],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:30:00", 10.0),
            (1, "2024-01-01 11:00:00", 20.0),
            (2, "2024-01-01 09:00:00", 30.0),  # equal timestamp
        ],
        ["k", "ts", "v"],
    )
    out = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", right_vals=["v"]
        ).collect()
    }
    assert out == {"l1": 10.0, "l2": 20.0, "l3": 30.0, "l4": None}

    strict = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_vals=["v"], strict=True,
        ).collect()
    }
    # strict `<`: the equal-timestamp right row no longer matches l3
    assert strict["l3"] is None and strict["l1"] == 10.0


def test_asof_join_tiebreak(spark):
    left = spark.createDataFrame([(1, "2024-01-01 10:00:00")], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1, 100.0), (1, "2024-01-01 09:00:00", 2, 200.0)],
        ["k", "ts", "seq", "v"],
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_vals=["v"], right_tiebreak="seq",
    ).collect()
    assert out[0]["v"] == 200.0  # greatest tiebreak wins


def test_first_seen_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 9, "z")], ["k", "ord", "val"]
    )
    out = {r["k"]: r["val"] for r in first_seen_dedup(df, ["k"], [F.col("ord")]).collect()}
    assert out == {1: "a", 2: "z"}


def test_profile_ops(spark):
    df = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=1, b=None), Row(a=2, b="x")]
    )
    nulls = null_profile(df).collect()[0]
    assert nulls["a"] == 0 and nulls["b"] == 2
    assert duplicate_count(df).collect()[0]["dup_rows"] == 1


def test_exact_text_dedup_survivor(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], ["doc_id", "text"]
    )
    out = {r["text"]: (r["doc_id"], r["dup_count"]) for r in exact_text_dedup(df).collect()}
    assert out == {"same": (1, 2), "other": (2, 1)}


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], ["a", "b"])
    r = df.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()[0]
    assert r["d"] == 18.0 and r["na"] == 3.0
    assert math.isclose(r["cos"], 1.0, abs_tol=1e-12)


def test_ivf_ann_recall_vs_brute_force(spark):
    """IVF with nprobe=2 over 16 cells must recover most of the exact
    top-5 (recall floor 0.6 at fixture scale — the point is the plan
    shape; recall tuning is nprobe/ncells policy)."""
    from projet5_spark.plans.llm import embedding_topk_cosine
    from projet5_spark.plans.series import embedding_ann_ivf

    sf = "/root/testdata/sf0.001"
    exact = {(r["q_id"], r["vec_id"]) for r in embedding_topk_cosine(spark, sf).collect()}
    approx = {(r["q_id"], r["vec_id"]) for r in embedding_ann_ivf(spark, sf).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_minhash_recall_vs_exact(spark):
    """LSH candidates must recover every exact near-dup pair (J>=0.5) —
    recall 1.0 expected at 8 hash tables on the planted near-dups."""
    from projet5_spark.plans.llm import minhash_lsh_near_dup, ngram_jaccard_near_dup

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_near_dup(spark, sf).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_near_dup(spark, sf).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    missed = exact - approx
    assert not missed, f"LSH missed {missed}"


def test_salted_join_matches_plain_join(spark):
    """Salting must be semantically invisible — same result set as the
    plain equi-join, inner and left."""
    from projet5_spark.operators.joins import salted_join

    fact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("k")
    )
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    for how in ("inner", "left"):
        plain = fact.join(dim, "k", how).select("o_orderkey", "c_name")
        salted = salted_join(fact, dim, "k", how).select("o_orderkey", "c_name")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), how


def test_merge_upsert(spark, tmp_path):
    from projet5_spark.sources.writers import merge_upsert

    path = str(tmp_path / "m")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    upd, ins = merge_upsert(spark, base, path, ["k"])
    assert (upd, ins) == (0, 3)
    batch = spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"])
    upd, ins = merge_upsert(spark, batch, path, ["k"])
    assert (upd, ins) == (1, 1)
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


_WRITERS = ["merge_upsert", "append_if_absent", "scd2_upsert"]


def _write(writer: str, spark, df, path):
    """Call one of the three merge writers on key ``k`` (``ts`` is the
    SCD-2 version timestamp)."""
    from projet5_spark.sources import writers

    extra = ("ts",) if writer == "scd2_upsert" else ()
    return getattr(writers, writer)(spark, df, path, ["k"], *extra)


@pytest.mark.parametrize("writer", _WRITERS)
def test_writer_evaluates_batch_once(spark, tmp_path, writer):
    """A first load and a merge each run the batch's lineage once: the
    counts come from the written parquet's footers and everything the
    merge derives from the batch reads the staged batch back instead of
    re-running it."""
    from pyspark.sql.types import LongType

    first_load, merge = {
        "merge_upsert": ((0, 50), (20, 20)),
        "append_if_absent": (50, 20),
        "scd2_upsert": ((0, 50), (20, 40)),
    }[writer]

    evaluated = spark.sparkContext.accumulator(0)

    def tally(k):
        evaluated.add(1)
        return k

    ident = F.udf(tally, LongType()).asNondeterministic()

    def batch(lo, hi, v, ts):
        # the filter reads the UDF's output, so no plan (a count's
        # included) can prune the UDF away
        return (
            spark.range(lo, hi)
            .select(ident("id").alias("k"), F.lit(v).alias("v"), F.lit(ts).alias("ts"))
            .where(F.col("k").isNotNull())
        )

    path = str(tmp_path / "once")
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    assert _write(writer, spark, batch(0, 50, "v", t0), path) == first_load
    assert evaluated.value == 50
    evaluated.value = 0
    assert _write(writer, spark, batch(30, 70, "w", t1), path) == merge
    assert evaluated.value == 40


def test_merge_upsert_batch_column_order_matches_union_by_name(spark, tmp_path):
    """A batch whose columns arrive in another order (and a narrower
    type widened by the table) reads back exactly as the table's
    survivors ``unionByName`` the batch."""
    from projet5_spark.sources.writers import merge_upsert

    path = str(tmp_path / "order")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, v string, w int"
    ).write.parquet(path)
    batch = spark.createDataFrame(
        [(200, 2, "B"), (300, 3, "c")], "w long, k int, v string"
    )
    want = (
        spark.read.parquet(path)
        .join(batch.select("k"), "k", "left_anti")
        .unionByName(batch)
    )
    want_schema, want_rows = want.schema.simpleString(), sorted(want.collect())
    assert merge_upsert(spark, batch, path, ["k"]) == (1, 1)
    got = spark.read.parquet(path)
    assert got.schema.simpleString() == want_schema
    assert sorted(got.collect()) == want_rows


def test_merge_upsert_counts_without_footers(spark, tmp_path, monkeypatch):
    """With the footer fast path off, the counts come from Spark's
    ``count()`` of the written parquet and are the same."""
    from projet5_spark.sources import footer
    from projet5_spark.sources.writers import merge_upsert

    monkeypatch.setattr(footer, "MAX_PARTS", 0)
    path = str(tmp_path / "nofooter")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    assert merge_upsert(spark, base, path, ["k"]) == (0, 3)
    assert footer.row_count(path) is None
    batch = spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"])
    assert merge_upsert(spark, batch, path, ["k"]) == (1, 1)
    assert spark.read.parquet(path).count() == 4


@pytest.mark.parametrize("writer", ["merge_upsert", "scd2_upsert"])
def test_writer_failed_append_leaves_table_and_no_staging(
    spark, tmp_path, monkeypatch, writer
):
    """A failure while appending into a filled staging directory leaves
    the table as it was and deletes the staging directory."""
    import glob
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "t")
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    base = spark.createDataFrame([(1, "a", t0), (2, "b", t0)], ["k", "v", "ts"])
    _write(writer, spark, base, path)
    before = sorted(spark.read.parquet(path).collect())
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, target, *args, **kwargs):
        if "__staging_" in target and os.path.exists(target):
            raise OSError("simulated append failure")
        return real_parquet(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    batch = spark.createDataFrame([(2, "B", t1), (3, "c", t1)], ["k", "v", "ts"])
    with pytest.raises(OSError, match="simulated append failure"):
        _write(writer, spark, batch, path)
    assert sorted(spark.read.parquet(path).collect()) == before
    assert glob.glob(f"{path}__*") == []


@pytest.mark.xfail(
    strict=True,
    reason="all three writers match keys on plain `=`, so a NULL key never "
    "matches: merge_upsert and append_if_absent insert the NULL-key row "
    "again on every replay, and scd2_upsert opens a second current version "
    "for it. The null-safe `<=>` rule lands for all three writers at once: "
    "it changes healthcare_etl's failed count, which "
    "perfbench/test_perfbench.py::test_smoke_run[healthcare_etl-*] pins, "
    "so it lands together with a benchmark change.",
)
@pytest.mark.parametrize("writer", _WRITERS)
def test_writer_reapply_with_null_key_is_idempotent(spark, tmp_path, writer):
    first_load, replay = {
        "merge_upsert": ((0, 3), (3, 0)),
        "append_if_absent": (3, 0),
        "scd2_upsert": ((0, 3), (0, 0)),
    }[writer]
    path = str(tmp_path / "nullkey")
    batch = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (None, "n", "2024-01-01"), (2, "b", "2024-01-01")],
        "k int, v string, ts string",
    )
    assert _write(writer, spark, batch, path) == first_load
    assert _write(writer, spark, batch, path) == replay
    assert spark.read.parquet(path).count() == 3


def _shingle_set(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_ngram_df_cap_bounds_candidates_keeps_recall(spark):
    """A stop-shingle planted across 30% of docs must NOT blow up the
    candidate pair join (that's the quadratic hotspot at corpus scale),
    while every planted near-dup pair is still found with its *exact*
    Jaccard — stop-shingle contribution reconstructed per pair."""
    from projet5_spark.plans.llm import ngram_candidate_pairs, ngram_near_dup_pairs

    boiler = "alpha beta gamma delta epsilon"
    rows = []
    for i in range(100):
        uniq = " ".join(f"u{i}w{j}" for j in range(12))
        rows.append((i, uniq + " " + boiler if i < 30 else uniq))
    planted = []
    for k in range(3):
        toks = rows[k][1].split(" ")
        toks[5] = f"x{k}"  # one token changed -> J stays >= 0.5
        rows.append((100 + k, " ".join(toks)))
        planted.append((k, 100 + k))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # uncapped, the 33 boilerplate docs alone make C(33,2)=528 pairs
    uncapped = ngram_candidate_pairs(
        spark, docs, max_df_frac=1.0, min_df_cap=10**9
    ).count()
    assert uncapped >= 528

    # capped: the planted pairs (via rare shingles) plus at most one
    # CHAIN link per boilerplate sharer (linear, not quadratic)
    cands = {(r["doc_a"], r["doc_b"]) for r in ngram_candidate_pairs(spark, docs).collect()}
    assert set(planted) <= cands
    assert len(cands) <= len(planted) + 33

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_near_dup_pairs(spark, docs, threshold=0.5).collect()
    }
    assert set(got) == set(planted), got
    sets = {i: _shingle_set(t) for i, t in rows}
    for a, b in planted:
        expect = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert math.isclose(got[(a, b)], expect, abs_tol=1e-12), (a, b)


def test_pairs_from_rare_packed_key_is_equivalent(spark):
    """The big-corpus pair exchange packs (doc_a, doc_b) into one long
    (doc_a * 2^31 + doc_b) to shrink the shuffle-write sorter's rows;
    the packed and two-column forms must produce the identical pair
    relation — including ids right at the 2^31 - 1 precondition edge."""
    from projet5_spark.plans.llm import _pairs_from_rare

    edge = (1 << 31) - 1  # largest id the pack precondition admits
    rows = [
        (0, 11, 21), (1, 11, 21), (2, 11, 21),  # 3 docs share shingle A
        (0, 12, 22), (1, 12, 22),               # 2 of them also share B
        (edge, 13, 23), (2, 13, 23),            # edge id pairs with doc 2
        (5, 14, 24),                            # loner contributes nothing
    ]
    rare = spark.createDataFrame(rows, ["doc_id", "h1", "h2"])
    plain = {
        (r["doc_a"], r["doc_b"]): r["common_rare"]
        for r in _pairs_from_rare(rare).collect()
    }
    for n_parts in (None, 8):
        packed = {
            (r["doc_a"], r["doc_b"]): r["common_rare"]
            for r in _pairs_from_rare(
                rare, n_parts=n_parts, pack_ids=True
            ).collect()
        }
        assert packed == plain
    assert plain[(0, 1)] == 2 and plain[(2, edge)] == 1


_SH_OFFS = (0, 13, 26, 39, 52)
_SH_WIDTHS = (13, 13, 13, 13, 12)
_SH_COMBOS = [(i, j) for i in range(5) for j in range(i + 1, 5)]


def _py_band_keys(sig: int) -> list[int]:
    sig &= (1 << 64) - 1
    blocks = [(sig >> _SH_OFFS[i]) & ((1 << _SH_WIDTHS[i]) - 1) for i in range(5)]
    return [(blocks[i] << 13) | blocks[j] for i, j in _SH_COMBOS]


def test_simhash_banding_pigeonhole_hamming3():
    """Any two signatures at hamming distance <= 3 must collide on at
    least one of the 10 block-pair band keys — the exactness guarantee
    the banded join depends on."""
    import random

    rng = random.Random(7)
    for _ in range(500):
        sig = rng.getrandbits(64)
        flipped = sig
        for b in rng.sample(range(64), rng.randint(0, 3)):
            flipped ^= 1 << b
        ka, kb = _py_band_keys(sig), _py_band_keys(flipped)
        assert any(x == y for x, y in zip(ka, kb)), hex(sig ^ flipped)


def test_simhash_band_rows_match_reference(spark):
    """Spark bit arithmetic (shiftrightunsigned over signed int64) must
    agree with the unsigned Python reference, incl. sign-bit edge."""
    from projet5_spark.plans.llm import simhash_band_rows

    cases = [(1, 0x0123456789ABCDEF), (2, -1), (3, 0), (4, -(1 << 63))]
    sigs = spark.createDataFrame(cases, "doc_id long, simhash long")
    rows = simhash_band_rows(sigs).collect()
    for doc, sig in cases:
        expect = sorted(enumerate(_py_band_keys(sig)))
        got = sorted((r["band"], r["key"]) for r in rows if r["doc_id"] == doc)
        assert got == expect, doc


def test_simhash_near_dup_deterministic(spark):
    from projet5_spark.plans.llm import simhash_near_dup

    sf = "/root/testdata/sf0.001"
    r1 = {tuple(r) for r in simhash_near_dup(spark, sf).collect()}
    r2 = {tuple(r) for r in simhash_near_dup(spark, sf).collect()}
    assert r1 == r2
    assert all(a < b and h <= 3 for a, b, h in r1)


def test_multimodal_codec_roundtrip_and_corruption():
    """Encoders emit spec-valid bytes the decoders fully verify; any
    corrupted byte in a CRC-protected region must raise."""
    import pytest

    from projet5_spark.functions.multimodal import (
        decode_payload,
        decode_png,
        decode_wav,
        synth_png,
        synth_wav,
    )

    png = synth_png(9, 7, seed=3)
    meta = decode_png(png)
    assert (meta["width"], meta["height"], meta["channels"]) == (9, 7, 3)
    assert len(meta["features"]) == 3 and all(0 <= f <= 255 for f in meta["features"])

    wav = synth_wav(8000, 300, seed=5, channels=2)
    w = decode_wav(wav)
    assert (w["channels"], w["sample_rate"], w["n_frames"]) == (2, 8000, 300)
    assert w["features"][0] > 0

    corrupt = bytearray(png)
    corrupt[40] ^= 0xFF  # inside IHDR/IDAT payload -> CRC must catch it
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))
    with pytest.raises(ValueError):
        decode_payload(b"\x00\x01\x02not-a-format")


def test_multimodal_decode_features_real_values(spark):
    """The Spark operator's output must equal the pure-Python decode of
    the same synthesized payloads — proving the mapInPandas path runs
    the real decoder, not a digest stub."""
    from projet5_spark.functions.multimodal import decode_payload, synth_payload
    from projet5_spark.plans.llm import multimodal_decode_features

    sf = "/root/testdata/sf0.001"
    out = {r["doc_id"]: r.asDict() for r in multimodal_decode_features(spark, sf).collect()}
    assert len(out) == 500
    for doc_id in (0, 1, 2, 3, 42, 401):
        payload = synth_payload(doc_id)
        expect = decode_payload(payload)
        got = out[doc_id]
        assert got["n_bytes"] == len(payload)
        for k in ("kind", "width", "height", "channels", "sample_rate", "n_frames"):
            assert got[k] == expect[k], (doc_id, k)
        assert got["features"] == expect["features"], doc_id


def test_multimodal_frame_sample_real_decode(spark):
    from projet5_spark.functions.multimodal import (
        decode_png,
        iter_png_frames,
        synth_png_stream,
    )
    from projet5_spark.plans.series import multimodal_frame_sample

    out = multimodal_frame_sample(spark, "/root/testdata/sf0.001").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id in (0, 7, 123):
        frames = list(iter_png_frames(synth_png_stream(doc_id)))
        expect = [
            (i, off, decode_png(fb)) for i, (off, fb) in enumerate(frames) if i % 2 == 0
        ]
        got = sorted(by_doc[doc_id], key=lambda r: r["frame_no"])
        assert len(got) == len(expect)
        for row, (i, off, meta) in zip(got, expect):
            assert (row["frame_no"], row["byte_offset"]) == (i, off)
            assert (row["width"], row["height"]) == (meta["width"], meta["height"])
            assert row["features"] == meta["features"]


def test_merge_upsert_crash_window_rolls_back(spark, tmp_path, monkeypatch):
    """A crash between the two swap renames must leave the ORIGINAL
    table readable (rolled back), never a missing/deleted table."""
    import os as os_mod

    import pytest

    from projet5_spark.sources.writers import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    base.write.parquet(path)

    real_rename = os_mod.rename

    def failing_rename(src, dst):
        if "__staging_" in str(src):  # the commit rename
            raise OSError("simulated crash at commit")
        return real_rename(src, dst)

    monkeypatch.setattr("os.rename", failing_rename)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    with pytest.raises(OSError, match="simulated crash"):
        merge_upsert(spark, upd, path, ["k"])
    # original table intact after the failed commit
    back = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert back == {(1, "a"), (2, "b")}

    monkeypatch.setattr("os.rename", real_rename)
    updated, inserted = merge_upsert(spark, upd, path, ["k"])
    assert (updated, inserted) == (1, 1)
    after = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == {(1, "a"), (2, "B"), (3, "c")}


def test_salted_join_rejects_outer_forms(spark):
    import pytest

    from projet5_spark.operators.joins import salted_join

    fact = spark.range(10).select(F.col("id").alias("k"))
    dim = spark.range(3).select(F.col("id").alias("k"))
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(fact, dim, "k", how)


def test_scd2_upsert_preserves_history(spark, tmp_path):
    """SCD-2 merge: re-arriving keys close out their current version at
    the new timestamp; history rows are never rewritten."""
    from projet5_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim")
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    first = spark.createDataFrame(
        [(1, "alice", t0), (2, "bob", t0)], ["k", "v", "ts"]
    )
    closed, inserted = scd2_upsert(spark, first, path, ["k"], "ts")
    assert (closed, inserted) == (0, 2)

    second = spark.createDataFrame(
        [(2, "bobby", t1), (3, "carol", t1)], ["k", "v", "ts"]
    )
    closed, inserted = scd2_upsert(spark, second, path, ["k"], "ts")
    assert (closed, inserted) == (1, 2)

    rows = {
        (r["k"], r["v"], r["__current"], str(r["__valid_to"]))
        for r in spark.read.parquet(path).collect()
    }
    assert (1, "alice", True, "9999-12-31 00:00:00") in rows
    assert (2, "bob", False, "2024-02-01 00:00:00") in rows  # closed out
    assert (2, "bobby", True, "9999-12-31 00:00:00") in rows
    assert (3, "carol", True, "9999-12-31 00:00:00") in rows
    assert len(rows) == 4


def test_multimodal_codec_roundtrip_properties():
    """Property roundtrips (no Spark): any synth output decodes back to
    its parameters; the stream walker recovers every frame boundary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from projet5_spark.functions.multimodal import (
        decode_png,
        decode_wav,
        iter_png_frames,
        synth_png,
        synth_wav,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 20),
        seed=st.integers(0, 2**31 - 1),
    )
    def png_roundtrip(w, h, seed):
        meta = decode_png(synth_png(w, h, seed))
        assert (meta["width"], meta["height"]) == (w, h)
        assert all(0 <= f <= 255 for f in meta["features"])

    @settings(max_examples=40, deadline=None)
    @given(
        sr=st.integers(4000, 48000),
        n=st.integers(1, 512),
        seed=st.integers(0, 2**31 - 1),
        ch=st.integers(1, 2),
    )
    def wav_roundtrip(sr, n, seed, ch):
        meta = decode_wav(synth_wav(sr, n, seed, channels=ch))
        assert (meta["sample_rate"], meta["n_frames"], meta["channels"]) == (sr, n, ch)

    @settings(max_examples=25, deadline=None)
    @given(
        dims=st.lists(
            st.tuples(st.integers(1, 12), st.integers(1, 10), st.integers(0, 10**6)),
            min_size=1,
            max_size=6,
        )
    )
    def stream_walk(dims):
        frames = [synth_png(w, h, s) for w, h, s in dims]
        stream = b"".join(frames)
        walked = list(iter_png_frames(stream))
        assert len(walked) == len(frames)
        off = 0
        for (got_off, got_bytes), fb in zip(walked, frames):
            assert got_off == off and got_bytes == fb
            off += len(fb)

    png_roundtrip()
    wav_roundtrip()
    stream_walk()


def test_ngram_over_cap_cluster_emits_exact_all_pairs(spark):
    """A near-dup cluster LARGER than the DF threshold (its shared
    shingles all become stop shingles) must emit EVERY qualifying pair
    — non-adjacent stop-only pairs included — exactly matching the
    naive all-pairs Jaccard (the oracle contract), via the
    boilerplate-heavy completion; and collapse to one component."""
    from projet5_spark.operators.graph import connected_components
    from projet5_spark.plans.llm import ngram_near_dup_pairs

    core = " ".join(f"core{j}" for j in range(30))
    rows = [(i, f"{core} tail{i}") for i in range(12)]  # 12 near-identical
    rows += [(100 + i, " ".join(f"bg{i}x{j}" for j in range(20))) for i in range(28)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # threshold = max(5, 0.1*40) = 5 < 12 -> every core shingle is "stop"
    pairs = ngram_near_dup_pairs(spark, docs, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}

    # ground truth: naive all-pairs Jaccard over the same shingle sets
    sets = {i: _shingle_set(t) for i, t in rows}
    expect = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.5:
                expect[(a, b)] = j
    assert set(got) == set(expect), (set(expect) - set(got), set(got) - set(expect))
    assert len(expect) == 12 * 11 // 2  # the full non-adjacent pair set
    for k, j in expect.items():
        assert math.isclose(got[k], j, abs_tol=1e-12), k

    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(edges, "src", "dst")
    clusters = {}
    for r in comp.collect():
        clusters.setdefault(r["component"], set()).add(r["node"])
    assert set(range(12)) in clusters.values(), clusters


def test_scd2_upsert_idempotent_on_replay(spark, tmp_path):
    """Redelivered batches with unchanged values must not fabricate
    versions (change detection via value digest)."""
    from projet5_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim2")
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    batch = spark.createDataFrame([(1, "alice", t0), (2, "bob", t0)], ["k", "v", "ts"])
    assert scd2_upsert(spark, batch, path, ["k"], "ts") == (0, 2)
    # exact replay (even with a newer ts): nothing closes, nothing inserts
    replay = spark.createDataFrame([(1, "alice", t1), (2, "bob", t1)], ["k", "v", "ts"])
    assert scd2_upsert(spark, replay, path, ["k"], "ts") == (0, 0)
    assert spark.read.parquet(path).count() == 2
    # one real change -> exactly one close + one insert
    mixed = spark.createDataFrame([(1, "alice", t1), (2, "bobby", t1)], ["k", "v", "ts"])
    assert scd2_upsert(spark, mixed, path, ["k"], "ts") == (1, 1)
    assert spark.read.parquet(path).count() == 3


def test_merge_target_missing_with_leftovers_raises(spark, tmp_path):
    """If the table is gone but a crash leftover exists, merging must
    refuse (recovery hint) instead of silently re-initializing."""
    import os

    import pytest

    from projet5_spark.sources.writers import merge_upsert

    path = str(tmp_path / "t2")
    os.makedirs(f"{path}__old_deadbeef")
    new = spark.createDataFrame([(1, "a")], ["k", "v"])
    with pytest.raises(RuntimeError, match="interrupted mid-commit"):
        merge_upsert(spark, new, path, ["k"])


def test_verify_pairs_dense_guard_and_parity(spark):
    """verify_pairs_dense must refuse an over-budget corpus BEFORE any
    collect, and on a within-budget corpus agree with the distributed
    cosine_pairs_blocked path pair-for-pair."""
    import pytest

    from projet5_spark.plans.llm import cosine_pairs_blocked, verify_pairs_dense

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.95, 0.05]),
            (5, [0.0, 0.0, 0.0]),  # zero-norm: excluded on both paths
        ],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="exceeds max_cells"):
        verify_pairs_dense(spark, emb, tau=0.8, max_cells=10)

    dense = {
        (r["vec_a"], r["vec_b"])
        for r in verify_pairs_dense(spark, emb, tau=0.8).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_pairs_blocked(spark, emb, tau=0.8).collect()
    }
    assert dense == blocked == {(1, 2), (3, 4)}


def test_signlsh_ann_recall_floor(spark):
    """The deterministic sign-LSH (2 tables x 4 bits, hamming-1
    multi-probe) must keep mean recall@5 >= 0.5 vs brute force on the
    fixture — the quality bar the driver's hash check then pins
    exactly via ann_recall_signlsh_at5."""
    from projet5_spark.plans.series import ann_recall_signlsh_at5

    rows = ann_recall_signlsh_at5(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    mean = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert mean >= 0.5, f"sign-LSH mean recall collapsed: {mean}"


def test_swap_crash_recovery_drill(spark, tmp_path):
    """Hard-crash drill: process died between the two swap renames
    (no in-process rollback ran). The next merge must refuse with the
    recovery hint, and the DOCUMENTED recovery — rename __old_* back —
    must actually restore a mergeable table."""
    import os

    import pytest

    from projet5_spark.sources.writers import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).write.parquet(path)
    # simulate: rename-aside happened, then the process died
    os.rename(path, f"{path}__old_deadbeef")

    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    with pytest.raises(RuntimeError, match="interrupted mid-commit"):
        merge_upsert(spark, upd, path, ["k"])

    os.rename(f"{path}__old_deadbeef", path)  # the documented recovery
    updated, inserted = merge_upsert(spark, upd, path, ["k"])
    assert (updated, inserted) == (1, 1)
    after = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == {(1, "a"), (2, "B"), (3, "c")}


def test_stale_swap_leftovers_cleaned_when_target_exists(spark, tmp_path):
    """A __old_* surviving next to an intact target (cleanup died after
    the commit rename) is garbage: the next merge must remove it —
    keeping the mid-swap detector unambiguous — while __staging_* is
    only warned about (it may belong to an in-flight writer)."""
    import os

    from projet5_spark.sources.writers import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(path)
    os.makedirs(f"{path}__old_cafe")
    os.makedirs(f"{path}__staging_f00d")

    upd = spark.createDataFrame([(2, "b")], ["k", "v"])
    assert merge_upsert(spark, upd, path, ["k"]) == (0, 1)
    assert not os.path.exists(f"{path}__old_cafe")  # garbage removed
    assert os.path.exists(f"{path}__staging_f00d")  # left (warned only)
    after = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == {(1, "a"), (2, "b")}


def test_scd2_upsert_rejects_out_of_order_replay(spark, tmp_path):
    """Replaying an OLDER snapshot with different values must be a
    no-op: no closed version with __valid_to < __valid_from, no stale
    row installed as current."""
    from projet5_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim")
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    first = spark.createDataFrame([(1, "new-name", t1)], ["k", "v", "ts"])
    assert scd2_upsert(spark, first, path, ["k"], "ts") == (0, 1)

    # late batch: older ts, conflicting value
    late = spark.createDataFrame([(1, "old-name", t0)], ["k", "v", "ts"])
    assert scd2_upsert(spark, late, path, ["k"], "ts") == (0, 0)
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["v"] == "new-name" and r["__current"]
    assert r["__valid_to"] > r["__valid_from"]

    # equal-ts different content is ambiguous -> also skipped
    tie = spark.createDataFrame([(1, "tie-name", t1)], ["k", "v", "ts"])
    assert scd2_upsert(spark, tie, path, ["k"], "ts") == (0, 0)

    # a genuinely newer change still versions
    t2 = "2024-03-01 00:00:00"
    newer = spark.createDataFrame([(1, "newest", t2)], ["k", "v", "ts"])
    assert scd2_upsert(spark, newer, path, ["k"], "ts") == (1, 1)
    cur = [r for r in spark.read.parquet(path).collect() if r["__current"]]
    assert len(cur) == 1 and cur[0]["v"] == "newest"


def test_decode_png_zero_dimension_raises_valueerror():
    """A CRC-valid PNG declaring width or height 0 must raise the
    contract's ValueError (quarantine-catchable), never leak a
    ZeroDivisionError from the feature division."""
    import pytest

    from projet5_spark.functions.multimodal import decode_png, synth_png

    for w, h in [(0, 0), (0, 3), (3, 0)]:
        with pytest.raises(ValueError, match="zero width or height"):
            decode_png(synth_png(w, h, seed=1))


def test_first_seen_dedup_agg_digest_path_matches_window(spark):
    """The wide-key (digest-grouped) aggregate path must agree with the
    window-based first-seen dedup, including NULL key columns (the
    null-safe encoding must not conflate NULL with empty string)."""
    from projet5_spark.operators.dedup import first_seen_dedup, first_seen_dedup_agg

    cols = [f"c{i}" for i in range(8)] + ["ord", "val"]
    rows = [
        (1, 2, 3, 4, 5, 6, 7, 8, 10, "first"),
        (1, 2, 3, 4, 5, 6, 7, 8, 20, "dup-of-first"),
        (1, 2, 3, 4, 5, 6, 7, None, 5, "null-key"),
        (1, 2, 3, 4, 5, 6, 7, None, 6, "null-key-dup"),
        (9, 2, 3, 4, 5, 6, 7, 8, 1, "other"),
    ]
    df = spark.createDataFrame(rows, cols)
    keys = cols[:8]
    via_agg = {
        tuple(r[k] for k in keys): r["val"]
        for r in first_seen_dedup_agg(df, keys, ["ord"]).collect()
    }
    via_win = {
        tuple(r[k] for k in keys): r["val"]
        for r in first_seen_dedup(df, keys, [F.col("ord")]).collect()
    }
    assert via_agg == via_win
    assert via_agg[(1, 2, 3, 4, 5, 6, 7, None)] == "null-key"


def test_scd2_upsert_null_ts_arrival_is_skipped(spark, tmp_path):
    """A changed-content arrival with a NULL timestamp must be skipped
    like a stale one — never leave the old version open AND insert the
    new row (two __current rows for one key)."""
    from projet5_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim")
    t1 = "2024-02-01 00:00:00"
    first = spark.createDataFrame([(1, "name", t1)], ["k", "v", "ts"])
    assert scd2_upsert(spark, first, path, ["k"], "ts") == (0, 1)
    null_ts = spark.createDataFrame(
        [(1, "changed", None)], "k long, v string, ts string"
    )
    assert scd2_upsert(spark, null_ts, path, ["k"], "ts") == (0, 0)
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["v"] == "name" and rows[0]["__current"]


def test_first_seen_dedup_agg_digest_injective(spark):
    """Separator-injection and NULL-vs-sentinel collisions must NOT
    merge distinct key tuples on the digest path."""
    from projet5_spark.operators.dedup import first_seen_dedup_agg

    cols = [f"c{i}" for i in range(8)] + ["ord"]
    rows = [
        # adjacent-field injection: ('a\x1fb','c') vs ('a','b\x1fc')
        ("a\x1fb", "c", "x", "x", "x", "x", "x", "x", 1),
        ("a", "b\x1fc", "x", "x", "x", "x", "x", "x", 2),
        # NULL vs the old sentinel byte as a real value
        ("\x00", "z", "x", "x", "x", "x", "x", "x", 3),
        (None, "z", "x", "x", "x", "x", "x", "x", 4),
        # length-prefix boundary: ('ab','c') vs ('a','bc')
        ("ab", "c", "y", "y", "y", "y", "y", "y", 5),
        ("a", "bc", "y", "y", "y", "y", "y", "y", 6),
    ]
    df = spark.createDataFrame(rows, cols)
    assert first_seen_dedup_agg(df, cols[:8], ["ord"]).count() == 6


def test_first_seen_dedup_agg_float_keys_use_raw_grouping(spark):
    """Float keys must group like the raw-tuple branch (-0.0 == 0.0),
    not by string form — the width heuristic may not change semantics."""
    from projet5_spark.operators.dedup import first_seen_dedup_agg

    cols = [f"c{i}" for i in range(7)] + ["f", "ord"]
    rows = [
        (1, 2, 3, 4, 5, 6, 7, 0.0, 1),
        (1, 2, 3, 4, 5, 6, 7, -0.0, 2),
    ]
    df = spark.createDataFrame(rows, cols)
    assert first_seen_dedup_agg(df, cols[:8], ["ord"]).count() == 1


def test_first_seen_dedup_agg_full_row_float_key_emits_stored_bytes(spark):
    """Full-row dedup with a float key must emit the surviving row's
    stored value, not the groupBy-normalized key (-0.0 → 0.0): the
    min(ordinal) fast path may only fire for float-free key sets."""
    import math
    import struct as pystruct

    from projet5_spark.operators.dedup import first_seen_dedup_agg

    rows = [(-0.0, 1), (-0.0, 2), (1.5, 3)]
    df = spark.createDataFrame(rows, ["f", "ord"])
    out = first_seen_dedup_agg(df, ["f"], ["ord"]).collect()
    got = {r["ord"]: r["f"] for r in out}
    assert set(got) == {1, 3}
    # -0.0 must survive as -0.0 (same bytes), not be normalized to +0.0
    assert math.copysign(1.0, got[1]) == -1.0
    assert pystruct.pack("d", got[1]) == pystruct.pack("d", -0.0)


def test_asof_join_null_ts_and_null_key_never_match(spark):
    """SQL predicate semantics: a right row with NULL ts or NULL key
    can never be the as-of match, and NULL-key left rows match
    nothing (NULL = NULL is not true)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1"), (None, "2024-01-01 10:00:00", "lnull")],
        "k long, ts string, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, None, 999.0),            # NULL ts: must never match
            (1, "2024-01-01 09:00:00", 10.0),
            (None, "2024-01-01 08:00:00", 7.0),  # NULL key: never matches
        ],
        "k long, ts string, v double",
    )
    out = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", right_vals=["v"]
        ).collect()
    }
    assert out == {"l1": 10.0, "lnull": None}


def test_asof_join_rejects_colliding_value_columns(spark):
    """right_vals names present on the left must raise, not silently
    clobber the left column."""
    import pytest

    left = spark.createDataFrame([(1, "2024-01-01 10:00:00", 111.0)], "k long, ts string, v double")
    right = spark.createDataFrame([(1, "2024-01-01 09:00:00", 5.0)], "k long, ts string, v double")
    with pytest.raises(ValueError, match="collide with left columns"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts", right_vals=["v"])


def test_shingle_hash_keys_collision_free_on_fixture(spark, sf_dir):
    """The ngram family keys every shuffle on (xxhash64(-1,s),
    xxhash64(-2,s)) instead of the shingle string (SCALING.md: the
    string-keyed verify sort was the family's last spiller). Identity
    is exact only while no two distinct shingles share the 128-bit
    pair — probability ~n²/2¹²⁹, but assert it on the real fixture so
    a seed regression or a hash-function change fails loudly."""
    from pyspark.sql import functions as F

    from projet5_spark.plans.llm import shingle_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = shingle_rows(spark, docs).select(
        "s",
        F.xxhash64(F.lit(-1), F.col("s")).alias("h1"),
        F.xxhash64(F.lit(-2), F.col("s")).alias("h2"),
    )
    n_s = sh.select("s").distinct().count()
    n_h = sh.select("h1", "h2").distinct().count()
    assert n_s == n_h


def test_resize_png_nn_semantics_and_contract():
    """resize_png: floor-mapping nearest neighbor (every output pixel
    equals the exact source pixel the formula names), identity at the
    same size, works UP as well as down, emits a decodable spec-valid
    PNG, and keeps the decoders' ValueError contract on corrupt or
    degenerate input."""
    import pytest

    from projet5_spark.functions.multimodal import (
        _png_raw,
        decode_png,
        resize_png,
        synth_png,
    )

    src = synth_png(10, 7, seed=42)
    w, h, ch, raw = _png_raw(src)

    def pixel(raw_, width, x, y):
        stride = 1 + width * 3
        off = y * stride + 1 + x * 3
        return raw_[off : off + 3]

    for ow, oh in [(4, 4), (10, 7), (1, 1), (20, 3)]:  # down, same, min, up
        out = resize_png(src, ow, oh)
        w2, h2, _, raw2 = _png_raw(out)
        assert (w2, h2) == (ow, oh)
        for y in range(oh):
            for x in range(ow):
                sx, sy = (x * w) // ow, (y * h) // oh
                assert pixel(raw2, ow, x, y) == pixel(raw, w, sx, sy), (
                    ow, oh, x, y,
                )
        decode_png(out)  # spec-valid: full CRC walk + inflate succeeds

    with pytest.raises(ValueError):
        resize_png(src, 0, 4)
    with pytest.raises(ValueError):
        resize_png(b"\x89PNG\r\n\x1a\ngarbage-after-signature", 2, 2)


def test_cc_footer_rowcount_fast_path_engages(spark):
    """r13 advice fix: the connected-components broadcast pivot must
    read the edge scratch's parquet footer BEFORE release_e0() deletes
    it (the r12 ordering read it after, so the fast path never fired
    and every call paid a count job), and _parquet_rows must report
    'unknown' (None), never 0, for a non-file-scan leaf."""
    from pyspark.sql import functions as F

    from projet5_spark.operators import graph

    # (a) a localCheckpointed frame has no input files: None, not 0
    lc = spark.range(5).localCheckpoint(eager=True)
    assert graph._parquet_rows(lc) is None
    lc._jdf.queryExecution().analyzed().rdd().unpersist(False)

    # (b) the fast path engages inside connected_components
    seen = []
    real = graph._parquet_rows

    def spy(df):
        out = real(df)
        seen.append(out)
        return out

    graph._parquet_rows = spy
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src long, dst long"
        )
        comp = {
            (r["node"], r["component"])
            for r in graph.connected_components(edges, "src", "dst").collect()
        }
    finally:
        graph._parquet_rows = real
    assert comp == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # the footer read happened and succeeded (scratch still on disk)
    assert seen and seen[0] == 3, seen


def test_key_fast_path_only_for_plain_names(spark):
    """surrogate_key/tuple_digest take the SQL-text fast path only for
    plain ``\\w+`` names: a dotted name must resolve as F.col does (the
    nested struct field), so string and Column spellings of one key
    give equal digests — and equal the fast path over the flattened
    field."""
    from projet5_spark.functions.keys import surrogate_key, tuple_digest

    df = spark.createDataFrame(
        [((1, "p"), "x1"), ((2, None), "x2"), ((None, "q"), None)],
        "a struct<b: long, c: string>, x string",
    ).withColumn("ab", F.col("a.b")).withColumn("ac", F.col("a.c"))
    for fn in (surrogate_key, tuple_digest):
        got = df.select(
            fn("a.b", "a.c", "x").alias("by_name"),
            fn(F.col("a.b"), F.col("a.c"), F.col("x")).alias("by_col"),
            fn("ab", "ac", "x").alias("flat"),
        ).collect()
        assert all(r.by_name == r.by_col == r.flat for r in got), (fn, got)
        assert len({r.by_name for r in got}) == 3
