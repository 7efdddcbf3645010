"""Seeded inputs for the benchmark.

Two families, both written as plain files that the program reads:

- the analytics tables (``region nation customer supplier part orders
  lineitem events documents embeddings``), one parquet file each, with
  the column names, types, value ranges and cardinalities of the
  catalog's fixture tables (FIXTURES.md §B) at a chosen scale factor;
- the reference-shaped healthcare CSV batches (FIXTURES.md §A): an
  ingest batch and an overlapping upsert batch.

The same seed gives byte-identical files. Generation is numpy-vectorized
so it stays a small fraction of a run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

_DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(pd.Timestamp(date).value // 1000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts (the catalog's grid-sum oracles assume
    money lies on the cent grid)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def analytics_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten analytics tables at scale factor ``sf`` (sf0.1 =
    600k lineitems) under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    d0, d1 = _us("1995-01-01") // _DAY_US, _us("2001-08-01") // _DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    s0, s1 = _us("1995-01-02") // _DAY_US, _us("2001-11-04") // _DAY_US
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_li) * _DAY_US),
    })
    gaps = rng.exponential(26e6, n_ev)
    ev_ts = _us("2024-01-01") + np.cumsum(np.maximum(gaps, 1.0)).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.integers(0, 56000, n_ev) * rng.random(n_ev) / 100.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = rng.normal(0.0, 0.125, (n_vecs, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def _documents(rng, n: int) -> dict:
    """Word soup over a 30-word vocabulary, 10-100 words each; 5% are
    near-duplicates (another document plus a trailing ``dup`` token)
    and a few are exact copies, so dedup and near-dup entries find
    something."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    n_near = n // 20
    n_exact = max(2, n // 600)
    victims = rng.choice(n, n_near + n_exact, replace=False)
    for j, v in enumerate(victims):
        src = int((v + 1 + rng.integers(0, n - 1)) % n)
        texts[v] = texts[src] + (" dup" if j < n_near else "")
    lang = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# -- healthcare (reference CSV shape) ---------------------------------------

CSV_COLUMNS = [
    "Name", "Age", "Gender", "Blood Type", "Medical Condition",
    "Date of Admission", "Doctor", "Hospital", "Insurance Provider",
    "Billing Amount", "Room Number", "Admission Type", "Discharge Date",
    "Medication", "Test Results",
]
FIRST = ["bobby", "LESLIE", "danny", "Andrew", "adrienne", "emily", "connor",
         "ROBERT", "patrick", "kathleen", "jose", "mary", "o'brien", "anne-marie"]
LAST = ["jackson", "TERRY", "smith", "davis", "o'neil", "smith-jones",
        "MILLER", "garcia", "kim", "MCDONALD", "li", "brown", "taylor"]
BLOOD = ["A+", "A-", "B+", "B-", "AB+", "AB-", "O+", "O-"]
CONDITIONS = ["Arthritis", "Asthma", "Cancer", "Diabetes", "Hypertension", "Obesity"]
HOSPITALS = ["General Hospital", "St Mary", "Unity Clinic", "Lakeside", "Mercy"]
INSURERS = ["Aetna", "Blue Cross", "Cigna", "Medicare", "UnitedHealthcare"]
ADM_TYPES = ["Elective", "Emergency", "Urgent"]
MEDS = ["Aspirin", "Ibuprofen", "Lipitor", "Paracetamol", "Penicillin"]
RESULTS = ["Abnormal", "Inconclusive", "Normal"]

#: Seed of the NULL-key block appended to every upsert batch. It does
#: not follow ``--seed``: these rows are what make a re-applied merge
#: insert again (the NULL-key fault), so the failure they cause must be
#: the same on every seed.
NULL_BLOCK_SEED = 20240101
NULL_BLOCK_ROWS = 24
#: Ages of seeded patients stay below this, so the NULL-key block's
#: patients (age NULL_BLOCK_AGE) never share a natural key with them.
NULL_BLOCK_AGE = 90


def _patients(rng, n: int) -> pd.DataFrame:
    first = np.array(FIRST)[rng.integers(0, len(FIRST), n)]
    last = np.array(LAST)[rng.integers(0, len(LAST), n)]
    pad_l = np.array(["", " ", "  "])[rng.integers(0, 3, n)]
    pad_r = np.array(["", " ", "   "])[rng.integers(0, 3, n)]
    name = pd.Series(pad_l) + pd.Series(first) + " " + pd.Series(last) + pd.Series(pad_r)
    return pd.DataFrame({
        "Name": name,
        "Age": rng.integers(0, NULL_BLOCK_AGE, n),
        "Gender": np.array(["Female", "Male"])[rng.integers(0, 2, n)],
        "Blood Type": np.array(BLOOD)[rng.integers(0, 8, n)],
    })


def _admissions(rng, pats: pd.DataFrame, n: int) -> pd.DataFrame:
    rows = pats.iloc[rng.integers(0, len(pats), n)].reset_index(drop=True)
    d0 = _us("2019-01-01") // _DAY_US
    adm = rng.integers(d0, d0 + 5 * 365, n)
    dis = adm + rng.integers(0, 30, n)
    day = lambda d: pd.to_datetime(d, unit="D").strftime("%Y-%m-%d")  # noqa: E731
    return rows.assign(**{
        "Medical Condition": np.array(CONDITIONS)[rng.integers(0, 6, n)],
        "Date of Admission": day(adm),
        "Doctor": [f"Dr {a} {b}" for a, b in zip(
            np.array(FIRST)[rng.integers(0, len(FIRST), n)],
            rng.integers(1, 500, n))],
        "Hospital": np.array(HOSPITALS)[rng.integers(0, 5, n)],
        "Insurance Provider": np.array(INSURERS)[rng.integers(0, 5, n)],
        # many-decimal amounts, a few negative, like the reference data
        "Billing Amount": rng.uniform(-500.0, 50_000.0, n),
        "Room Number": rng.integers(100, 501, n),
        "Admission Type": np.array(ADM_TYPES)[rng.integers(0, 3, n)],
        "Discharge Date": day(dis),
        "Medication": np.array(MEDS)[rng.integers(0, 5, n)],
        "Test Results": np.array(RESULTS)[rng.integers(0, 3, n)],
    })


def _messy(rng, df: pd.DataFrame, nulls: bool = True) -> pd.DataFrame:
    """Plant the FIXTURES.md §A properties: ~3% admission keys repeated
    with another doctor and amount (first-seen must win), ~3% exact
    duplicate rows and, with ``nulls``, ~1% NULL names and ~1% NULL
    dates."""
    n = len(df)
    rekey = df.iloc[rng.choice(n, n // 33, replace=False)].copy()
    rekey["Doctor"] = "Dr " + rekey["Doctor"].str[3:] + " jr"
    rekey["Billing Amount"] = rekey["Billing Amount"] + 17.5
    df = pd.concat([df, rekey], ignore_index=True)
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    if nulls:
        for c in ("Name", "Date of Admission", "Discharge Date"):
            df[c] = df[c].where(rng.random(len(df)) >= 0.01, None)
    dups = df.iloc[rng.choice(len(df), len(df) // 33, replace=False)]
    df = pd.concat([df, dups], ignore_index=True)
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def _null_key_block() -> pd.DataFrame:
    rng = np.random.default_rng(NULL_BLOCK_SEED)
    pats = _patients(rng, NULL_BLOCK_ROWS)
    pats["Name"] = None
    pats["Age"] = NULL_BLOCK_AGE
    rows = _admissions(rng, pats, NULL_BLOCK_ROWS)
    rows["Date of Admission"] = None
    return rows


def healthcare_batches(out_dir: str, n_rows: int, seed: int) -> tuple[str, str]:
    """Write the ingest batch (``n_rows`` admissions before planted
    duplicates) and an upsert batch: half existing admission keys with
    new non-key values, half new admissions (about a sixth of them for
    new patients), plus the fixed NULL-key block. Returns the two CSV
    paths."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    pats = _patients(rng, max(4, n_rows // 3))
    ingest = _messy(rng, _admissions(rng, pats, n_rows))

    n_b = max(4, n_rows // 4)
    clean = ingest.dropna(subset=["Name", "Date of Admission"])
    clean = clean.drop_duplicates(subset=["Name", "Age", "Gender", "Blood Type",
                                          "Date of Admission", "Hospital", "Room Number"])
    upd = clean.iloc[rng.choice(len(clean), n_b // 2, replace=False)].copy()
    upd["Medication"] = np.array(MEDS)[rng.integers(0, 5, len(upd))]
    upd["Billing Amount"] = upd["Billing Amount"] + 1.25
    new_pats = pd.concat([pats, _patients(rng, max(2, n_b // 4))], ignore_index=True)
    new = _admissions(rng, new_pats, n_b - len(upd))
    # the batch's only NULL keys are the fixed block: seeded NULL keys
    # could coincide with the ingest batch's, which the merge cannot match
    upsert = pd.concat([upd, _messy(rng, new, nulls=False), _null_key_block()],
                       ignore_index=True)
    upsert = upsert.iloc[rng.permutation(len(upsert))].reset_index(drop=True)

    paths = []
    for name, df in (("ingest", ingest), ("upsert", upsert)):
        path = os.path.join(out_dir, f"{name}.csv")
        df[CSV_COLUMNS].to_csv(path, index=False, float_format="%.17g")
        paths.append(path)
    return paths[0], paths[1]
