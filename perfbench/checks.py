"""Correctness checks that do not use Spark.

- :func:`compare_frames` — exact multiset equality of a catalog entry's
  output with its DuckDB oracle result (after the entry's own rounding),
  reporting rows missing and rows not expected.
- :func:`reference_tables` / :func:`merge_reference` — a pandas version
  of the reference ``migration.py`` semantics (full-row dedup, trimmed
  ``str.title()`` names, natural-key patients, first-seen admissions)
  and of an upsert of one batch into existing tables.
- :func:`check_tables` — the written parquet tables, read with pyarrow,
  against that reference and against the properties every state must
  have: patients unique on the natural key, every admission's patient
  present.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

ANALYTICS_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
PATIENT_KEY = ["name", "age", "gender", "blood_type"]
ADMISSION_KEY = PATIENT_KEY + ["date_of_admission", "hospital", "room_number"]


# -- catalog entries against DuckDB -----------------------------------------

def duck_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.ndarray | list | tuple):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(
        tuple(_cell(v) for v in row)
        for row in df[cols].astype(object).itertuples(index=False, name=None)
    )


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, name: str) -> list[str]:
    """Problems found comparing ``got`` with ``want`` (empty = equal).
    Column order and row order are ignored; column names, pandas
    dtypes and every value must match exactly, duplicates included."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    cols = sorted(want.columns)
    problems = [
        f"{name}.{c}: dtype {got[c].dtype} != {want[c].dtype}"
        for c in cols
        if str(got[c].dtype) != str(want[c].dtype)
    ]
    if len(got) != len(want):
        problems.append(f"{name}: row count {len(got)} != {len(want)}")
    g, w = _rows(got, cols), _rows(want, cols)
    missing, extra = w - g, g - w
    if missing:
        problems.append(
            f"{name}: {sum(missing.values())} expected row(s) missing, "
            f"e.g. {dict(zip(cols, next(iter(missing))))}"
        )
    if extra:
        problems.append(
            f"{name}: {sum(extra.values())} row(s) not expected, "
            f"e.g. {dict(zip(cols, next(iter(extra))))}"
        )
    return problems


# -- healthcare against a pandas version of migration.py --------------------

def _title(v):
    return None if pd.isna(v) else v.strip().title()


def _key(df: pd.DataFrame, cols: list[str]) -> pd.Series:
    """One hashable tuple per row, NULL as None, so NULL keys compare
    equal the way the reference's ``find_one`` matches them."""
    return pd.Series(
        [tuple(_cell(v) for v in t)
         for t in df[cols].astype(object).itertuples(index=False, name=None)],
        index=df.index,
    )


def read_batch(csv_path: str) -> pd.DataFrame:
    """The CSV as the reference reads it (migration.py:130-133)."""
    df = pd.read_csv(
        csv_path,
        dtype={"Name": "string", "Doctor": "string"},
        float_precision="round_trip",
    )
    df.columns = [c.strip().lower().replace(" ", "_") for c in df.columns]
    return df


def reference_tables(csv_path: str) -> dict[str, pd.DataFrame]:
    """Patients and admissions of one batch: full-row dedup, names
    trimmed and title-cased, patients distinct on the natural key,
    admissions first-seen on (patient, date, hospital, room)."""
    df = read_batch(csv_path).drop_duplicates()
    df["name"] = df["name"].map(_title).astype(object)
    patients = df[PATIENT_KEY].drop_duplicates()
    admissions = df.assign(_k=_key(df, ADMISSION_KEY)).drop_duplicates("_k")
    return {
        "patients": patients.assign(_k=_key(patients, PATIENT_KEY)),
        "admissions": admissions,
    }


def merge_reference(
    old: dict[str, pd.DataFrame], new: dict[str, pd.DataFrame]
) -> tuple[dict[str, pd.DataFrame], dict[str, tuple[int, int]]]:
    """Upsert ``new`` into ``old`` keyed on the natural keys. Returns
    the merged tables and, per table, ``(updated, inserted)`` as set
    differences of the keys."""
    merged, counts = {}, {}
    for t in ("patients", "admissions"):
        hit = old[t]["_k"].isin(set(new[t]["_k"]))
        merged[t] = pd.concat([old[t][~hit], new[t]], ignore_index=True)
        updated = len(set(old[t]["_k"]) & set(new[t]["_k"]))
        counts[t] = (updated, len(new[t]) - updated)
    return merged, counts


def billing_cents(admissions: pd.DataFrame) -> int:
    return int(np.floor(admissions["billing_amount"].to_numpy() * 100 + 0.5)
               .astype(np.int64).sum())


def read_tables(root: str) -> dict[str, pd.DataFrame]:
    """The written ``patients``/``admissions`` parquet tables, read with
    pyarrow; each admission gets its patient's natural key attached
    (NaN where the patient id does not resolve)."""
    patients = pq.read_table(os.path.join(root, "patients")).to_pandas()
    adm = pq.read_table(os.path.join(root, "admissions")).to_pandas()
    adm["date_of_admission"] = [
        None if d is None or d is pd.NaT else d.isoformat()
        for d in adm["date_of_admission"].astype(object)
    ]
    first = patients.drop_duplicates("patient_id").set_index("patient_id")
    for c in PATIENT_KEY:
        adm[c] = adm["patient_id"].map(first[c])
    adm["_resolved"] = adm["patient_id"].isin(first.index)
    return {"patients": patients, "admissions": adm}


def check_tables(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    """Written tables against the reference state ``want``."""
    problems = []
    pk = _key(got["patients"], PATIENT_KEY)
    if pk.duplicated().any():
        problems.append(f"patients: {int(pk.duplicated().sum())} duplicate natural key(s)")
    unresolved = int((~got["admissions"]["_resolved"]).sum())
    if unresolved:
        problems.append(f"admissions: {unresolved} patient_id(s) without a patient")
    for t, cols in (("patients", PATIENT_KEY), ("admissions", ADMISSION_KEY)):
        if len(got[t]) != len(want[t]):
            problems.append(f"{t}: {len(got[t])} rows, reference has {len(want[t])}")
        g, w = set(_key(got[t], cols)), set(want[t]["_k"])
        if g != w:
            problems.append(
                f"{t}: key sets differ ({len(w - g)} missing, {len(g - w)} not expected)"
            )
    got_c, want_c = billing_cents(got["admissions"]), billing_cents(want["admissions"])
    if got_c != want_c:
        problems.append(f"admissions: billing total {got_c} cents, reference {want_c}")
    return problems
