"""The benchmark's own tests: the checker catches what it must, and a
smoke-sized run of every workload, untraced and traced, prints a
well-formed result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_compare_frames_reports_dropped_row_and_changed_value():
    want = pd.DataFrame({"k": [1, 2, 3, 4], "v": [0.5, 1.25, 2.0, 3.75]})
    got = want.drop(index=1).reset_index(drop=True)
    got.loc[got["k"] == 3, "v"] = 2.01
    problems = checks.compare_frames(got, want, "q")
    text = "\n".join(problems)
    assert "row count 3 != 4" in text
    assert "2 expected row(s) missing" in text  # the dropped row and the old value
    assert "1 row(s) not expected" in text and "2.01" in text
    assert checks.compare_frames(want.iloc[::-1], want, "q") == []


def _healthcare_csv(path: str) -> str:
    rows = [
        # name, age, gender, blood, date, hospital, room, doctor, billing
        (" bobby JacksOn ", 30, "Male", "A+", "2020-01-02", "Mercy", 101, "Dr A", 10.5),
        (" bobby JacksOn ", 30, "Male", "A+", "2020-01-02", "Mercy", 101, "Dr A", 10.5),
        ("bobby jackson", 30, "Male", "A+", "2020-01-02", "Mercy", 101, "Dr B", 99.0),
        ("o'brien smith-jones", 41, "Female", "O-", "2021-05-06", "Lakeside", 202, "Dr C", 7.25),
        (None, 52, "Female", "B+", None, "Mercy", 303, "Dr D", 1.0),
    ]
    df = pd.DataFrame(rows, columns=["Name", "Age", "Gender", "Blood Type",
                                     "Date of Admission", "Hospital", "Room Number",
                                     "Doctor", "Billing Amount"])
    df.to_csv(path, index=False)
    return path


def test_reference_follows_migration_semantics(tmp_path):
    ref = checks.reference_tables(_healthcare_csv(str(tmp_path / "b.csv")))
    assert sorted(ref["patients"]["_k"], key=str) == sorted([
        ("Bobby Jackson", 30, "Male", "A+"),
        ("O'Brien Smith-Jones", 41, "Female", "O-"),
        (None, 52, "Female", "B+"),
    ], key=str)
    # full-row duplicate dropped, then the first-seen admission wins
    assert len(ref["admissions"]) == 3
    assert checks.billing_cents(ref["admissions"]) == 1050 + 725 + 100
    merged, counts = checks.merge_reference(ref, ref)
    assert counts == {"patients": (3, 0), "admissions": (3, 0)}
    assert len(merged["admissions"]) == 3


def test_check_tables_reports_dropped_row_and_changed_value(tmp_path):
    ref = checks.reference_tables(_healthcare_csv(str(tmp_path / "b.csv")))
    adm = ref["admissions"].assign(_resolved=True)
    got = {"patients": ref["patients"], "admissions": adm}
    assert checks.check_tables(got, ref) == []

    adm = adm.iloc[1:].copy()  # one row dropped
    adm.loc[adm.index[0], "billing_amount"] += 1.0  # one value changed
    adm.loc[adm.index[-1], "_resolved"] = False  # one dangling patient id
    text = "\n".join(checks.check_tables({"patients": ref["patients"], "admissions": adm}, ref))
    assert "admissions: 2 rows, reference has 3" in text
    assert "1 missing" in text
    assert "billing total" in text
    assert "without a patient" in text


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["catalog_queries", "healthcare_etl"])
def test_smoke_run(workload, trace):
    spec = _bench_spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    if workload == "healthcare_etl":
        # the re-apply merge re-inserts NULL-key rows: one failure a round
        assert result["failed"] * 4 == result["attempted"]
    else:
        assert result["failed"] == 0
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("catalog_queries", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
