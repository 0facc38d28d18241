"""Generator checks: determinism and ground truth on hand-made rows.

    python3 -m pytest perfbench/test_gen_clinical.py
"""

from __future__ import annotations

import csv
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen_clinical as gen  # noqa: E402


def test_same_seed_same_bytes():
    for kind in ("valid", "blank_study", "bad_quality"):
        a, ta = gen.make_file(7, "up0001.csv", 2000, kind)
        b, tb = gen.make_file(7, "up0001.csv", 2000, kind)
        assert a == b
        assert ta == tb


def test_other_seed_other_bytes():
    assert gen.make_file(7, "f.csv", 500)[0] != gen.make_file(8, "f.csv", 500)[0]


def test_plants_every_case():
    data, truth = gen.make_file(3, "f.csv", 5000)
    rows = list(csv.DictReader(io.StringIO(data.decode())))
    values = [r["value"] for r in rows if r["measurement_type"] == "blood_pressure"]
    assert any(gen.bp_parts(v) for v in values)
    assert any("-" in v for v in values)
    assert any("/" not in v and "-" not in v for v in values)
    assert {r["quality_score"] for r in rows} >= {"", "null"}
    assert any(r["unit"] != r["unit"].strip() for r in rows)
    assert set(truth.quality) == set(gen.RULES)
    assert len(truth.silver) < truth.rows + sum(
        1 for v in values if gen.bp_parts(v)
    )  # duplicate natural keys collapse in silver


def test_invalid_files_fail_and_land_nothing():
    for kind in ("blank_study", "bad_quality"):
        data, truth = gen.make_file(3, "bad.csv", 300, kind)
        assert truth.status == "failed"
        assert not truth.bronze and not truth.silver and not truth.gold
        rows = list(csv.DictReader(io.StringIO(data.decode())))
        if kind == "blank_study":
            assert any(r["study_id"].strip() == "" for r in rows)
        else:
            assert any(r["quality_score"] in ("1.7", "-0.2", "high") for r in rows)


def test_truth_follows_pipeline_rules():
    rows = [
        ["S1", "P1", "blood_pressure", "120/80", "mmHg", "2024-01-01T00:00:00Z", "A", "0.9"],
        ["S1", "P1", "blood_pressure", "120/80", "mmHg", "2024-01-01T00:00:00Z", "A", "0.9"],
        ["S1", "P1", "blood_pressure", "130", "mmHg", "2024-01-01T00:01:00Z", "A", ""],
        ["S1", "P1", "blood_pressure", "300/80", "mmHg", "2024-01-01T00:02:00Z", "A", "null"],
        ["S1", "P1", "glucose", "1000", "", "2024-01-01T00:03:00Z", "A", "0.5"],
        ["S1", "P2", "glucose", "n/a", "mg/dL", "2024-01-01T00:04:00Z", "B", "0.5"],
    ]
    t = gen._truth("f.csv", "valid", rows)
    assert t.quality == {
        "missing_unit_required": 1,
        "malformed_blood_pressure": 2,
        "numeric_out_of_range": 1,
    }
    # 2 from the valid reading (its duplicate collapses), 1 each after.
    assert len(t.silver) == 6
    assert t.gold == {
        ("S1", "P1", "A", "blood_pressure_systolic"),
        ("S1", "P1", "A", "blood_pressure_diastolic"),
        ("S1", "P1", "A", "blood_pressure"),
        ("S1", "P1", "A", "glucose"),
    }
    assert t.participants == {("S1", "P1"), ("S1", "P2")}


def test_upload_kinds():
    kinds = [gen.kind_of(i, 4) for i in range(10)]
    assert kinds == ["valid", "blank_study", "valid", "valid",
                     "valid", "bad_quality", "valid", "valid",
                     "valid", "blank_study"]
