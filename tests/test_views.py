"""Golden tests for the six reference views (database/08_views.sql) as
registered Spark SQL temp views over the warehouse."""

from __future__ import annotations

import pytest

from clinical_api_etl_spark.jobs.runner import SILVER_TABLE, process_job
from clinical_api_etl_spark.plans.views import TABLES, VIEWS, register_views
from clinical_api_etl_spark.streaming.ingest import run_ingest_stream

HEADER = "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score"
ROWS = [
    "S1,P1,glucose,100,mg/dL,2024-01-10T09:00:00Z,SITE_A,0.90",
    "S1,P1,glucose,110,mg/dL,2024-01-11T09:00:00Z,SITE_A,0.80",
    "S1,P2,glucose,90,mg/dL,2024-01-10T10:00:00Z,SITE_B,",
    "S2,P1,heart_rate,70,bpm,2024-01-10T09:00:00Z,SITE_A,0.95",
    "S2,P2,blood_pressure,120/80,mmHg,2024-01-10T09:00:00Z,SITE_A,1.00",
]


@pytest.fixture()
def views(spark, warehouse, tmp_path):
    csv = tmp_path / "v.csv"
    csv.write_text("\n".join([HEADER, *ROWS]) + "\n")
    process_job(spark, warehouse, str(csv))
    register_views(warehouse)
    return spark


def test_v_study_quality(views):
    got = {r["study_id"]: r["avg_quality"] for r in views.sql(
        "SELECT * FROM v_study_quality").collect()}
    assert got["S1"] == pytest.approx(0.85)         # (0.90+0.80)/2, NULL excluded
    assert got["S2"] == pytest.approx((0.95 + 1.0 + 1.0) / 3)  # BP rows carry 1.00 twice


def test_v_glucose_trend(views):
    got = {
        (r["study_id"], r["participant_id"], str(r["day"])): r["avg_glucose"]
        for r in views.sql("SELECT * FROM v_glucose_trend").collect()
    }
    assert got == {
        ("S1", "P1", "2024-01-10"): pytest.approx(100.0),
        ("S1", "P1", "2024-01-11"): pytest.approx(110.0),
        ("S1", "P2", "2024-01-10"): pytest.approx(90.0),
    }


def test_v_counts_by_site(views):
    got = {
        (r["study_id"], r["site_id"], r["measurement_type"]): r["cnt"]
        for r in views.sql("SELECT * FROM v_counts_by_site").collect()
    }
    assert got == {
        ("S1", "SITE_A", "glucose"): 2,
        ("S1", "SITE_B", "glucose"): 1,
        ("S2", "SITE_A", "heart_rate"): 1,
        ("S2", "SITE_A", "blood_pressure_systolic"): 1,
        ("S2", "SITE_A", "blood_pressure_diastolic"): 1,
    }


def test_v_low_quality(views):
    rows = views.sql("SELECT quality_score FROM v_low_quality").collect()
    assert sorted(float(r[0]) for r in rows) == [0.80, 0.90]  # <0.95, NULL excluded


def test_v_recent_30d(views):
    # fixture timestamps are fixed in 2024 — all outside any live 30d window
    assert views.sql("SELECT * FROM v_recent_30d").count() == 0


def test_v_participants_per_study(views):
    # Column named `participants`, matching the reference view contract
    # (database/08_views.sql:28).
    got = {r["study_id"]: r["participants"] for r in views.sql(
        "SELECT * FROM v_participants_per_study").collect()}
    assert got == {"S1": 2, "S2": 2}


def _registered(spark):
    """The warehouse tables and views currently registered as temp views."""
    names = set(TABLES) | set(VIEWS)
    return {t.name for t in spark.catalog.listTables() if t.isTemporary} & names


def test_empty_warehouse_registers_nothing(spark, warehouse):
    register_views(warehouse)
    assert _registered(spark) == set()


def test_stream_only_warehouse_registers_the_silver_views(spark, warehouse, tmp_path):
    """The stream writes no ``participants``: the five silver views serve
    its rows and the participants view is not registered."""
    from datetime import datetime, timedelta, timezone

    recent = (datetime.now(timezone.utc) - timedelta(days=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "f1.csv").write_text("\n".join([
        HEADER,
        f"S1,P1,glucose,100,mg/dL,{recent},SITE_A,0.90",
        "S1,P2,heart_rate,70,bpm,2024-01-10T09:00:00Z,SITE_B,0.99",
    ]) + "\n")
    run_ingest_stream(spark, warehouse, str(drop), str(tmp_path / "ckpt"))
    assert warehouse.read("participants") is None

    register_views(warehouse)
    for name, (table, _) in VIEWS.items():
        if table == SILVER_TABLE:
            assert spark.sql(f"SELECT * FROM {name}").count() > 0, name
    assert "v_participants_per_study" not in _registered(spark)
    assert "participants" not in _registered(spark)


def test_reset_drops_every_earlier_registration(spark, views, warehouse):
    assert {"v_study_quality", "v_participants_per_study", SILVER_TABLE} <= _registered(spark)
    warehouse.reset()
    register_views(warehouse)
    assert _registered(spark) == set()
