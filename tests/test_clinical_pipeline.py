"""Golden end-to-end tests for the clinical pipeline (SURVEY §5.2 item 2).

Fixture CSVs are written inline, modeled on the *behaviors* of the
reference's five fixtures (happy path, BP split, missing unit, malformed
BP, out-of-range — FIXTURES.md §A) with extra rows covering the §2.9
quirks: numeric-BP passthrough, ''/'null' quality sentinels, duplicate
natural keys, and re-ingest idempotency/merge semantics.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

import pytest

from clinical_api_etl_spark.jobs.runner import (
    BRONZE_TABLE,
    GOLD_TABLE,
    QUALITY_TABLE,
    SILVER_TABLE,
    process_job,
)
from clinical_api_etl_spark.operators.clinical import validate_quality_scores
from clinical_api_etl_spark.sources.clinical_csv import ClinicalCsvError, read_clinical_csv

HEADER = "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score"

HAPPY = [
    "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
    "S1,P1,cholesterol,180,mg/dL,2024-01-15T09:31:00Z,SITE_A,0.97",
    "S1,P2,glucose,101.25,mg/dL,2024-01-16T10:00:00Z,SITE_A,",
    "S1,P2,weight,70.5,kg,2024-01-16T10:01:00Z,SITE_A,null",
    "S1,P3,height,175,cm,2024-01-17T11:00:00Z,SITE_B,0.99",
    "S1,P3,glucose,99,mg/dL,2024-01-18T09:30:00Z,SITE_B,0.95",
]

BP = [
    "S2,P1,blood_pressure,120/80,mmHg,2024-02-01T08:00:00Z,SITE_C,0.9",
    "S2,P1,heart_rate,72,bpm,2024-02-01T08:01:00Z,SITE_C,0.9",
    "S2,P2,blood_pressure,135/85,mmHg,2024-02-01T09:00:00Z,SITE_C,",
    "S2,P2,blood_pressure,120,mmHg,2024-02-02T09:00:00Z,SITE_C,",  # numeric passthrough (§2.9.4)
    "S2,P3,blood_pressure,120-80,mmHg,2024-02-03T09:00:00Z,SITE_C,0.8",  # malformed → text + rule2
    "S2,P3,blood_pressure,300/80,mmHg,2024-02-04T09:00:00Z,SITE_C,0.8",  # out of BP range → invalid → numeric? no slash-int fails range → malformed
]

EDGE = [
    "S3,P1,glucose,1000,mg/dL,2024-03-01T08:00:00Z,SITE_D,0.9",  # rule3 out-of-range
    "S3,P1,glucose,95, ,2024-03-01T09:00:00Z,SITE_D,0.9",  # blank unit → rule1
    "S3,P2,weight,not_a_number,kg,2024-03-01T10:00:00Z,SITE_D,0.9",  # → value_text
    "S3,P2,heart_rate,300,bpm,2024-03-02T10:00:00Z,SITE_D,0.9",  # rule3 (heart_rate 20-240)
]


def _write_csv(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join([HEADER, *rows]) + "\n")
    return str(p)


def _by_type(silver_rows):
    out = {}
    for r in silver_rows:
        out.setdefault(r["measurement_type"], []).append(r)
    return out


class TestCsvValidation:
    def test_missing_required_column_fails(self, spark, tmp_path):
        p = tmp_path / "bad.csv"
        p.write_text("study_id,value\nS1,5\n")
        with pytest.raises(ClinicalCsvError, match="missing columns"):
            read_clinical_csv(spark, str(p))

    def test_blank_study_id_fails(self, spark, tmp_path):
        path = _write_csv(tmp_path, "blank.csv", ["  ,P1,glucose,95,mg/dL,2024-01-01T00:00:00Z,SITE_A,"])
        assert "study_id" in validate_quality_scores(read_clinical_csv(spark, path)).error

    def test_optional_quality_score_added(self, spark, tmp_path):
        p = tmp_path / "noq.csv"
        p.write_text(
            "study_id,participant_id,measurement_type,value,unit,timestamp,site_id\n"
            "S1,P1,glucose,95,mg/dL,2024-01-01T00:00:00Z,SITE_A\n"
        )
        df = read_clinical_csv(spark, str(p))
        assert df.collect()[0]["quality_score"] == ""

    def test_path_guard(self, spark, tmp_path):
        path = _write_csv(tmp_path, "ok.csv", HAPPY)
        with pytest.raises(ClinicalCsvError, match="escapes"):
            read_clinical_csv(spark, path, root=str(tmp_path / "other"))


class TestHappyPath:
    def test_end_to_end(self, spark, warehouse, tmp_path):
        path = _write_csv(tmp_path, "happy.csv", HAPPY)
        jid = process_job(spark, warehouse, path, job_id="job-1")

        bronze = warehouse.read(BRONZE_TABLE).collect()
        assert len(bronze) == 6
        assert sorted(r["row_num"] for r in bronze) == [1, 2, 3, 4, 5, 6]
        by_num = {r["row_num"]: r for r in bronze}
        assert by_num[3]["quality_score"] is None  # '' sentinel
        assert by_num[4]["quality_score"] is None  # 'null' sentinel
        assert by_num[1]["quality_score"] == pytest.approx(0.98)

        silver = warehouse.read(SILVER_TABLE).collect()
        assert len(silver) == 6  # no BP → 1:1
        glucose = [r for r in silver if r["measurement_type"] == "glucose"]
        assert {str(r["value_num"]) for r in glucose} == {"95.5000", "101.2500", "99.0000"}
        assert all(r["value_text"] is None for r in silver)

        # quality: no violations → empty report
        quality = warehouse.read(QUALITY_TABLE)
        assert quality is None or quality.count() == 0

        gold = {tuple(r[k] for k in ("study_id", "participant_id", "measurement_type")): r
                for r in warehouse.read(GOLD_TABLE).collect()}
        g = gold[("S1", "P2", "weight")]
        assert g["cnt"] == 1 and g["avg_num"] == pytest.approx(70.5)
        assert warehouse.read("studies").count() == 1
        assert warehouse.read("participants").count() == 3

        job = warehouse.read("etl_jobs").filter(f"id = '{jid}'").collect()[0]
        assert job["status"] == "completed" and job["progress"] == 100
        assert job["completed_at"] is not None


class TestBloodPressure:
    def test_bp_semantics(self, spark, warehouse, tmp_path):
        path = _write_csv(tmp_path, "bp.csv", BP)
        process_job(spark, warehouse, path, job_id="job-bp")
        silver = warehouse.read(SILVER_TABLE).collect()
        by_type = _by_type(silver)

        # two valid S/D rows → 2 observations each
        assert len(by_type["blood_pressure_systolic"]) == 2
        assert len(by_type["blood_pressure_diastolic"]) == 2
        assert {str(r["value_num"]) for r in by_type["blood_pressure_systolic"]} == {
            "120.0000", "135.0000"}
        assert all(r["unit"] == "mmHg" for r in by_type["blood_pressure_systolic"])

        # quirk §2.9.4: "120" (no slash) stays a NUMERIC blood_pressure row;
        # "120-80" and "300/80" (range fail) land as TEXT rows.
        bp_rows = by_type["blood_pressure"]
        assert len(bp_rows) == 3
        numeric = [r for r in bp_rows if r["value_num"] is not None]
        text = sorted(r["value_text"] for r in bp_rows if r["value_num"] is None)
        assert len(numeric) == 1 and str(numeric[0]["value_num"]) == "120.0000"
        assert text == ["120-80", "300/80"]

        # rows: 6 input → 2 splits add 2 → 8 silver rows
        assert len(silver) == 8

        quality = {r["rule_name"]: r for r in warehouse.read(QUALITY_TABLE).collect()}
        # malformed BP counts "120", "120-80", "300/80" (parse_bp fails on all 3)
        assert quality["malformed_blood_pressure"]["affected_rows"] == 3
        assert quality["malformed_blood_pressure"]["severity"] == "error"
        # rule 3: no live range covers blood_pressure (dead _1/_2 keys) or
        # heart_rate 72 → absent
        assert "numeric_out_of_range" not in quality


class TestEdgeRules:
    def test_quality_rules(self, spark, warehouse, tmp_path):
        path = _write_csv(tmp_path, "edge.csv", EDGE)
        process_job(spark, warehouse, path, job_id="job-edge")
        quality = {r["rule_name"]: r for r in warehouse.read(QUALITY_TABLE).collect()}
        assert quality["missing_unit_required"]["affected_rows"] == 1
        assert quality["missing_unit_required"]["severity"] == "warn"
        assert quality["numeric_out_of_range"]["affected_rows"] == 2  # glucose 1000 + hr 300
        assert "malformed_blood_pressure" not in quality

        silver = warehouse.read(SILVER_TABLE).collect()
        text_rows = [r for r in silver if r["value_text"] is not None]
        assert len(text_rows) == 1 and text_rows[0]["value_text"] == "not_a_number"
        # out-of-range values still land in silver as numeric (rules only count)
        assert {str(r["value_num"]) for r in silver if r["measurement_type"] == "glucose"} == {
            "1000.0000", "95.0000"}


class TestIdempotencyAndMerge:
    def test_same_job_rerun_is_noop(self, spark, warehouse, tmp_path):
        path = _write_csv(tmp_path, "happy.csv", HAPPY)
        process_job(spark, warehouse, path, job_id="job-A")
        n_bronze = warehouse.read(BRONZE_TABLE).count()
        n_silver = warehouse.read(SILVER_TABLE).count()
        process_job(spark, warehouse, path, job_id="job-A")
        assert warehouse.read(BRONZE_TABLE).count() == n_bronze
        assert warehouse.read(SILVER_TABLE).count() == n_silver

    def test_reingest_new_job_merge_semantics(self, spark, warehouse, tmp_path):
        """§2.9.3: re-ingest under a new job replaces cnt/avg but merges
        min/max via LEAST/GREATEST across history."""
        p1 = _write_csv(tmp_path, "v1.csv", [
            "S9,P1,glucose,50,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9",
            "S9,P1,glucose,60,mg/dL,2024-01-02T00:00:00Z,SITE_A,0.9",
        ])
        p2 = _write_csv(tmp_path, "v2.csv", [
            "S9,P1,glucose,100,mg/dL,2024-02-01T00:00:00Z,SITE_A,0.9",
            "S9,P1,glucose,200,mg/dL,2024-02-02T00:00:00Z,SITE_A,0.9",
            "S9,P1,glucose,300,mg/dL,2024-02-03T00:00:00Z,SITE_A,0.9",
        ])
        process_job(spark, warehouse, p1, job_id="job-v1")
        process_job(spark, warehouse, p2, job_id="job-v2")
        g = warehouse.read(GOLD_TABLE).collect()
        assert len(g) == 1
        row = g[0]
        assert row["cnt"] == 3  # replaced by new job
        assert row["avg_num"] == pytest.approx(200.0)  # new job only
        assert row["min_num"] == pytest.approx(50.0)  # LEAST across history
        assert row["max_num"] == pytest.approx(300.0)  # GREATEST
        assert row["job_id"] == "job-v2"

    def test_duplicate_natural_keys_deduped(self, spark, warehouse, tmp_path):
        rows = [
            "S8,P1,glucose,95,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9",
            "S8,P1,glucose,96,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9",  # same natural key
        ]
        path = _write_csv(tmp_path, "dup.csv", rows)
        process_job(spark, warehouse, path, job_id="job-dup")
        assert warehouse.read(SILVER_TABLE).count() == 1  # uq_pm_obs dedup
        assert warehouse.read(BRONZE_TABLE).count() == 2  # staging keeps both

    def test_participant_site_last_write_wins(self, spark, warehouse, tmp_path):
        rows = [
            "S7,P1,glucose,95,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9",
            "S7,P1,glucose,96,mg/dL,2024-01-02T00:00:00Z,SITE_B,0.9",
        ]
        path = _write_csv(tmp_path, "sites.csv", rows)
        process_job(spark, warehouse, path, job_id="job-sites")
        parts = warehouse.read("participants").collect()
        assert len(parts) == 1 and parts[0]["site_id"] == "SITE_B"


class TestFailureMarksJob:
    def test_failure_marks_failed(self, spark, warehouse, tmp_path):
        path = _write_csv(tmp_path, "blank.csv", [",P1,glucose,95,mg/dL,2024-01-01T00:00:00Z,SITE_A,"])
        with pytest.raises(ClinicalCsvError):
            process_job(spark, warehouse, path, job_id="job-fail")
        job = warehouse.read("etl_jobs").filter("id = 'job-fail'").collect()[0]
        assert job["status"] == "failed"
        assert "study_id" in job["message"]
        assert job["completed_at"] is not None


class TestOneCheckPass:
    def test_check_pass_is_one_spark_job(self, spark, tmp_path):
        """The blank-key check, the quality_score check and the three rule
        counters of one upload share one Spark job."""
        import uuid

        raw = read_clinical_csv(spark, _write_csv(tmp_path, "one.csv", HAPPY + BP + EDGE))
        sc = spark.sparkContext
        group = f"check-pass-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "check pass")
        try:
            checks = validate_quality_scores(raw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert (checks.rows, checks.files, checks.error) == (16, ("one.csv",), None)
        assert checks.rule_counts == {
            "missing_unit_required": 1,
            "malformed_blood_pressure": 3,
            "numeric_out_of_range": 2,
        }

    def test_blank_study_id_wins_over_bad_quality_score(self, spark, warehouse, tmp_path):
        bad_score = "S1,P1,glucose,95,mg/dL,2024-01-01T00:00:00Z,SITE_A,abc"
        only = _write_csv(tmp_path, "score.csv", [bad_score])
        assert "'abc'" in validate_quality_scores(read_clinical_csv(spark, only)).error
        path = _write_csv(tmp_path, "both.csv", [
            bad_score,
            " ,P2,glucose,96,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.5",
        ])
        with pytest.raises(ClinicalCsvError, match="study_id"):
            process_job(spark, warehouse, path, job_id="job-both")
        assert warehouse.read(BRONZE_TABLE) is None


class TestQuotedJobId:
    def test_job_id_with_quote_lands_rows(self, spark, warehouse, tmp_path):
        """The bronze read-back filters by column, not by an interpolated
        SQL string, so any caller-supplied job id works."""
        path = _write_csv(tmp_path, "quote.csv", HAPPY)
        jid = process_job(spark, warehouse, path, job_id="o'brien-1")
        assert jid == "o'brien-1"
        assert warehouse.read("etl_jobs").collect()[0]["status"] == "completed"
        bronze = warehouse.read(BRONZE_TABLE)
        assert bronze.filter(bronze.job_id == jid).count() == 6
        silver = warehouse.read(SILVER_TABLE)
        assert silver.filter(silver.job_id == jid).count() == 6


class TestNoRowUpload:
    @pytest.mark.parametrize("prior", [False, True], ids=["fresh", "non_empty"])
    def test_header_only_upload_completes_and_writes_nothing(self, spark, warehouse, tmp_path, prior):
        """An upload with no rows is no work: its job completes at 100 and
        no parquet file in the warehouse is added or changed."""
        from clinical_api_etl_spark.jobs.ledger import JobLedger

        def parquet_files():
            return {
                str(p.relative_to(warehouse.root)): hashlib.md5(p.read_bytes()).hexdigest()
                for p in warehouse.root.rglob("*.parquet")
            }

        if prior:
            process_job(spark, warehouse, _write_csv(tmp_path, "happy.csv", HAPPY), job_id="job-1")
        before = parquet_files()
        process_job(spark, warehouse, _write_csv(tmp_path, "empty.csv", []), job_id="job-empty")
        row = JobLedger(warehouse).fetch("job-empty")
        assert (row.status, row.progress) == ("completed", 100)
        assert parquet_files() == before


class TestPartitionedWarehouse:
    def test_partition_pruning_and_schema_stability(self, spark, tmp_path):
        """Blueprint layout: bronze partitioned by job_id, silver by
        study_id. Per-job reads must prune partitions at the scan, and
        numeric-looking partition values must stay strings."""
        from clinical_api_etl_spark.sources.sinks import clinical_warehouse

        wh = clinical_warehouse(spark, str(tmp_path / "wh"))
        csv = _write_csv(tmp_path, "p1.csv", HAPPY)
        jid = process_job(spark, wh, csv)
        csv2 = _write_csv(tmp_path, "p2.csv", ["123,P9,glucose,95,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.9"])
        process_job(spark, wh, csv2)

        bronze = wh.read(BRONZE_TABLE)
        plan = (
            bronze.filter(bronze.job_id == jid)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters: [isnotnull(job_id" in plan, plan
        # numeric-looking study_id partition survives as string
        silver = wh.read(SILVER_TABLE)
        assert dict(silver.dtypes)["study_id"] == "string"
        assert silver.filter(silver.study_id == "123").count() == 1
        # re-ingest idempotency still holds under the partitioned layout
        process_job(spark, wh, csv, job_id=jid)
        assert bronze.count() == wh.read(BRONZE_TABLE).count()


class TestQualityScoreCheckParity:
    """Reference failure semantics: float(qs) raises on garbage (etl.py:93)
    and the staging CHECK rejects values outside [0,1]
    (02_staging_clinical_trials.sql:13) — either way the whole job fails
    and nothing is persisted (per-batch txn rollback)."""

    @pytest.mark.parametrize("score", ["abc", "1.01", "-0.1", "nan"])
    def test_bad_scores_fail_job_with_no_partial_state(
        self, spark, warehouse, tmp_path, score
    ):
        csv = _write_csv(
            tmp_path,
            f"bad_{score}.csv",
            [f"S1,P1,glucose,95,mg/dL,2024-01-15T09:30:00Z,SITE_A,{score}"],
        )
        with pytest.raises(ClinicalCsvError):
            process_job(spark, warehouse, csv)
        assert warehouse.read(BRONZE_TABLE) is None  # nothing written
        jobs = warehouse.read("etl_jobs")
        assert jobs.filter(jobs.status == "failed").count() == 1

    def test_valid_and_sentinel_scores_pass(self, spark, warehouse, tmp_path):
        csv = _write_csv(
            tmp_path,
            "ok_scores.csv",
            [
                "S1,P1,glucose,95,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.00",
                "S1,P2,glucose,96,mg/dL,2024-01-15T09:31:00Z,SITE_A,1.00",
                "S1,P3,glucose,97,mg/dL,2024-01-15T09:32:00Z,SITE_A,",
                "S1,P4,glucose,98,mg/dL,2024-01-15T09:33:00Z,SITE_A,null",
                "S1,P5,glucose,99,mg/dL,2024-01-15T09:34:00Z,SITE_A, 0.5 ",
            ],
        )
        process_job(spark, warehouse, csv)
        assert warehouse.read(BRONZE_TABLE).count() == 5


class TestConcurrentWrites:
    """The writes after bronze run concurrently, on threads that carry the
    caller's job group; the caller alone marks the ledger."""

    TABLES = (BRONZE_TABLE, SILVER_TABLE, QUALITY_TABLE, GOLD_TABLE, "studies", "participants")

    @staticmethod
    def _rows(warehouse, table):
        # Bronze row ids (and silver's copies) are fresh uuids per run.
        df = warehouse.read(table).drop("id", "raw_row_id")
        return sorted((tuple(r) for r in df.collect()), key=repr)

    def test_failed_write_fails_job_and_retry_equals_clean_run(self, spark, warehouse, tmp_path, monkeypatch):
        from clinical_api_etl_spark.jobs.ledger import JobLedger
        from clinical_api_etl_spark.sources.sinks import ParquetWarehouse, clinical_warehouse

        path = _write_csv(tmp_path, "mixed.csv", HAPPY + BP + EDGE)

        def boom(self, table, df, key):
            raise RuntimeError("gold merge failed")

        monkeypatch.setattr(ParquetWarehouse, "merge_aggregations", boom)
        with pytest.raises(RuntimeError, match="gold merge failed"):
            process_job(spark, warehouse, path, job_id="job-r")
        row = JobLedger(warehouse).fetch("job-r")
        assert (row.status, row.message, row.progress) == ("failed", "gold merge failed", 100)
        monkeypatch.undo()

        process_job(spark, warehouse, path, job_id="job-r")
        assert JobLedger(warehouse).fetch("job-r").status == "completed"
        clean = clinical_warehouse(spark, str(tmp_path / "clean"))
        process_job(spark, clean, path, job_id="job-r")
        for table in self.TABLES:
            assert self._rows(warehouse, table) == self._rows(clean, table), table

    def test_every_spark_job_runs_in_the_callers_job_group(self, spark, warehouse, tmp_path, spark_jobs):
        path = _write_csv(tmp_path, "grouped.csv", HAPPY + BP)
        _, started = spark_jobs.started(
            lambda: spark_jobs.in_group("g", lambda: process_job(spark, warehouse, path))
        )
        assert started and started <= spark_jobs.of_group("g")
        assert not started & spark_jobs.of_group(None)

    def test_progress_never_falls_and_only_the_caller_marks(self, spark, warehouse, tmp_path, monkeypatch):
        import threading

        from clinical_api_etl_spark.jobs.ledger import JobLedger

        marks = []
        real_mark = JobLedger.mark

        def mark(self, job_id, status, message=None, progress=None):
            marks.append((threading.get_ident(), progress))
            real_mark(self, job_id, status, message, progress)

        monkeypatch.setattr(JobLedger, "mark", mark)
        process_job(spark, warehouse, _write_csv(tmp_path, "prog.csv", HAPPY), job_id="job-p")
        # 45 before the five concurrent writes, +9 as each ends, 100 at the end.
        assert [p for _, p in marks] == [10, 30, 45, 54, 63, 72, 81, 90, 100]
        assert {t for t, _ in marks} == {threading.get_ident()}
