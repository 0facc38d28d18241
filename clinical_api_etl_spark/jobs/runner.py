"""Job runner — the reference's 6-stage pipeline (etl.py:232-266) as one
lazy DataFrame lineage with one action per sink, for API uploads and
stream batches alike (:func:`run_pipeline`).

Stage map (progress checkpoints mirror etl.py:236-263):

====  ========================  =============================================
 10%  read                      S1-S2 all-string CSV read (uploads only)
      check                     S3, CHECK parity, A3-A5 counters: one pass
 30%  stage                     R3 lineage → S5 idempotent bronze append
 45%  dims                      A2 distinct studies/participants → J2 upsert
 65%  transform                 R1/R2/R4 silver build → S6 idempotent append
 75%  quality                   the check pass's counters → S7 append
 90%  aggregate                 A1 gold roll-up → S8 asymmetric merge
====  ========================  =============================================

Unlike the reference (which materializes every stage as Python lists —
etl.py:80-96,206), the input is scanned twice, by the check pass and the
bronze append, and each downstream frame is a lazy projection of the
written bronze rows; Spark schedules the minimal work per sink action.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_api_etl_spark.jobs.ledger import JobLedger
from clinical_api_etl_spark.operators.clinical import (
    GOLD_KEY,
    SILVER_KEY,
    build_gold,
    build_silver,
    extract_participants,
    extract_studies,
    quality_counts,
    stage_bronze,
    validate_quality_scores,
)
from clinical_api_etl_spark.sources.clinical_csv import SOURCE_COLUMN, ClinicalCsvError, read_clinical_csv
from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

BRONZE_TABLE = "staging_clinical_measurements"
SILVER_TABLE = "processed_measurements"
QUALITY_TABLE = "data_quality_reports"
GOLD_TABLE = "measurement_aggregations"

#: S5 idempotency key (02_staging_clinical_trials.sql:22).
BRONZE_KEY = ["job_id", "source_filename", "row_num"]


def process_job(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    csv_path: str,
    *,
    job_id: str | None = None,
    data_root: str | None = None,
) -> str:
    """Run the full pipeline for one CSV; returns the job id. The ledger
    row is created here only when none exists for ``job_id`` (the API
    creates its uploads' rows before calling this)."""
    ledger = JobLedger(warehouse)
    jid = job_id
    if jid is None or ledger.fetch(jid) is None:
        jid = ledger.submit(os.path.basename(csv_path), job_id=jid)
    try:
        ledger.mark(jid, "running", "reading csv", progress=10)
        raw = read_clinical_csv(spark, csv_path, root=data_root)
    except Exception as e:  # noqa: BLE001 — an unreadable upload fails the job
        ledger.mark(jid, "failed", str(e), progress=100)
        raise
    run_pipeline(warehouse, raw, jid)
    return jid


def run_pipeline(warehouse: ParquetWarehouse, raw: DataFrame, job_id: str, *, dims: bool = True) -> None:
    """The stage sequence of every job over its normalised input ``raw``.

    An invalid input fails the job whole: the check pass writes nothing.
    Every write is keyed-idempotent (bronze/silver/quality by natural key,
    gold via the S8 merge), so a retried job id re-writes nothing. An
    upload's ledger row exists before its CSV is read; a stream batch gets
    its row here, named for its files, unless it is empty. ``dims=False``
    (the stream) writes no ``studies`` or ``participants``. Any exception
    marks the job failed (etl.py:264-266).
    """
    ledger = JobLedger(warehouse)
    try:
        checks = validate_quality_scores(raw)
        if ledger.fetch(job_id) is None:
            if not checks.rows:
                return
            ledger.submit(",".join(checks.files), job_id=job_id)
        if checks.error:
            raise ClinicalCsvError(checks.error)

        ledger.mark(job_id, "running", "staging rows", progress=30)
        bronze = stage_bronze(raw, job_id, F.col(SOURCE_COLUMN))
        warehouse.append_if_absent(BRONZE_TABLE, bronze, BRONZE_KEY)
        # The input's second and last scan: everything downstream reads the
        # written bronze rows, so lineage stays short.
        staged = warehouse.read(BRONZE_TABLE).filter(F.col("job_id") == job_id)

        if dims:
            ledger.mark(job_id, "running", "upserting dimensions", progress=45)
            warehouse.append_if_absent("studies", extract_studies(staged), ["study_id"])
            warehouse.upsert(
                "participants",
                extract_participants(staged),
                ["study_id", "participant_id"],
            )

        ledger.mark(job_id, "running", "building processed", progress=65)
        silver = build_silver(staged)
        warehouse.append_if_absent(SILVER_TABLE, silver, list(SILVER_KEY))

        ledger.mark(job_id, "running", "quality checks", progress=75)
        # Keyed-idempotent on (job_id, rule_name): a retried job id never
        # duplicates its quality rows (parity with the bronze/silver keys).
        warehouse.append_if_absent(
            QUALITY_TABLE,
            quality_counts(raw.sparkSession, checks.rule_counts, job_id),
            ["job_id", "rule_name"],
        )

        ledger.mark(job_id, "running", "aggregations", progress=90)
        # Gold is built from THIS job's silver rows (the reference
        # aggregates the in-memory processed list, etl.py:260), not the
        # whole table — re-ingest semantics then come from the S8 merge.
        warehouse.merge_aggregations(GOLD_TABLE, build_gold(silver, job_id), list(GOLD_KEY))

        ledger.mark(job_id, "completed", "completed", progress=100)
    except Exception as e:  # noqa: BLE001 — any failure marks the job failed
        if ledger.fetch(job_id) is not None:  # a stream batch may fail before its row exists
            ledger.mark(job_id, "failed", str(e), progress=100)
        raise
