"""Job runner — the reference's 6-stage pipeline (etl.py:232-266) as one
lazy DataFrame lineage with one action per sink, for API uploads and
stream batches alike (:func:`run_pipeline`).

Stage map (progress checkpoints after etl.py:236-263):

======  ======================  =============================================
  10%   read                    S1-S2 all-string CSV read (uploads only)
        check                   S3, CHECK parity, A3-A5 counters: one pass
  30%   stage                   R3 lineage → S5 idempotent bronze append
  45%   dims                    A2 distinct studies/participants → J2 upsert
        transform               R1/R2/R4 silver build → S6 idempotent append
        quality                 the check pass's counters → S7 append
        aggregate               A1 gold roll-up → S8 asymmetric merge
 →90%   (each write done)       progress rises as each of those writes ends
 100%   completed
======  ======================  =============================================

The writes after bronze run concurrently: each reads only the written
bronze rows (or the check pass's counters), never another's output, and
the warehouse serializes writers per table, not per warehouse. Unlike the
reference (which materializes every stage as Python lists —
etl.py:80-96,206), the input is scanned twice, by the check pass and the
bronze append, and each downstream frame is a lazy projection of the
written bronze rows; Spark schedules the minimal work per sink action.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark import inheritable_thread_target
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
    An input with no rows writes nothing either: an upload's job completes,
    and an empty stream batch is no job at all. Every write is
    keyed-idempotent (bronze/silver/quality by natural key, gold via the S8
    merge), so a retried job id re-writes nothing. An upload's ledger row
    exists before its CSV is read; a stream batch gets its row here, named
    for its files. ``dims=False`` (the stream) writes no ``studies`` or
    ``participants``. Any exception marks the job failed (etl.py:264-266).
    """
    ledger = JobLedger(warehouse)
    try:
        checks = validate_quality_scores(raw)
        has_row = ledger.fetch(job_id) is not None
        if not checks.rows:
            if has_row:
                ledger.mark(job_id, "completed", "no rows", progress=100)
            return
        if not has_row:
            ledger.submit(",".join(checks.files), job_id=job_id)
        if checks.error:
            raise ClinicalCsvError(checks.error)

        ledger.mark(job_id, "running", "staging rows", progress=30)
        bronze = stage_bronze(raw, job_id, F.col(SOURCE_COLUMN))
        warehouse.append_if_absent(BRONZE_TABLE, bronze, BRONZE_KEY)
        # The input's second and last scan: everything downstream reads the
        # written bronze rows, so lineage stays short.
        staged = warehouse.read(BRONZE_TABLE).filter(F.col("job_id") == job_id)
        silver = build_silver(staged)
        writes = [
            (warehouse.append_if_absent, SILVER_TABLE, silver, list(SILVER_KEY)),
            # Keyed-idempotent on (job_id, rule_name): a retried job id never
            # duplicates its quality rows (parity with the bronze/silver keys).
            (
                warehouse.append_if_absent,
                QUALITY_TABLE,
                quality_counts(raw.sparkSession, checks.rule_counts, job_id),
                ["job_id", "rule_name"],
            ),
            # Gold is built from THIS job's silver rows (the reference
            # aggregates the in-memory processed list, etl.py:260), not the
            # whole table — re-ingest semantics then come from the S8 merge.
            (warehouse.merge_aggregations, GOLD_TABLE, build_gold(silver, job_id), list(GOLD_KEY)),
        ]
        if dims:
            writes += [
                (warehouse.append_if_absent, "studies", extract_studies(staged), ["study_id"]),
                (
                    warehouse.upsert,
                    "participants",
                    extract_participants(staged),
                    ["study_id", "participant_id"],
                ),
            ]
        ledger.mark(job_id, "running", f"writing {len(writes)} tables", progress=45)
        written: list[str] = []

        def wrote(table: str) -> None:
            written.append(table)
            progress = 45 + 45 * len(written) // len(writes)
            ledger.mark(job_id, "running", f"wrote {table}", progress=progress)

        _write_concurrently(warehouse.spark, writes, wrote)

        ledger.mark(job_id, "completed", "completed", progress=100)
    except Exception as e:  # noqa: BLE001 — any failure marks the job failed
        if ledger.fetch(job_id) is not None:  # a stream batch may fail before its row exists
            ledger.mark(job_id, "failed", str(e), progress=100)
        raise


def _write_concurrently(
    spark: SparkSession, writes: list[tuple], wrote: Callable[[str], None]
) -> None:
    """Run each ``(write, table, *args)`` on a thread of its own, calling
    ``wrote(table)`` on this thread as each write ends, so the caller alone
    marks the ledger. Each thread inherits the caller's Spark local
    properties, its job group included (a stream batch's ``runId``). Every
    write is waited for; then the first error is raised."""
    first: BaseException | None = None
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = {
            pool.submit(inheritable_thread_target(spark)(write), table, *args): table
            for write, table, *args in writes
        }
        for fut in as_completed(futures):
            if fut.exception() is not None:
                first = first or fut.exception()
            elif first is None:
                wrote(futures[fut])
    if first is not None:
        raise first
