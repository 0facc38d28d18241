"""Streaming clinical ingestion (SURVEY §2.8 re-architecture).

The reference runs one-shot pandas batch jobs behind HTTP (`main.py:63`);
the Spark-native form is a **file-source stream over a drop folder**:

* ``spark.readStream`` with the fixed 8-string-column schema (never
  inferred — S1 semantics),
* each micro-batch runs the same pure transforms as the batch runner
  (``stage_bronze`` → ``build_silver`` → quality/gold) inside
  ``foreachBatch`` against the idempotent warehouse sinks,
* ``trigger(availableNow=True)`` gives the reference's per-job batch
  behavior with streaming's exactly-once bookkeeping: the checkpoint
  records processed files, so re-running never re-ingests (the streaming
  analogue of the ``ON CONFLICT`` keys),
* per-file lineage comes from ``_metadata.file_path`` (input_file_name is
  not available on streaming sources' metadata column is), and job ids are
  derived per batch from the checkpoint location and the batch id, so two
  streams into one warehouse never share a job id and a retried batch keeps
  its own.

At scale this is the continuous-ingestion story: thousands of files/hour
land in the drop folder; maxFilesPerTrigger bounds batch size; the
quality/gold stages aggregate per micro-batch exactly like per-job.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinical_api_etl_spark.operators.clinical import (
    GOLD_KEY,
    SILVER_KEY,
    build_gold,
    build_silver,
    quality_counts,
    stage_bronze,
    validate_quality_scores,
)
from clinical_api_etl_spark.jobs.runner import (
    BRONZE_KEY,
    BRONZE_TABLE,
    GOLD_TABLE,
    QUALITY_TABLE,
    SILVER_TABLE,
)
from clinical_api_etl_spark.sources.clinical_csv import CSV_COLUMNS
from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

STREAM_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in CSV_COLUMNS]
)


def stream_job_id(checkpoint_dir: str, batch_id: int) -> str:
    """``stream-<checkpoint tag>-<batch_id>``: the tag hashes the resolved
    checkpoint location, which identifies the query across restarts, so
    the id is the same when a batch is retried and differs between two
    streams into one warehouse."""
    loc = checkpoint_dir if "://" in checkpoint_dir else os.path.realpath(checkpoint_dir)
    return f"stream-{hashlib.sha1(loc.encode()).hexdigest()[:12]}-{batch_id}"


def _process_batch(wh: ParquetWarehouse, batch_df: DataFrame, job_id: str) -> None:
    """One micro-batch = one logical job, keyed ``job_id``.

    The whole batch is staged in ONE pass regardless of how many files it
    spans: ``row_num`` lineage restarts per file via a window partitioned
    on the per-row source filename (the reference's (job, file, row_num)
    key — S5), so a 1,000-file trigger costs the same fixed number of
    Spark jobs as a 1-file trigger.
    """
    if batch_df.isEmpty():
        return
    from clinical_api_etl_spark.jobs.ledger import JobLedger

    batch = batch_df.withColumn(
        "_src", F.element_at(F.split(F.col("_source_file"), "/"), -1)
    )
    files = [r["_src"] for r in batch.select("_src").distinct().collect()]
    # S9-S11 for the streaming path: every micro-batch job is a ledger row
    # too, so the status surface is uniform across batch and stream jobs.
    ledger = JobLedger(wh)
    ledger.submit(",".join(sorted(files)), job_id=job_id)
    try:
        _run_batch(wh, batch, job_id)
    except Exception as e:  # noqa: BLE001
        ledger.mark(job_id, "failed", str(e), progress=100)
        raise
    ledger.mark(job_id, "completed", "completed", progress=100)


def _run_batch(wh: ParquetWarehouse, batch: DataFrame, job_id: str) -> None:
    """One pass over every file in the trigger: stage → silver → quality →
    gold, each sink written once. Every write is keyed-idempotent (bronze/
    silver/quality by natural key, gold via the S8 merge), so a retried
    micro-batch under the same job id re-writes nothing — including the
    quality report, which is keyed on (job_id, rule_name)."""
    raw = batch.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in CSV_COLUMNS],
        F.col("_src"),
    ).withColumn("unit", F.trim("unit"))
    # CHECK parity: any offending row fails the whole micro-batch BEFORE
    # any sink is touched (the reference's per-batch transaction rollback).
    validate_quality_scores(raw)
    bronze = stage_bronze(raw, job_id, F.col("_src"))
    wh.append_if_absent(BRONZE_TABLE, bronze, BRONZE_KEY)
    staged = wh.read(BRONZE_TABLE).filter(F.col("job_id") == job_id)
    silver = build_silver(staged)
    wh.append_if_absent(SILVER_TABLE, silver, list(SILVER_KEY))
    wh.append_if_absent(
        QUALITY_TABLE,
        quality_counts(raw.drop("_src"), job_id),
        ["job_id", "rule_name"],
    )
    wh.merge_aggregations(GOLD_TABLE, build_gold(silver, job_id), list(GOLD_KEY))


def run_ingest_stream(
    spark: SparkSession,
    wh: ParquetWarehouse,
    drop_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "10 seconds",
) -> None:
    """Start (and, for availableNow, await) the drop-folder ingestion stream.

    ``available_now=False`` runs continuously with a ``processing_time``
    trigger — the caller owns the returned query's lifecycle."""
    reader = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("header", True)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.csv(drop_dir).withColumn(
        "_source_file", F.col("_metadata.file_path")
    )
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, bid: _process_batch(wh, df, stream_job_id(checkpoint_dir, bid))
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    q = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=processing_time)
    ).start()
    if available_now:
        q.awaitTermination()
    return q
