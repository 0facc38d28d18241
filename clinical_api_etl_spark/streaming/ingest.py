"""Streaming clinical ingestion (SURVEY §2.8 re-architecture).

The reference runs one-shot pandas batch jobs behind HTTP (`main.py:63`);
the Spark-native form is a **file-source stream over a drop folder**:

* ``spark.readStream`` with the fixed 8-string-column schema (never
  inferred — S1 semantics), normalised as uploads are,
* each micro-batch is one job: ``foreachBatch`` hands it to the batch
  runner's stage sequence (``jobs.runner.run_pipeline``), against the
  idempotent warehouse sinks,
* ``trigger(availableNow=True)`` gives the reference's per-job batch
  behavior with streaming's exactly-once bookkeeping: the checkpoint
  records processed files, so re-running never re-ingests (the streaming
  analogue of the ``ON CONFLICT`` keys),
* per-file lineage comes from the file source's ``_metadata.file_path``
  column, and job ids are derived per batch from the checkpoint location
  and the batch id, so two streams into one warehouse never share a job id
  and a retried batch keeps its own.

A batch is staged in one pass however many files it spans: ``row_num``
restarts per file (the S5 (job, file, row_num) key), so a 1,000-file
trigger costs the same fixed number of Spark jobs as a 1-file trigger.
Unlike an upload, a batch writes no ``studies`` or ``participants`` rows.

At scale this is the continuous-ingestion story: thousands of files/hour
land in the drop folder; maxFilesPerTrigger bounds batch size; the
quality/gold stages aggregate per micro-batch exactly like per-job.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from clinical_api_etl_spark.jobs.runner import run_pipeline

# Imported only so perfbench's tracer (perfbench/layers.py) can rebind them here.
from clinical_api_etl_spark.operators.clinical import (  # noqa: F401
    build_gold, build_silver, quality_counts, stage_bronze, validate_quality_scores,
)
from clinical_api_etl_spark.sources.clinical_csv import CSV_COLUMNS, normalize_input
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


def run_ingest_stream(
    spark: SparkSession,
    wh: ParquetWarehouse,
    drop_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """Start (and, for availableNow, await) the drop-folder ingestion stream.

    ``available_now=False`` runs continuously with a ``processing_time``
    trigger — the caller owns the returned query's lifecycle."""
    reader = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("header", True)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = normalize_input(
        reader.csv(drop_dir), F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    )
    writer = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: run_pipeline(
                wh, batch, stream_job_id(checkpoint_dir, bid), dims=False
            )
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
