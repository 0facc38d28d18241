"""Clinical CSV source (SURVEY §2 S1-S4).

Reproduces the reference's validated-on-read contract
(`etl-service/src/etl.py:57-70`):

* all columns read as strings, never inferred (`dtype=str`),
* empty CSV fields are empty *strings*, not NULLs (`keep_default_na=False`)
  — Spark's CSV reader yields NULL for empty fields, so we coalesce back,
* hard failure if any required column is missing,
* optional ``quality_score`` column added as ``""`` when absent,
* ``unit`` trimmed on read.

The row checks (blank ``study_id``, invalid ``quality_score``) run later,
in the one pass over the input that uploads and stream batches share
(``operators.clinical.validate_quality_scores``).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CSV_COLUMNS = (
    "study_id",
    "participant_id",
    "measurement_type",
    "value",
    "unit",
    "timestamp",
    "site_id",
    "quality_score",
)

#: Required-column set (reference etl.py:29).
REQUIRED = frozenset(CSV_COLUMNS) - {"quality_score"}

#: Column naming each input row's source file (the bronze ``source_filename``).
SOURCE_COLUMN = "_src"


class ClinicalCsvError(ValueError):
    """Schema/content validation failure — the whole job fails (S2/S3)."""


def validate_path(path: str, root: str | None = None) -> Path:
    """S4: resolve and confine the input path (reference main.py:30-34's
    path-traversal guard, generalized to a configurable root)."""
    p = Path(path).resolve()
    if root is not None:
        rootp = Path(root).resolve()
        if not p.is_relative_to(rootp):
            raise ClinicalCsvError(f"path {path!r} escapes data root {root!r}")
    if not p.is_file():
        raise ClinicalCsvError(f"no such file: {path!r}")
    return p


def normalize_input(df: DataFrame, source: Column) -> DataFrame:
    """The eight string columns as the reference reads them, plus
    :data:`SOURCE_COLUMN` from ``source``. pandas ``keep_default_na=False``
    parity: an empty field is an empty string, not NULL; ``unit`` trimmed."""
    return df.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in CSV_COLUMNS],
        source.alias(SOURCE_COLUMN),
    ).withColumn("unit", F.trim("unit"))


def read_clinical_csv(spark: SparkSession, path: str, *, root: str | None = None) -> DataFrame:
    """S1-S2: all-string CSV read with the required-column guard; the
    source column holds the file's name."""
    validate_path(path, root)
    df = spark.read.option("header", True).csv(path)  # header=True, no inference: all strings

    missing = sorted(REQUIRED - set(df.columns))
    if missing:
        raise ClinicalCsvError(f"missing columns: {missing}")

    if "quality_score" not in df.columns:
        df = df.withColumn("quality_score", F.lit(""))
    return normalize_input(df, F.lit(os.path.basename(path)))
