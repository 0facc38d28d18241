"""Clinical medallion transforms: bronze → silver → quality / gold / dims.

DataFrame functions with no writes (sinks live in ``sources/sinks.py``),
each reproducing a declared reference behavior with its quirks (SURVEY
§2.9) encoded deliberately:

* the gold grain is NOT daily despite the reference's constraint name
  (§2.9.2 — ``etl.py:211`` omits the computed ``day`` column),
* quality rules run on the raw bronze *input* strings, not silver
  (§2.9.5 — ``etl.py:255`` passes the raw df), and the
  ``blood_pressure_1/_2`` bounds are dead for rule 3 by construction,
* a numeric-looking blood_pressure value ("120", no slash) passes through
  as a numeric observation; a malformed one ("120-80") lands as text
  (§2.9.4 — control flow of ``etl.py:119-149``).

Everything is a single-pass column expression: the reference's
row-at-a-time Python loops (``etl.py:109-150``) and per-rule rescans
(``etl.py:163-194``) become one whole-stage-codegen'd projection and one
multi-counter aggregate respectively. That aggregate is part of the
job's one check pass over its input (:func:`validate_quality_scores`), so
the quality report costs no scan of its own. At 100 TB the silver build is
shuffle-free (narrow transform of bronze); gold is one partial+final hash
aggregate.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from clinical_api_etl_spark.functions.clinical import (
    RANGES,
    REQ_UNIT,
    VALUE_DECIMAL,
    bp_diastolic,
    bp_is_valid,
    bp_systolic,
    normalize_blank,
    normalize_quality_score,
    to_decimal_expr,
)
from clinical_api_etl_spark.sources.clinical_csv import SOURCE_COLUMN

#: Silver natural key — unique constraint ``uq_pm_obs``
#: (database/05_processed_measurements.sql:19).
SILVER_KEY = ("study_id", "participant_id", "measurement_type", "measured_at", "site_id")

#: Gold grain — per §2.9.2 the *actual* grain omits day (etl.py:211).
GOLD_KEY = ("study_id", "participant_id", "site_id", "measurement_type")

#: A3-A5 quality rules and their severities (etl.py:155-195).
QUALITY_RULES = {
    "missing_unit_required": "warn",
    "malformed_blood_pressure": "error",
    "numeric_out_of_range": "warn",
}


@dataclass(frozen=True)
class InputChecks:
    """What the one pass over a job's input found; ``error`` is why it fails."""

    rows: int
    files: tuple[str, ...]
    error: str | None
    rule_counts: dict[str, int]


def validate_quality_scores(raw: DataFrame) -> InputChecks:
    """The job's one pass over its normalised input, before anything is
    written, as one Spark job (the metrics ride a no-op write): row count,
    source files, S3 blank-``study_id`` count, first invalid
    ``quality_score`` in input order, and the three rule counters.

    Reference failure parity: a non-sentinel ``quality_score`` that is not a
    float (``float(qs)`` raises — etl.py:93) or falls outside [0,1] (staging
    CHECK constraint, 02_staging_clinical_trials.sql:13) fails the WHOLE
    job before anything is written — the reference's per-batch insert
    transaction rolls back, so no partial state survives."""
    qs = F.trim(F.col("quality_score"))
    as_num = qs.try_cast("double")
    bad = ~qs.isin("", "null") & (
        as_num.isNull() | F.isnan(as_num) | (as_num < 0.0) | (as_num > 1.0)
    )
    seen = Observation()
    raw.withColumn("_ord", F.monotonically_increasing_id()).observe(
        seen,
        F.count(F.lit(1)).alias("rows"),
        F.collect_set(SOURCE_COLUMN).alias("files"),
        F.count_if(F.trim("study_id") == "").alias("blank_study_ids"),
        F.min_by("quality_score", F.when(bad, F.col("_ord"))).alias("bad_quality_score"),
        *[F.count_if(cond).alias(rule) for rule, cond in _quality_rules().items()],
    ).write.format("noop").mode("overwrite").save()
    m = seen.get
    # A blank study_id wins: the reference rejects it on read (etl.py:66-70),
    # before staging parses any quality_score (etl.py:93).
    error = None
    if m["blank_study_ids"]:
        error = "study_id is required for all rows and cannot be blank"
    elif m["bad_quality_score"] is not None:
        error = f"invalid quality_score {m['bad_quality_score']!r}: must be a float in [0, 1]"
    rule_counts = {rule: m[rule] for rule in QUALITY_RULES}
    return InputChecks(m["rows"], tuple(sorted(m["files"])), error, rule_counts)


def stage_bronze(raw: DataFrame, job_id: str, source_filename: str | Column) -> DataFrame:
    """R3 lineage + bronze normalization (etl.py:72-98).

    Adds per-row ``id`` (uuid), 1-based ``row_num`` in file order, job
    lineage, and the insert-time normalizations of ``stage_dataframe``:
    ``unit`` ''→NULL, ``quality_score`` ''/'null'→NULL-else-float,
    ``timestamp`` parsed to TimestampType (the reference delegates that
    cast to Postgres at insert, 02_staging_clinical_trials.sql:11).

    ``source_filename`` may be a Column (streaming multi-file batches pass
    the per-row source file), in which case row numbering restarts per
    file — one pass stages the whole batch.

    ``row_num`` determinism (§2.9.6): ``monotonically_increasing_id`` is
    ascending in file order for a splittable single-file read (partition id
    ordering follows byte ranges; a task reading several whole files keeps
    each file's rows contiguous and in order), so ``row_number`` over it
    reproduces the pandas 1..n numbering. Partitioned by source file, so
    at scale the sort is per-file, never global.
    """
    src = (
        F.lit(source_filename)
        if isinstance(source_filename, str)
        else source_filename
    )
    order = F.monotonically_increasing_id()
    w = W.partitionBy(src).orderBy(order)
    return raw.select(
        F.expr("uuid()").alias("id"),
        F.lit(job_id).alias("job_id"),
        src.alias("source_filename"),
        F.row_number().over(w).alias("row_num"),
        "study_id",
        "participant_id",
        "measurement_type",
        "value",
        normalize_blank(F.col("unit")).alias("unit"),
        F.to_timestamp("timestamp").alias("timestamp"),
        "site_id",
        normalize_quality_score(F.col("quality_score")).alias("quality_score"),
    )


def build_silver(bronze: DataFrame) -> DataFrame:
    """R1 + R2 + R4: typed observations, one row per observation
    (etl.py:103-150), as array(struct) + explode.

    Branch order mirrors the reference exactly (§2.9.4):
    1. valid "S/D" blood_pressure → two rows (systolic/diastolic), unit
       forced 'mmHg' (F12), value_num = the integer component;
    2. else numeric value → numeric observation under the original type
       (a slash-less "120" blood_pressure lands here);
    3. else → text observation carrying the raw string.
    """
    value = F.col("value")
    is_valid_bp = (F.col("measurement_type") == "blood_pressure") & bp_is_valid(value)
    num = to_decimal_expr(value)

    def obs(mtype, value_num, value_text, unit):
        return F.struct(
            mtype.alias("measurement_type"),
            value_num.cast(VALUE_DECIMAL).alias("value_num"),
            value_text.cast("string").alias("value_text"),
            unit.alias("unit"),
        )

    null_s = F.lit(None).cast("string")
    observations = F.when(
        is_valid_bp,
        F.array(
            obs(F.lit("blood_pressure_systolic"), bp_systolic(value), null_s, F.lit("mmHg")),
            obs(F.lit("blood_pressure_diastolic"), bp_diastolic(value), null_s, F.lit("mmHg")),
        ),
    ).otherwise(
        F.array(
            obs(
                F.col("measurement_type"),
                num,
                F.when(num.isNull(), value),
                F.col("unit"),
            )
        )
    )

    return (
        bronze.select(
            "study_id",
            "participant_id",
            "site_id",
            F.col("timestamp").alias("measured_at"),
            "quality_score",
            F.col("id").alias("raw_row_id"),
            "job_id",
            F.explode(observations).alias("obs"),
        )
        .select(
            "study_id",
            "participant_id",
            "site_id",
            F.col("obs.measurement_type").alias("measurement_type"),
            "measured_at",
            F.col("obs.value_num").alias("value_num"),
            F.col("obs.value_text").alias("value_text"),
            F.col("obs.unit").alias("unit"),
            "quality_score",
            "raw_row_id",
            "job_id",
        )
    )


def _quality_rules() -> dict[str, Column]:
    """A3-A5: each rule's condition on a raw *input* row (§2.9.5 — the
    reference computes these on the pre-staging df, etl.py:155-195).

    Rule 3 uses the full RANGES dict including the dead
    ``blood_pressure_1/_2`` entries — they can never equal a bronze
    ``measurement_type``, which is exactly the reference's (buggy but
    declared) behavior.
    """
    mtype, value = F.col("measurement_type"), F.col("value")
    value_num = to_decimal_expr(value).cast("double")
    out_of_range = [
        (mtype == t) & value_num.isNotNull() & ((value_num < lo) | (value_num > hi))
        for t, (lo, hi) in RANGES.items()
    ]
    return {
        "missing_unit_required": mtype.isin(*REQ_UNIT) & (F.trim("unit") == ""),
        "malformed_blood_pressure": (mtype == "blood_pressure") & ~bp_is_valid(value),
        "numeric_out_of_range": reduce(operator.or_, out_of_range),
    }


def quality_counts(spark: SparkSession, rule_counts: dict[str, int], job_id: str) -> DataFrame:
    """The quality report rows from the counters of the check pass
    (``InputChecks.rule_counts``), as literals: no scan of their own and no
    local data shipped to the JVM. Returns only rules with affected_rows >
    0, matching the reference's conditional appends."""
    rules = F.array(*[
        F.struct(
            F.lit(rule).alias("rule_name"),
            F.lit(severity).alias("severity"),
            F.lit(rule_counts[rule]).cast("long").alias("affected_rows"),
        )
        for rule, severity in QUALITY_RULES.items()
    ])
    return (
        spark.range(1)
        .select(F.lit(job_id).alias("job_id"), F.inline(rules))
        .filter(F.col("affected_rows") > 0)
    )


def build_gold(silver: DataFrame, job_id: str) -> DataFrame:
    """A1: the gold roll-up over numeric silver rows (etl.py:200-227).

    Grain is (study, participant, site, measurement_type) — NOT daily
    (§2.9.2). avg/min/max surfaced as double, matching the reference's
    float() coercion at insert (etl.py:219-223).
    """
    return (
        silver.filter(F.col("value_num").isNotNull())
        .groupBy(*GOLD_KEY)
        .agg(
            F.count("value_num").alias("cnt"),
            F.avg(F.col("value_num").cast("double")).alias("avg_num"),
            F.min(F.col("value_num").cast("double")).alias("min_num"),
            F.max(F.col("value_num").cast("double")).alias("max_num"),
        )
        .withColumn("job_id", F.lit(job_id))
    )


def extract_studies(bronze: DataFrame) -> DataFrame:
    """A2: distinct study dimension (db.py:71-76)."""
    return bronze.select("study_id").distinct()


def extract_participants(bronze: DataFrame) -> DataFrame:
    """A2/J2: distinct participants with last-write-wins site_id.

    The reference inserts SELECT DISTINCT (study, participant, site) with
    ``ON CONFLICT (study_id, participant_id) DO UPDATE SET site_id =
    EXCLUDED.site_id`` (db.py:78-86) — per-key winner unspecified when one
    participant appears under several sites in a batch. We make it
    deterministic: highest row_num (latest file occurrence) wins.
    """
    w = W.partitionBy("study_id", "participant_id").orderBy(F.desc("row_num"))
    return (
        bronze.select("study_id", "participant_id", "site_id", "row_num")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("study_id", "participant_id", "site_id")
    )
