"""The reference's six analytic views (database/08_views.sql:1-30) and the
parameterized measurement query surface (P1-P3).

Views are registered as Spark SQL temp views over the warehouse tables, so
``spark.sql("SELECT * FROM v_study_quality")`` works exactly like the
reference's Postgres views. ``query_measurements`` re-expresses the
string-assembled WHERE builder of ``database.service.ts:94-150`` as chained
Column predicates — Catalyst pushes them into the parquet scan (the
reference's composite indexes become row-group pruning).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_api_etl_spark.jobs.runner import BRONZE_TABLE, SILVER_TABLE
from clinical_api_etl_spark.sources.sinks import ParquetWarehouse


#: The warehouse tables registered as temp views under their own names.
TABLES = (BRONZE_TABLE, SILVER_TABLE, "studies", "participants", "data_quality_reports",
          "measurement_aggregations", "etl_jobs")

#: The six views (08_views.sql): name -> (the table it reads, its query).
VIEWS = {
    # 08_views.sql:1-4
    "v_study_quality": (SILVER_TABLE, f"""SELECT study_id,
        AVG(quality_score) AS avg_quality FROM {SILVER_TABLE} GROUP BY study_id"""),
    # 08_views.sql:6-10
    "v_glucose_trend": (SILVER_TABLE, f"""SELECT study_id, participant_id,
        DATE(measured_at) AS day, AVG(value_num) AS avg_glucose FROM {SILVER_TABLE}
        WHERE measurement_type = 'glucose' AND value_num IS NOT NULL
        GROUP BY study_id, participant_id, DATE(measured_at)"""),
    # 08_views.sql:12-15
    "v_counts_by_site": (SILVER_TABLE, f"""SELECT study_id, site_id, measurement_type,
        COUNT(*) AS cnt FROM {SILVER_TABLE} GROUP BY study_id, site_id, measurement_type"""),
    # 08_views.sql:17-20 — P7 partial predicate
    "v_low_quality": (SILVER_TABLE, f"""SELECT * FROM {SILVER_TABLE}
        WHERE quality_score IS NOT NULL AND quality_score < 0.95"""),
    # 08_views.sql:22-25 — F9 interval arithmetic
    "v_recent_30d": (SILVER_TABLE, f"""SELECT * FROM {SILVER_TABLE}
        WHERE measured_at >= current_timestamp() - INTERVAL 30 DAYS"""),
    # 08_views.sql:27-30
    "v_participants_per_study": ("participants", """SELECT study_id,
        COUNT(*) AS participants FROM participants GROUP BY study_id"""),
}


def register_views(wh: ParquetWarehouse) -> None:
    """Register warehouse tables + the six views (08_views.sql).

    An absent table gets no temp view, nor does a view over it, and an
    earlier call's registration of either is dropped: an empty or
    stream-only warehouse registers what it holds, and after ``reset`` no
    view still points at deleted files."""
    spark = wh.spark
    frames = {table: wh.read(table) for table in TABLES}
    for table, df in frames.items():
        if df is None:
            spark.catalog.dropTempView(table)
        else:
            df.createOrReplaceTempView(table)
    for name, (table, query) in VIEWS.items():
        if frames[table] is not None:
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {query}")
        else:
            spark.catalog.dropTempView(name)


def query_measurements(
    wh: ParquetWarehouse,
    *,
    study_id: str | None = None,
    participant_id: str | None = None,
    measurement_type: str | None = None,
    start_date: datetime | str | None = None,
    end_date: datetime | str | None = None,
    limit: int = 1000,
) -> DataFrame:
    """P1-P3: the parameterized slice endpoint (database.service.ts:94-150).

    Reads the *staging* (bronze) table — raw string values out — matching
    the reference's documented quirk (§3.2: the endpoint queries staging,
    not processed). ORDER BY timestamp DESC LIMIT n plans as
    TakeOrderedAndProject (true top-K).
    """
    df = wh.read(BRONZE_TABLE)
    if df is None:
        raise KeyError("no staged measurements yet")
    if study_id is not None:
        df = df.filter(F.col("study_id") == study_id)
    if participant_id is not None:
        df = df.filter(F.col("participant_id") == participant_id)
    if measurement_type is not None:
        df = df.filter(F.col("measurement_type") == measurement_type)
    if start_date is not None:
        df = df.filter(F.col("timestamp") >= F.lit(start_date).cast("timestamp"))
    if end_date is not None:
        df = df.filter(F.col("timestamp") <= F.lit(end_date).cast("timestamp"))
    # snake_case → camelCase projection (database.service.ts:96-97,138-149)
    renames = {
        "study_id": "studyId",
        "participant_id": "participantId",
        "measurement_type": "measurementType",
        "site_id": "siteId",
        "quality_score": "qualityScore",
        "source_filename": "sourceFilename",
        "row_num": "rowNum",
        "job_id": "jobId",
    }
    df = df.orderBy(F.desc("timestamp"), F.desc("row_num")).limit(limit)
    return df.select(
        [F.col(c).alias(renames.get(c, c)) for c in df.columns]
    )
