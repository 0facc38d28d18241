"""A partition-scoped merge whose write fails leaves the table as it was:
the rows are unchanged and no staging or swap directory remains, in the
warehouse root or inside the table."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

SCHEMA = "study_id string, participant_id string, v double"
KEY = ["study_id", "participant_id"]


def test_failed_upsert_keeps_rows_and_leaves_no_directory(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), partitioning={"gold": ["study_id"]})
    wh.upsert("gold", spark.createDataFrame([("s1", "p1", 1.0), ("s2", "p1", 2.0)], SCHEMA), KEY)
    before = sorted(wh.read("gold").collect())

    bad = spark.createDataFrame([("s1", "p1", 9.0)], SCHEMA).withColumn(
        "v", F.raise_error(F.lit("merge write fails"))
    )
    with pytest.raises(Exception, match="merge write fails"):
        wh.upsert("gold", bad, KEY)

    assert sorted(wh.read("gold").collect()) == before
    root = Path(wh.root)
    leftovers = [p.name for p in root.iterdir() if p.name.startswith("gold.")]
    leftovers += [p.name for p in (root / "gold").iterdir() if p.is_dir() and p.name.startswith(".")]
    assert leftovers == []
