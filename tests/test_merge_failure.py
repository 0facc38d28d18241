"""A merge whose write fails leaves the table as it was: the rows are
unchanged (an absent table stays absent) and no staging or swap directory
remains, in the warehouse root or inside the table."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

SCHEMA = "study_id string, participant_id string, v double"
KEY = ["study_id", "participant_id"]


@pytest.mark.parametrize(
    "table, partitioning, key, schema, rows",
    [
        # Partition-scoped merge: the dynamic-overwrite commit.
        pytest.param(
            "gold", {"gold": ["study_id"]}, KEY, SCHEMA,
            [("s1", "p1", 1.0), ("s2", "p1", 2.0)], id="partitioned",
        ),
        # Unpartitioned table: the whole-table ``_rewrite``.
        pytest.param(
            "flat", {}, ["k"], "k string, v double",
            [("a", 1.0), ("b", 2.0)], id="flat",
        ),
        # Absent table: the first write, also ``_rewrite``.
        pytest.param(
            "gold", {"gold": ["study_id"]}, KEY, SCHEMA, [], id="absent",
        ),
    ],
)
def test_failed_upsert_keeps_rows_and_leaves_no_directory(
    spark, tmp_path, table, partitioning, key, schema, rows
):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), partitioning=partitioning)
    if rows:
        wh.upsert(table, spark.createDataFrame(rows, schema), key)
        before = sorted(wh.read(table).collect())

    first = rows[0] if rows else ("s1", "p1", 9.0)
    bad = spark.createDataFrame([first], schema).withColumn(
        "v", F.raise_error(F.lit("merge write fails"))
    )
    with pytest.raises(Exception, match="merge write fails"):
        wh.upsert(table, bad, key)

    if rows:
        assert sorted(wh.read(table).collect()) == before
    else:
        assert wh.read(table) is None
    root = Path(wh.root)
    leftovers = [p.name for p in root.iterdir() if p.name.startswith(f"{table}.")]
    if (root / table).exists():
        leftovers += [
            p.name for p in (root / table).iterdir()
            if p.is_dir() and p.name.startswith(".")
        ]
    assert leftovers == []
