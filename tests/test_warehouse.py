"""Partition-scoped merge behavior of ParquetWarehouse: merges touch only
the partitions present in the incoming batch (untouched partition files
stay byte-identical), results equal the whole-table merge semantics, and
in-process writers serialize.
"""

from __future__ import annotations

import hashlib
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from clinical_api_etl_spark.sources.sinks import ParquetWarehouse


def _file_digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


@pytest.fixture()
def pwh(spark, tmp_path):
    return ParquetWarehouse(
        spark,
        str(tmp_path / "wh"),
        partitioning={"gold": ["study_id"], "jobs": ["id"]},
    )


class TestPartitionScopedUpsert:
    def test_untouched_partitions_byte_identical(self, spark, pwh):
        batch_a = spark.createDataFrame(
            [("s1", "p1", 1.0), ("s1", "p2", 2.0), ("s2", "p1", 3.0)],
            "study_id string, participant_id string, v double",
        )
        pwh.upsert("gold", batch_a, ["study_id", "participant_id"])
        s1_dir = Path(pwh.root) / "gold" / "study_id=s1"
        before = _file_digests(s1_dir)
        assert before, "expected files in the s1 partition"

        batch_b = spark.createDataFrame(
            [("s2", "p1", 30.0), ("s2", "p9", 31.0), ("s3", "p1", 40.0)],
            "study_id string, participant_id string, v double",
        )
        pwh.upsert("gold", batch_b, ["study_id", "participant_id"])

        assert _file_digests(s1_dir) == before  # s1 never rewritten
        got = {
            (r["study_id"], r["participant_id"]): r["v"]
            for r in pwh.read("gold").collect()
        }
        assert got == {
            ("s1", "p1"): 1.0,
            ("s1", "p2"): 2.0,
            ("s2", "p1"): 30.0,  # replaced (last write wins)
            ("s2", "p9"): 31.0,
            ("s3", "p1"): 40.0,  # brand-new partition
        }

    def test_no_leftover_swap_dirs(self, spark, pwh):
        df = spark.createDataFrame([("s1", "p1", 1.0)], "study_id string, participant_id string, v double")
        pwh.upsert("gold", df, ["study_id", "participant_id"])
        pwh.upsert("gold", df, ["study_id", "participant_id"])
        leftovers = [
            p.name
            for p in Path(pwh.root).iterdir()
            if ".tmp-" in p.name or ".old-" in p.name
        ]
        leftovers += [p.name for p in (Path(pwh.root) / "gold").glob(".spark-staging-*")]
        assert leftovers == []

    def test_unpartitioned_fallback_unchanged(self, spark, pwh):
        df1 = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int")
        df2 = spark.createDataFrame([("k2", 20), ("k3", 3)], "k string, v int")
        pwh.upsert("flat", df1, ["k"])
        pwh.upsert("flat", df2, ["k"])
        got = {(r["k"], r["v"]) for r in pwh.read("flat").collect()}
        assert got == {("k1", 1), ("k2", 20), ("k3", 3)}


class TestPartitionScopedMergeAggregations:
    def test_asymmetric_merge_touches_only_batch_partitions(self, spark, pwh):
        cols = "study_id string, measurement_type string, cnt long, avg_num double, min_num double, max_num double, job_id string"
        job1 = spark.createDataFrame(
            [("s1", "hr", 4, 70.0, 60.0, 80.0, "j1"), ("s2", "hr", 2, 90.0, 85.0, 95.0, "j1")],
            cols,
        )
        pwh.merge_aggregations("gold", job1, ["study_id", "measurement_type"])
        s1_dir = Path(pwh.root) / "gold" / "study_id=s1"
        before = _file_digests(s1_dir)

        job2 = spark.createDataFrame(
            [("s2", "hr", 3, 100.0, 99.0, 101.0, "j2")], cols
        )
        pwh.merge_aggregations("gold", job2, ["study_id", "measurement_type"])

        assert _file_digests(s1_dir) == before
        rows = {r["study_id"]: r for r in pwh.read("gold").collect()}
        # §2.9.3 asymmetry: cnt/avg take the new job, min/max merge history.
        assert rows["s2"]["cnt"] == 3 and rows["s2"]["avg_num"] == 100.0
        assert rows["s2"]["min_num"] == 85.0 and rows["s2"]["max_num"] == 101.0
        assert rows["s2"]["job_id"] == "j2"
        assert rows["s1"]["cnt"] == 4 and rows["s1"]["job_id"] == "j1"


class TestWriterSerialization:
    def test_concurrent_upserts_lose_no_rows(self, spark, pwh):
        """Background API jobs upsert concurrently; the per-warehouse lock
        serializes them so every job's row lands (api.py submits daemon
        threads — the reference gets this from Postgres transactions)."""
        errors: list[Exception] = []

        def work(i: int) -> None:
            try:
                df = spark.createDataFrame(
                    [(f"job-{i}", "done")], "id string, status string"
                )
                pwh.upsert("jobs", df, ["id"])
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        assert pwh.read("jobs").count() == 8

    def test_missing_table_reads_none_fast(self, pwh):
        assert pwh.read("never_written") is None


class TestReadDuringSwap:
    def test_absent_directory_is_retried(self, spark, pwh, monkeypatch):
        """ADVICE: a reader landing inside the swap's absent-directory
        window must retry, not report 'table missing'. Simulated by making
        the first existence probe lie while swap artifacts are present."""
        df = spark.createDataFrame([("s1", "p1", 1.0)], "study_id string, participant_id string, v double")
        pwh.upsert("gold", df, ["study_id", "participant_id"])
        (Path(pwh.root) / "gold.old-deadbeef").mkdir()  # swap in flight
        real_exists = pwh.exists
        calls = {"n": 0}

        def flaky_exists(table: str) -> bool:
            calls["n"] += 1
            if calls["n"] == 1:
                return False  # the rename window
            return real_exists(table)

        monkeypatch.setattr(pwh, "exists", flaky_exists)
        got = pwh.read("gold")
        assert got is not None and got.count() == 1


class TestSchemaEvolution:
    def test_upsert_with_new_column_evolves_schema(self, spark, pwh):
        v1 = spark.createDataFrame(
            [("s1", 1, 10.0), ("s2", 2, 20.0)], "study_id string, k int, v double"
        )
        pwh.upsert("gold", v1, ["study_id", "k"])
        v2 = spark.createDataFrame(
            [("s1", 1, 11.0, "unitA"), ("s3", 3, 30.0, "unitB")],
            "study_id string, k int, v double, unit string",
        )
        pwh.upsert("gold", v2, ["study_id", "k"])
        got = {
            (r["study_id"], r["k"]): (r["v"], r["unit"])
            for r in pwh.read("gold").collect()
        }
        assert got[("s1", 1)] == (11.0, "unitA")     # replaced, new col set
        assert got[("s2", 2)] == (20.0, None)        # untouched, evolved to NULL
        assert got[("s3", 3)] == (30.0, "unitB")     # inserted
        assert set(pwh.read("gold").columns) == {"study_id", "k", "v", "unit"}

    def test_append_with_new_column_surfaces_via_merge_schema(self, spark, pwh):
        pwh.append(
            "quality",
            spark.createDataFrame([("j1", 5)], "job_id string, n int"),
        )
        pwh.append(
            "quality",
            spark.createDataFrame(
                [("j2", 7, "range")], "job_id string, n int, rule string"
            ),
        )
        df = pwh.read("quality")
        assert set(df.columns) == {"job_id", "n", "rule"}
        rows = {r["job_id"]: r["rule"] for r in df.collect()}
        assert rows == {"j1": None, "j2": "range"}


class TestScd2Merge:
    def _history(self, pwh):
        return {
            (r["study_id"], r["valid_from"].isoformat()): (
                r["status"],
                r["valid_to"].isoformat() if r["valid_to"] else None,
                r["is_current"],
            )
            for r in pwh.read("dim_study").collect()
        }

    def test_versions_chain_and_close(self, spark, pwh):
        from datetime import datetime as dt

        b1 = spark.createDataFrame(
            [("s1", "recruiting", dt(2024, 1, 1)), ("s2", "active", dt(2024, 1, 1))],
            "study_id string, status string, ts timestamp",
        )
        pwh.scd2_merge("dim_study", b1, ["study_id"], ts_col="ts")
        # batch 2: s1 changes twice IN ONE BATCH, s2 untouched, s3 new
        b2 = spark.createDataFrame(
            [
                ("s1", "paused", dt(2024, 2, 1)),
                ("s1", "completed", dt(2024, 3, 1)),
                ("s3", "recruiting", dt(2024, 2, 15)),
            ],
            "study_id string, status string, ts timestamp",
        )
        pwh.scd2_merge("dim_study", b2, ["study_id"], ts_col="ts")

        h = self._history(pwh)
        assert h[("s1", "2024-01-01T00:00:00")] == ("recruiting", "2024-02-01T00:00:00", False)
        assert h[("s1", "2024-02-01T00:00:00")] == ("paused", "2024-03-01T00:00:00", False)
        assert h[("s1", "2024-03-01T00:00:00")] == ("completed", None, True)
        assert h[("s2", "2024-01-01T00:00:00")] == ("active", None, True)
        assert h[("s3", "2024-02-15T00:00:00")] == ("recruiting", None, True)
        # exactly one current row per key
        cur = [k for k, v in h.items() if v[2]]
        assert sorted(k[0] for k in cur) == ["s1", "s2", "s3"]

    def test_asof_read_reconstructs_state(self, spark, pwh):
        from datetime import datetime as dt

        self.test_versions_chain_and_close(spark, pwh)
        dim = pwh.read("dim_study")
        t = F.lit(dt(2024, 2, 20))
        asof = dim.filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        state = {r["study_id"]: r["status"] for r in asof.collect()}
        assert state == {"s1": "paused", "s2": "active", "s3": "recruiting"}
