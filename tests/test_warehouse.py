"""Partition-scoped merge behavior of ParquetWarehouse: merges touch only
the partitions present in the incoming batch (untouched partition files
stay byte-identical), results equal the whole-table merge semantics,
writers of one table serialize while writers of different tables overlap,
and declared schemas are read without a Spark job and enforced on write.
"""

from __future__ import annotations

import hashlib
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from clinical_api_etl_spark.sources import sinks
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
        """Background API jobs upsert concurrently; the table's writer lock
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


class TestPerTableWriters:
    """``_commit_guard(table)``: writers of different tables overlap,
    writers of one table and ``reset`` exclude each other."""

    @staticmethod
    def _hold(pwh, table, spans, started=None, hold_s=0.4):
        with pwh._commit_guard(table):
            t0 = time.monotonic()
            if started is not None:
                started.set()
            time.sleep(hold_s)
            spans.append((t0, time.monotonic()))

    def _run(self, pwh, tables):
        spans: list[tuple[float, float]] = []
        ts = [threading.Thread(target=self._hold, args=(pwh, t, spans)) for t in tables]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return sorted(spans)

    def test_writers_of_different_tables_overlap(self, pwh):
        (s1, e1), (s2, e2) = self._run(pwh, ["a", "b"])
        assert s2 < e1, "writers of two tables ran one after the other"

    def test_writers_of_one_table_never_overlap(self, pwh):
        spans = self._run(pwh, ["a"] * 4)
        assert all(e <= s for (_, e), (s, _) in zip(spans, spans[1:])), spans

    def test_reset_waits_for_an_inflight_writer(self, pwh):
        spans: list[tuple[float, float]] = []
        started = threading.Event()
        w = threading.Thread(target=self._hold, args=(pwh, "a", spans, started))
        w.start()
        started.wait()
        pwh.reset()
        reset_done = time.monotonic()
        w.join()
        assert spans[0][1] <= reset_done

    def test_writer_waits_for_reset(self, pwh, monkeypatch):
        (pwh.root / "old_table").mkdir()
        inside, reset_span = threading.Event(), []
        real_rmtree = sinks.shutil.rmtree

        def slow_rmtree(path, *args, **kwargs):
            t0 = time.monotonic()
            inside.set()
            time.sleep(0.4)
            real_rmtree(path, *args, **kwargs)
            reset_span.append((t0, time.monotonic()))

        monkeypatch.setattr(sinks.shutil, "rmtree", slow_rmtree)
        r = threading.Thread(target=pwh.reset)
        r.start()
        inside.wait()
        spans: list[tuple[float, float]] = []
        self._hold(pwh, "a", spans, hold_s=0)
        r.join()
        assert reset_span and reset_span[0][1] <= spans[0][0]

    def test_reset_keeps_every_lock_file(self, spark, pwh):
        df = spark.createDataFrame([("s1", "p1", 1.0)], "study_id string, participant_id string, v double")
        pwh.upsert("gold", df, ["study_id", "participant_id"])
        locks = {p.name: p.stat().st_ino for p in pwh.root.glob(".writer.lock*")}
        assert set(locks) == {".writer.lock", ".writer.lock.gold"}
        pwh.reset()
        assert {p.name: p.stat().st_ino for p in pwh.root.glob(".writer.lock*")} == locks
        assert pwh.read("gold") is None

    def test_whole_warehouse_guard_cannot_nest_in_a_table_guard(self, pwh):
        with pwh._commit_guard("a"):
            with pwh._commit_guard("a"), pwh._commit_guard("b"):
                pass
            with pytest.raises(RuntimeError, match="whole-warehouse"):
                with pwh._commit_guard():
                    pass
        with pwh._commit_guard(), pwh._commit_guard("a"):
            pass  # a table guard nests inside the whole-warehouse guard


class TestDeclaredSchemas:
    """The clinical tables are read with their declared schemas; a write
    that would not read back as written raises before any Spark job."""

    TABLE = "data_quality_reports"
    DDL = "job_id string, rule_name string, severity string, affected_rows long"

    def _seed(self, spark, warehouse):
        warehouse.append(self.TABLE, spark.createDataFrame([("j1", "r", "warn", 3)], self.DDL))
        return sorted(warehouse.read(self.TABLE).collect()), _file_digests(warehouse.root / self.TABLE)

    @pytest.mark.parametrize(
        "ddl, rows, column",
        [
            (DDL + ", extra string", [("j2", "r", "warn", 1, "x")], "extra"),
            ("job_id string, rule_name string, severity string, affected_rows int", [("j2", "r", "warn", 1)], "affected_rows"),
        ],
        ids=["extra_column", "wrong_type"],
    )
    def test_mismatched_append_raises_and_leaves_table(self, spark, warehouse, spark_jobs, ddl, rows, column):
        before = self._seed(spark, warehouse)
        df = spark.createDataFrame(rows, ddl)
        for write in (
            lambda: warehouse.append(self.TABLE, df),
            lambda: warehouse.append_if_absent(self.TABLE, df, ["job_id", "rule_name"]),
            lambda: warehouse.upsert(self.TABLE, df, ["job_id", "rule_name"]),
        ):
            with pytest.raises(ValueError, match=repr(column)):
                spark_jobs.in_group("bad-write", write)
        assert spark_jobs.of_group("bad-write") == set()
        assert (sorted(warehouse.read(self.TABLE).collect()), _file_digests(warehouse.root / self.TABLE)) == before

    def test_mistyped_merge_raises_and_leaves_table(self, spark, warehouse):
        cols = "study_id string, participant_id string, site_id string, measurement_type string, cnt long, avg_num double, min_num double, max_num double, job_id string"
        gold = "measurement_aggregations"
        key = ["study_id", "participant_id", "site_id", "measurement_type"]
        warehouse.merge_aggregations(gold, spark.createDataFrame([("s1", "p1", "x", "hr", 2, 1.0, 1.0, 1.0, "j1")], cols), key)
        before = sorted(warehouse.read(gold).collect())
        bad = spark.createDataFrame([("s1", "p1", "x", "hr", 2, 1.0, 1.0, 1.0, 7)], cols.replace("job_id string", "job_id int"))
        with pytest.raises(ValueError, match="'job_id'"):
            warehouse.merge_aggregations(gold, bad, key)
        assert sorted(warehouse.read(gold).collect()) == before

    def test_declared_read_starts_no_spark_job(self, spark, warehouse, spark_jobs):
        self._seed(spark, warehouse)
        df = spark_jobs.in_group("declared-read", lambda: warehouse.read(self.TABLE))
        assert df.columns == ["job_id", "rule_name", "severity", "affected_rows"]
        assert spark_jobs.of_group("declared-read") == set()
        # Past Spark's default parallel-discovery threshold (32 directories),
        # bronze's job_id partitions are still listed without a job.
        bronze = "staging_clinical_measurements"
        rows = [(f"r{i}", "f.csv", 1, "s1", "p1", "hr", "70", "bpm", None, "A", 0.9, f"job-{i}") for i in range(40)]
        warehouse.append(bronze, spark.createDataFrame(rows, sinks.CLINICAL_SCHEMAS[bronze]))
        assert len(list((warehouse.root / bronze).glob("job_id=*"))) == 40
        spark_jobs.in_group("declared-read-40", lambda: warehouse.read(bronze))
        assert spark_jobs.of_group("declared-read-40") == set()
        # An undeclared table still merges footers, which the counter sees.
        warehouse.append("undeclared", spark.range(3))
        spark_jobs.in_group("merged-read", lambda: warehouse.read("undeclared"))
        assert spark_jobs.of_group("merged-read")
