"""Structured Streaming tests (SURVEY §5.2 item 5): exactly-once drop-folder
ingestion, batch/stream window equivalence, stateful sessionization parity.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from clinical_api_etl_spark.jobs.runner import BRONZE_TABLE, GOLD_TABLE, SILVER_TABLE
from clinical_api_etl_spark.streaming.ingest import run_ingest_stream

HEADER = "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score"


def _drop(tmp_path, name, rows):
    d = tmp_path / "drop"
    d.mkdir(exist_ok=True)
    (d / name).write_text("\n".join([HEADER, *rows]) + "\n")
    return str(d)


class TestIngestStream:
    def test_available_now_exactly_once(self, spark, warehouse, tmp_path):
        drop = _drop(tmp_path, "f1.csv", [
            "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
            "S1,P1,blood_pressure,120/80,mmHg,2024-01-15T09:31:00Z,SITE_A,0.97",
        ])
        ckpt = str(tmp_path / "ckpt")
        run_ingest_stream(spark, warehouse, drop, ckpt)
        assert warehouse.read(BRONZE_TABLE).count() == 2
        assert warehouse.read(SILVER_TABLE).count() == 3  # BP split

        # re-run with no new files: checkpoint skips everything
        run_ingest_stream(spark, warehouse, drop, ckpt)
        assert warehouse.read(BRONZE_TABLE).count() == 2
        assert warehouse.read(SILVER_TABLE).count() == 3

        # add a file: only the new one is processed
        _drop(tmp_path, "f2.csv", [
            "S1,P2,weight,70.5,kg,2024-01-16T10:00:00Z,SITE_A,0.9",
        ])
        run_ingest_stream(spark, warehouse, drop, ckpt)
        assert warehouse.read(BRONZE_TABLE).count() == 3
        assert warehouse.read(SILVER_TABLE).count() == 4
        gold = {r["measurement_type"]: r for r in warehouse.read(GOLD_TABLE).collect()}
        assert gold["weight"]["cnt"] == 1

    def test_multi_file_trigger_is_one_pass(self, spark, warehouse, tmp_path):
        """A trigger spanning N files must hit each sink a CONSTANT number
        of times (one batch-wide pass), not O(N) — the per-file loop made
        a 1,000-file trigger ~4,000 sequential Spark jobs."""
        for i in range(8):
            drop = _drop(tmp_path, f"m{i}.csv", [
                f"S{i},P1,glucose,9{i}.5,mg/dL,2024-01-15T09:3{i}:00Z,SITE_A,0.98",
                f"S{i},P2,blood_pressure,120/8{i},mmHg,2024-01-15T10:0{i}:00Z,SITE_B,0.97",
            ])
        calls: list[str] = []
        for m in ("append", "append_if_absent", "upsert", "merge_aggregations"):
            orig = getattr(warehouse, m)

            def wrapped(*a, _orig=orig, _m=m, **kw):
                calls.append(_m)
                return _orig(*a, **kw)

            setattr(warehouse, m, wrapped)
        run_ingest_stream(spark, warehouse, drop, str(tmp_path / "mckpt"))
        # One batch = bronze + silver + quality + gold + dim/ledger writes,
        # independent of the 8 files. (Per-file would be ≥ 8×4 = 32.)
        assert len(calls) <= 10, f"{len(calls)} sink calls for 8 files: {calls}"
        assert warehouse.read(BRONZE_TABLE).count() == 16
        # row_num restarts per file (the (job, file, row_num) S5 key)
        per_file = (
            warehouse.read(BRONZE_TABLE)
            .groupBy("source_filename")
            .agg(F.min("row_num").alias("lo"), F.max("row_num").alias("hi"))
            .collect()
        )
        assert all(r["lo"] == 1 and r["hi"] == 2 for r in per_file)
        assert warehouse.read(SILVER_TABLE).count() == 8 + 16  # BP rows split

    def test_retried_batch_does_not_duplicate_quality_rows(
        self, spark, warehouse, tmp_path
    ):
        """ADVICE parity: if a micro-batch fails after the quality append
        and is retried under the same job id, the quality
        report must not duplicate — append is keyed on (job_id, rule_name)."""
        from clinical_api_etl_spark.jobs.runner import QUALITY_TABLE, run_pipeline
        from clinical_api_etl_spark.sources.clinical_csv import normalize_input

        drop = _drop(tmp_path, "q1.csv", [
            "S1,P1,glucose,95.5,,2024-01-15T09:30:00Z,SITE_A,0.98",  # missing unit
        ])
        batch = normalize_input(
            spark.read.option("header", True).csv(drop), F.lit("q1.csv")
        )
        run_pipeline(warehouse, batch, "stream-7", dims=False)
        run_pipeline(warehouse, batch, "stream-7", dims=False)  # the retry
        quality = warehouse.read(QUALITY_TABLE).filter(F.col("job_id") == "stream-7")
        assert quality.count() == quality.dropDuplicates(["job_id", "rule_name"]).count()
        assert quality.filter(F.col("rule_name") == "missing_unit_required").count() == 1

    def test_checkpoint_survives_fresh_query(self, spark, warehouse, tmp_path):
        """Losing the in-memory query but keeping the checkpoint must not
        re-ingest (the reference's retry-safety, now from the stream log)."""
        drop = _drop(tmp_path, "f1.csv", [
            "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
        ])
        ckpt = str(tmp_path / "ckpt")
        run_ingest_stream(spark, warehouse, drop, ckpt)
        n = warehouse.read(BRONZE_TABLE).count()
        run_ingest_stream(spark, warehouse, drop, ckpt)  # brand-new query object
        assert warehouse.read(BRONZE_TABLE).count() == n


class TestWindowedStream:
    def test_stream_equals_batch_hourly_rollup(self, spark, tmp_path):
        """availableNow file-source stream over the events table produces
        exactly the batch hourly roll-up (trigger-once determinism)."""
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.streaming.windows import hourly_rollup

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events")
        src_dir = str(tmp_path / "events_parquet")
        events.write.parquet(src_dir)  # nanos-free copy for the file stream

        batch = {
            (r["window_start"], r["event_type"]): (r["cnt"], r["total_value"])
            for r in hourly_rollup(events).collect()
        }

        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        out_rows = []
        q = (
            hourly_rollup(stream.withWatermark("ts", "1 hour"))
            .writeStream.outputMode("complete")
            .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "wckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["window_start"], r["event_type"]): (r["cnt"], r["total_value"])
            for r in out_rows
        }
        assert got == batch


class TestSessionization:
    def test_stream_sessionize_matches_batch(self, spark, tmp_path):
        """applyInPandasWithState sessionization over a single availableNow
        batch must agree with the batch lag/cumsum implementation."""
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.streaming.windows import (
            sessionize_batch,
            sessionize_stream,
        )

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events").select("user_id", "event_id", "ts")
        src_dir = str(tmp_path / "sess_parquet")
        events.write.parquet(src_dir)

        expected = {
            (r["user_id"], r["session_id"]): (
                r["session_start"], r["session_end"], r["n_events"])
            for r in sessionize_batch(
                events.withColumn("value", F.lit(0.0)), gap_minutes=360
            ).collect()
        }

        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        out_rows = []
        q = (
            sessionize_stream(stream, gap_minutes=360)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "sckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {}
        for r in out_rows:  # last update per (user, session) wins
            got[(r["user_id"], r["session_id"])] = (
                r["session_start"], r["session_end"], r["n_events"])
        assert len(got) == len(expected)
        for k, (start, end, n) in expected.items():
            g = got[k]
            assert g[2] == n, f"session {k}: {g[2]} != {n}"
            assert g[0] == start and g[1] == end


class TestNativeSessionWindowStream:
    def test_stream_session_window_equals_batch(self, spark, tmp_path):
        """The w8 native session_window aggregation is batch/stream-unified:
        the same expression under readStream (availableNow, watermarked)
        produces exactly the batch sessions."""
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events").select("user_id", "ts")
        src_dir = str(tmp_path / "sw_parquet")
        events.write.parquet(src_dir)

        def sessions(df):
            return (
                df.groupBy(F.session_window("ts", "6 hours"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(
                    "user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events",
                )
            )

        expected = {
            (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
            for r in sessions(events).collect()
        }

        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        out_rows = []
        q = (
            sessions(stream.withWatermark("ts", "1 hour"))
            .writeStream.outputMode("complete")
            .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "swckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
            for r in out_rows
        }
        assert got == expected


class TestLateData:
    def test_watermark_drops_late_rows_in_append_mode(self, spark, tmp_path):
        """Append-mode windowed agg with a 1h watermark: a row arriving in a
        later batch but event-timed far before the advanced watermark never
        reaches the sink; on-time windows are finalized exactly once."""
        import time as _time

        src = tmp_path / "late_src"
        src.mkdir()
        ckpt = str(tmp_path / "late_ckpt")

        def write_batch(name, rows):
            df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
            df.coalesce(1).write.mode("append").parquet(str(src))

        from datetime import datetime

        t = lambda s: datetime.fromisoformat(s)  # noqa: E731
        # Batch 1: events at 10:00-10:30 and a 14:00 row pushing the
        # watermark (max 14:00 - 1h = 13:00 after this batch).
        write_batch("b1", [
            (t("2024-01-01T10:00:00"), "click", 1.0),
            (t("2024-01-01T10:30:00"), "click", 2.0),
            (t("2024-01-01T14:00:00"), "click", 4.0),
        ])

        from clinical_api_etl_spark.streaming.windows import hourly_rollup

        out: list = []
        stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(str(src))
        q = (
            hourly_rollup(stream, watermark="1 hour")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # Batch 2 (new query, same checkpoint): one on-time row (14:30) and
        # one hopelessly late row (09:45, before the 13:00 watermark).
        write_batch("b2", [
            (t("2024-01-01T14:30:00"), "click", 8.0),
            (t("2024-01-01T09:45:00"), "click", 100.0),
        ])
        stream2 = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(str(src))
        q2 = (
            hourly_rollup(stream2, watermark="1 hour")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

        by_window = {r["window_start"].isoformat(): r["total_value"] for r in out}
        # 10:00 window finalized with ONLY the on-time rows — the late
        # 09:45/100.0 row was discarded by the watermark.
        assert by_window.get("2024-01-01T10:00:00") == 3.0
        assert "2024-01-01T09:00:00" not in by_window

    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark: re-delivered rows inside the
        watermark horizon dedup on the business key with bounded state —
        the streaming analogue of the S5 idempotency key."""
        from datetime import datetime

        t = lambda s: datetime.fromisoformat(s)  # noqa: E731
        src = tmp_path / "dup_src"
        rows = [
            (t("2024-01-01T10:00:00"), "k1", 1.0),
            (t("2024-01-01T10:00:00"), "k1", 1.0),  # duplicate delivery
            (t("2024-01-01T10:05:00"), "k2", 2.0),
            (t("2024-01-01T12:00:00"), "k3", 3.0),
        ]
        spark.createDataFrame(rows, "ts timestamp, key string, value double") \
            .coalesce(1).write.parquet(str(src))

        out: list = []
        stream = spark.readStream.schema("ts timestamp, key string, value double").parquet(str(src))
        q = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["key"])
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "dup_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sorted(r["key"] for r in out) == ["k1", "k2", "k3"]


class TestContinuousMode:
    def test_continuous_trigger_picks_up_new_files(self, spark, warehouse, tmp_path):
        """Non-availableNow mode: a live processingTime-triggered stream
        ingests files dropped AFTER it starts (the drop-folder deployment
        shape); caller stops the query."""
        import time as _time

        drop = _drop(tmp_path, "c1.csv", [
            "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
        ])
        q = run_ingest_stream(
            spark, warehouse, drop, str(tmp_path / "cckpt"),
            available_now=False, processing_time="1 second",
        )
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                t = warehouse.read(BRONZE_TABLE)
                if t is not None and t.count() >= 1:
                    break
                _time.sleep(1)
            assert warehouse.read(BRONZE_TABLE).count() == 1
            # drop a second file into the LIVE stream
            _drop(tmp_path, "c2.csv", [
                "S2,P1,heart_rate,72,bpm,2024-01-15T10:00:00Z,SITE_B,0.9",
            ])
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if warehouse.read(BRONZE_TABLE).count() >= 2:
                    break
                _time.sleep(1)
            assert warehouse.read(BRONZE_TABLE).count() == 2
        finally:
            q.stop()


class TestStreamLedger:
    def test_stream_jobs_recorded_in_ledger(self, spark, warehouse, tmp_path):
        """S9-S11 uniformity: micro-batch jobs appear in the same ledger as
        batch jobs, terminal-stamped."""
        drop = _drop(tmp_path, "l1.csv", [
            "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
        ])
        run_ingest_stream(spark, warehouse, drop, str(tmp_path / "lckpt"))
        jobs = warehouse.read("etl_jobs")
        rows = jobs.filter(jobs.id.startswith("stream-")).collect()
        assert len(rows) == 1
        assert rows[0]["status"] == "completed"
        assert rows[0]["filename"] == "l1.csv"
        assert rows[0]["completed_at"] is not None

    def test_empty_batch_is_no_job(self, spark, warehouse, tmp_path):
        """A batch of header-only files has no rows: no ledger row, no writes."""
        drop = _drop(tmp_path, "empty.csv", [])
        run_ingest_stream(spark, warehouse, drop, str(tmp_path / "eckpt"))
        assert warehouse.read("etl_jobs") is None
        assert warehouse.read(BRONZE_TABLE) is None


class TestStreamBlankStudyId:
    def test_blank_study_id_fails_the_whole_batch(self, spark, warehouse, tmp_path):
        """Uploads and stream batches share one check pass: a micro-batch
        with a blank study_id ends failed with the study_id message, and no
        clinical table gains a row (its valid file included)."""
        from pyspark.errors import StreamingQueryException

        from clinical_api_etl_spark.jobs.runner import QUALITY_TABLE

        _drop(tmp_path, "ok.csv", [
            "S1,P1,glucose,95.5,,2024-01-15T09:30:00Z,SITE_A,0.98",  # missing unit
        ])
        drop = _drop(tmp_path, "blank.csv", [
            "S1,P2,glucose,96,mg/dL,2024-01-15T09:31:00Z,SITE_A,0.9",
            "  ,P3,glucose,97,mg/dL,2024-01-15T09:32:00Z,SITE_A,0.9",
        ])
        with pytest.raises(StreamingQueryException, match="study_id"):
            run_ingest_stream(spark, warehouse, drop, str(tmp_path / "bckpt"))
        jobs = warehouse.read("etl_jobs").collect()
        assert [(j.filename, j.status) for j in jobs] == [("blank.csv,ok.csv", "failed")]
        assert "study_id" in jobs[0].message
        for table in (BRONZE_TABLE, SILVER_TABLE, QUALITY_TABLE, GOLD_TABLE):
            assert warehouse.read(table) is None, table


class TestTwoStreamsOneWarehouse:
    def test_stream_job_ids_do_not_collide(self, spark, warehouse, tmp_path):
        """Two streams, each with its own drop folder and checkpoint, into
        one warehouse: both batch-0 ledger rows and both sets of quality
        rows survive (a shared ``stream-<batch_id>`` id dropped the second
        stream's quality rows and overwrote its ledger row)."""
        from clinical_api_etl_spark.jobs.runner import QUALITY_TABLE
        from clinical_api_etl_spark.streaming.ingest import stream_job_id

        (tmp_path / "a").mkdir()
        (tmp_path / "b").mkdir()
        drop_a = _drop(tmp_path / "a", "a.csv", [
            "S1,P1,glucose,95.5,,2024-01-15T09:30:00Z,SITE_A,0.98",  # missing unit
        ])
        drop_b = _drop(tmp_path / "b", "b.csv", [
            "S2,P1,glucose,99,,2024-01-15T09:30:00Z,SITE_B,0.98",  # missing unit
            "S2,P2,glucose,900,mg/dL,2024-01-15T09:31:00Z,SITE_B,0.98",  # out of range
        ])
        ckpt_a, ckpt_b = str(tmp_path / "ckpt_a"), str(tmp_path / "ckpt_b")
        run_ingest_stream(spark, warehouse, drop_a, ckpt_a)
        run_ingest_stream(spark, warehouse, drop_b, ckpt_b)
        jobs = sorted(
            (r.filename, r.status, r.id) for r in warehouse.read("etl_jobs").collect()
        )
        assert [j[:2] for j in jobs] == [("a.csv", "completed"), ("b.csv", "completed")]
        jid_a, jid_b = stream_job_id(ckpt_a, 0), stream_job_id(ckpt_b, 0)
        assert [j[2] for j in jobs] == [jid_a, jid_b]
        quality = sorted(
            (r.job_id, r.rule_name, r.affected_rows)
            for r in warehouse.read(QUALITY_TABLE).collect()
        )
        assert quality == sorted([
            (jid_a, "missing_unit_required", 1),
            (jid_b, "missing_unit_required", 1),
            (jid_b, "numeric_out_of_range", 1),
        ])
        assert warehouse.read(BRONZE_TABLE).count() == 3
        assert jid_a != jid_b and jid_a.startswith("stream-")
        assert stream_job_id(ckpt_a, 0) == jid_a  # stable for a retried batch


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark, tmp_path):
        """Stream-stream inner join with watermarks + event-time interval
        (purchases ⋈ clicks within the preceding hour, per user) produces
        exactly the batch range join under availableNow."""
        from clinical_api_etl_spark.operators.temporal import range_join_bucketed
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        ev = load(spark, sf, "events").select("user_id", "event_id", "ts", "event_type")
        purchases = ev.filter(ev.event_type == "purchase").drop("event_type")
        clicks = ev.filter(ev.event_type == "click").drop("event_type")
        pdir, cdir = str(tmp_path / "p"), str(tmp_path / "c")
        purchases.write.parquet(pdir)
        clicks.write.parquet(cdir)

        expected = sorted(
            (r["event_id"], r["event_id_r"])
            for r in range_join_bucketed(
                purchases, clicks, left_ts="ts", right_ts="ts",
                window_seconds=3600, on=["user_id"],
            ).collect()
        )

        sp = spark.readStream.schema(purchases.schema).parquet(pdir) \
            .withWatermark("ts", "2 hours") \
            .withColumnRenamed("event_id", "p_id").withColumnRenamed("ts", "p_ts")
        sc = spark.readStream.schema(clicks.schema).parquet(cdir) \
            .withWatermark("ts", "2 hours") \
            .withColumnRenamed("event_id", "c_id").withColumnRenamed("ts", "c_ts") \
            .withColumnRenamed("user_id", "c_user")
        joined = sp.join(
            sc,
            (sp.user_id == sc.c_user)
            & (sc.c_ts >= sp.p_ts - F.expr("INTERVAL 1 HOUR"))
            & (sc.c_ts < sp.p_ts),
        )
        out = []
        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ssckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted((r["p_id"], r["c_id"]) for r in out)
        assert got == expected


class TestStreamingScd2:
    def test_foreachbatch_scd2_builds_history(self, spark, tmp_path):
        """Streaming dimension updates land as SCD2 history: each
        micro-batch runs ParquetWarehouse.scd2_merge in foreachBatch, so
        the warehouse accumulates versioned rows with exactly one current
        version per key — the streaming-CDC-to-dimension pattern."""
        from datetime import datetime as dt

        from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

        pwh = ParquetWarehouse(spark, str(tmp_path / "wh"))
        src = tmp_path / "updates"
        src.mkdir()
        schema = "study_id string, status string, ts timestamp"
        spark.createDataFrame(
            [("s1", "recruiting", dt(2024, 1, 1)), ("s2", "active", dt(2024, 1, 2))],
            schema,
        ).write.parquet(str(src / "b1"))
        spark.createDataFrame(
            [("s1", "completed", dt(2024, 3, 1))], schema
        ).write.parquet(str(src / "b2"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: pwh.scd2_merge(
                    "dim_study", df, ["study_id"], ts_col="ts"
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        rows = {
            (r["study_id"], r["valid_from"]): (r["is_current"], r["valid_to"])
            for r in pwh.read("dim_study").collect()
        }
        cur = [k for k, v in rows.items() if v[0]]
        assert sorted(k[0] for k in cur) == ["s1", "s2"]
        # s1's first version closed at its replacement's valid_from
        closed = [v for k, v in rows.items() if k[0] == "s1" and not v[0]]
        assert len(closed) == 1 and closed[0][1] == dt(2024, 3, 1)


class TestStreamingFunnel:
    def test_stream_funnel_equals_batch(self, spark, tmp_path):
        """funnel_stream's per-user stage machine reproduces the batch
        funnel query's stage populations over an availableNow stream."""
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.streaming.windows import funnel_stream

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events").select(
            "user_id", "event_id", "ts", "event_type"
        )
        src_dir = str(tmp_path / "funnel_parquet")
        events.write.parquet(src_dir)

        # batch truth: earliest view; earliest click > it; earliest purchase
        v = (
            events.filter(F.col("event_type") == "view")
            .groupBy("user_id").agg(F.min("ts").alias("vt"))
        )
        c = (
            events.filter(F.col("event_type") == "click")
            .join(v, "user_id").filter(F.col("ts") > F.col("vt"))
            .groupBy("user_id").agg(F.min("ts").alias("ct"))
        )
        p = (
            events.filter(F.col("event_type") == "purchase")
            .join(c, "user_id").filter(F.col("ts") > F.col("ct"))
            .groupBy("user_id").agg(F.min("ts").alias("pt"))
        )
        expected: dict[int, int] = {}
        for r in v.collect():
            expected[r["user_id"]] = 1
        for r in c.collect():
            expected[r["user_id"]] = 2
        for r in p.collect():
            expected[r["user_id"]] = 3

        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        out_rows = []
        q = (
            funnel_stream(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "fckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r["user_id"]: r["stage"] for r in out_rows}
        for uid, stage in expected.items():
            assert got[uid] == stage, (uid, got[uid], stage)
        # users with events but no view at all must be stage 0
        for uid, stage in got.items():
            assert stage == expected.get(uid, 0)


class TestIncrementalRollupMV:
    def test_foreachbatch_upsert_maintains_rollup(self, spark, tmp_path):
        """Incremental materialized view: update-mode emits the NEW
        CUMULATIVE total for every (window, type) a micro-batch touched;
        replacing those keys in the warehouse (upsert) reproduces the
        batch roll-up exactly, and the replace-merge is idempotent under
        micro-batch retries."""
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.sources.sinks import ParquetWarehouse
        from clinical_api_etl_spark.streaming.windows import hourly_rollup

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events")
        src = tmp_path / "mv_src"
        src.mkdir()
        # two files -> two micro-batches (maxFilesPerTrigger=1)
        half = events.filter(F.col("event_id") % 2 == 0)
        rest = events.filter(F.col("event_id") % 2 == 1)
        half.write.parquet(str(src / "a"))
        rest.write.parquet(str(src / "b"))

        pwh = ParquetWarehouse(spark, str(tmp_path / "wh"))

        def merge(df, bid):
            # update mode delivers the new cumulative value per touched
            # key — last write wins, so the merge is a plain replace-upsert
            pwh.upsert("hourly_mv", df, ["window_start", "event_type"])

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            hourly_rollup(stream)
            .writeStream.outputMode("update")
            .foreachBatch(merge)
            .option("checkpointLocation", str(tmp_path / "mvckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        batch = {
            (r["window_start"], r["event_type"]): (r["cnt"], round(r["total_value"], 2))
            for r in hourly_rollup(events).collect()
        }
        got = {
            (r["window_start"], r["event_type"]): (r["cnt"], round(r["total_value"], 2))
            for r in pwh.read("hourly_mv").collect()
        }
        assert got == batch


def _protobuf_missing() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return False
    except ImportError:
        return True


class TestTransformWithState:
    @pytest.mark.skipif(
        _protobuf_missing(),
        reason="transformWithState's state-server protocol needs the "
        "protobuf package (absent from this container, installs forbidden)",
    )
    def test_tws_funnel_matches_applyinpandas_funnel(self, spark, tmp_path):
        """Spark 4 transformWithStateInPandas and the legacy GroupState
        implementation produce identical per-user funnel stages."""
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.streaming.windows import (
            funnel_stream,
            funnel_stream_tws,
        )

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events").select(
            "user_id", "event_id", "ts", "event_type"
        )
        src_dir = str(tmp_path / "tws_parquet")
        events.write.parquet(src_dir)

        prev_provider = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            results = {}
            for name, op in (("gs", funnel_stream), ("tws", funnel_stream_tws)):
                stream = spark.readStream.schema(events.schema).parquet(src_dir)
                out_rows = []
                q = (
                    op(stream)
                    .writeStream.outputMode("update")
                    .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
                    .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                results[name] = {r["user_id"]: r["stage"] for r in out_rows}
        finally:
            if prev_provider is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev_provider
                )
        assert results["gs"] == results["tws"]
        assert results["tws"], "empty funnel output"


class TestStreamStaticJoin:
    def test_stream_enriched_by_broadcast_dim_equals_batch(self, spark, tmp_path):
        """Stream-static enrichment: a file-source event stream joined to a
        small static dimension (broadcast — re-read per micro-batch, never
        shuffled) aggregates to exactly the batch result. The canonical
        100 TB shape for enriching a fact stream with slowly-changing dims."""
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events")
        src_dir = str(tmp_path / "events_parquet")
        events.write.parquet(src_dir)

        dim = spark.range(0, 10000).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("seg"), (F.col("id") % 7).cast("string")).alias("segment"),
        )
        cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")

        def enrich(ev):
            return (
                ev.join(F.broadcast(dim), "user_id")
                .groupBy("segment")
                .agg(
                    F.count("*").alias("cnt"),
                    F.sum(cents).alias("total_cents"),
                )
            )

        batch = {
            r["segment"]: (r["cnt"], r["total_cents"])
            for r in enrich(events).collect()
        }

        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        out_rows = []
        q = (
            enrich(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r["segment"]: (r["cnt"], r["total_cents"]) for r in out_rows}
        assert got == batch
        assert len(got) == 7


class TestBoundedMicroBatches:
    def test_max_files_per_trigger_preserves_results(self, spark, tmp_path):
        """Backpressure: maxFilesPerTrigger=1 splits an N-file backlog into
        N micro-batches (bounded memory per trigger — the knob that keeps a
        100 TB backlog from landing in one giant batch) and the final
        aggregate is unchanged from the single-batch run."""
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events")
        src_dir = str(tmp_path / "ev")
        events.repartition(4).write.parquet(src_dir)

        agg = lambda df: df.groupBy("event_type").agg(F.count("*").alias("cnt"))
        batch = {r["event_type"]: r["cnt"] for r in agg(events).collect()}

        batches = []
        q = (
            agg(
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            .writeStream.outputMode("complete")
            .foreachBatch(lambda df, bid: batches.append(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(batches) == 4  # one per file
        final = {r["event_type"]: r["cnt"] for r in batches[-1]}
        assert final == batch


class TestRocksDBStateStore:
    def test_stateful_agg_under_rocksdb_provider(self, spark, tmp_path):
        """The RocksDB state-store provider (the production backend when
        state outgrows executor heap — spill-to-disk, incremental
        checkpoints) produces the same windowed aggregate as the default
        HDFS-backed provider. Provider is a per-query option via the
        checkpoint's sql conf, so the swap is config-only at any scale."""
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events").select("user_id", "ts", "event_type")
        src_dir = str(tmp_path / "ev")
        events.write.parquet(src_dir)

        def rollup(df):
            return df.groupBy(
                F.window("ts", "1 day"), "event_type"
            ).agg(F.count(F.lit(1)).alias("cnt"))

        expected = {
            (r["window"]["start"], r["event_type"]): r["cnt"]
            for r in rollup(events).collect()
        }

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            out_rows = []
            q = (
                rollup(
                    spark.readStream.schema(events.schema)
                    .parquet(src_dir)
                    .withWatermark("ts", "1 hour")
                )
                .writeStream.outputMode("complete")
                .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
                .option("checkpointLocation", str(tmp_path / "rdb_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        got = {
            (r["window"]["start"], r["event_type"]): r["cnt"] for r in out_rows
        }
        assert got == expected


class TestChainedStatefulOps:
    def test_stream_dedup_then_windowed_agg(self, spark, tmp_path):
        """TWO stateful operators chained in ONE streaming query
        (dropDuplicatesWithinWatermark -> event-time windowed count):
        Spark 3.4+ multi-stateful-operator support. Duplicate event_ids
        delivered twice across micro-batches are counted once."""
        from datetime import datetime

        t = lambda s: datetime.fromisoformat(s)  # noqa: E731
        src = tmp_path / "chain_src"
        src.mkdir()
        ckpt = str(tmp_path / "chain_ckpt")
        schema = "event_id long, ts timestamp, event_type string"

        def write(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))

        write([
            (1, t("2024-01-01T10:05:00"), "click"),
            (2, t("2024-01-01T10:10:00"), "click"),
            (1, t("2024-01-01T10:05:00"), "click"),  # same-batch dup
        ])
        write([
            (2, t("2024-01-01T10:10:00"), "click"),  # cross-batch dup
            (3, t("2024-01-01T10:20:00"), "click"),
            (4, t("2024-01-01T14:00:00"), "click"),  # advances watermark
        ])

        out: list = []
        stream = spark.readStream.schema(schema).parquet(str(src))
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        agg = deduped.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        finalized = {
            (r["w"].start.isoformat(), r["n"]) for r in out
        }
        # the 10:00 window closed (watermark 13:00) with exactly 3 distinct events
        assert ("2024-01-01T10:00:00", 3) in finalized


class TestStreamStreamOuterJoin:
    def test_left_outer_emits_unmatched_after_watermark(self, spark, tmp_path):
        """Watermarked stream-stream LEFT OUTER interval join: matched pairs
        emit immediately; an unmatched left row is held in state and emitted
        with NULL right columns only once the watermark passes its join
        window (here: in the second availableNow run, after later data
        advances the watermark)."""
        from datetime import datetime

        t = lambda s: datetime.fromisoformat(s)  # noqa: E731
        pdir, cdir = tmp_path / "po", tmp_path / "co"
        pdir.mkdir(); cdir.mkdir()
        ckpt = str(tmp_path / "so_ckpt")
        pschema = "p_id long, user_id long, p_ts timestamp"
        cschema = "c_id long, c_user long, c_ts timestamp"

        def wp(rows):
            spark.createDataFrame(rows, pschema).coalesce(1).write.mode("append").parquet(str(pdir))

        def wc(rows):
            spark.createDataFrame(rows, cschema).coalesce(1).write.mode("append").parquet(str(cdir))

        # run 1: p1 matched by c1; p2 unmatched
        wp([(1, 7, t("2024-01-01T10:00:00")), (2, 8, t("2024-01-01T10:10:00"))])
        wc([(100, 7, t("2024-01-01T09:30:00"))])

        def run():
            sp = (
                spark.readStream.schema(pschema).parquet(str(pdir))
                .withWatermark("p_ts", "1 hour")
            )
            sc = (
                spark.readStream.schema(cschema).parquet(str(cdir))
                .withWatermark("c_ts", "1 hour")
            )
            joined = sp.join(
                sc,
                (sp.user_id == sc.c_user)
                & (sc.c_ts >= sp.p_ts - F.expr("INTERVAL 1 HOUR"))
                & (sc.c_ts < sp.p_ts),
                "leftOuter",
            )
            out: list = []
            q = (
                joined.writeStream.outputMode("append")
                .foreachBatch(lambda df, bid: out.extend(df.collect()))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return out

        got1 = {(r["p_id"], r["c_id"]) for r in run()}
        assert (1, 100) in got1
        assert all(p != 2 for p, _ in got1), "unmatched row must be held, not dropped"

        # run 2: push both watermarks past p2's window -> p2 emits with NULL
        wp([(3, 9, t("2024-01-01T14:00:00"))])
        wc([(101, 9, t("2024-01-01T13:30:00"))])
        got2 = {(r["p_id"], r["c_id"]) for r in run()}
        assert (2, None) in got2


class TestStreamStreamFullOuterJoin:
    def test_full_outer_emits_both_sides_after_watermark(self, spark, tmp_path):
        """FULL OUTER stream-stream interval join: matches emit immediately;
        an unmatched row on EITHER side is held in state and emitted with
        NULLs for the other side once the watermark passes its window."""
        from datetime import datetime

        t = lambda s: datetime.fromisoformat(s)  # noqa: E731
        pdir, cdir = tmp_path / "po", tmp_path / "co"
        pdir.mkdir(); cdir.mkdir()
        ckpt = str(tmp_path / "fo_ckpt")
        pschema = "p_id long, user_id long, p_ts timestamp"
        cschema = "c_id long, c_user long, c_ts timestamp"

        def wp(rows):
            spark.createDataFrame(rows, pschema).coalesce(1).write.mode("append").parquet(str(pdir))

        def wc(rows):
            spark.createDataFrame(rows, cschema).coalesce(1).write.mode("append").parquet(str(cdir))

        # run 1: p1<-c100 matched; p2 unmatched left; c102 unmatched right.
        wp([(1, 7, t("2024-01-01T10:00:00")), (2, 8, t("2024-01-01T10:10:00"))])
        wc([(100, 7, t("2024-01-01T09:30:00")), (102, 5, t("2024-01-01T09:40:00"))])

        def run():
            sp = (
                spark.readStream.schema(pschema).parquet(str(pdir))
                .withWatermark("p_ts", "1 hour")
            )
            sc = (
                spark.readStream.schema(cschema).parquet(str(cdir))
                .withWatermark("c_ts", "1 hour")
            )
            joined = sp.join(
                sc,
                (sp.user_id == sc.c_user)
                & (sc.c_ts >= sp.p_ts - F.expr("INTERVAL 1 HOUR"))
                & (sc.c_ts < sp.p_ts),
                "fullOuter",
            )
            out: list = []
            q = (
                joined.writeStream.outputMode("append")
                .foreachBatch(lambda df, bid: out.extend(df.collect()))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return out

        got1 = {(r["p_id"], r["c_id"]) for r in run()}
        assert (1, 100) in got1
        assert all(p != 2 for p, _ in got1)
        assert all(c != 102 for _, c in got1)

        # run 2: advance BOTH watermarks past the held rows' windows.
        wp([(3, 9, t("2024-01-01T14:00:00"))])
        wc([(101, 9, t("2024-01-01T13:30:00"))])
        got2 = {(r["p_id"], r["c_id"]) for r in run()}
        assert (2, None) in got2, "unmatched LEFT row emits with NULL right"
        assert (None, 102) in got2, "unmatched RIGHT row emits with NULL left"


class TestStreamingABMonitor:
    def test_streamed_welch_stats_equal_batch(self, spark, tmp_path):
        """The inference family's sufficient statistics (n, sum x, sum x^2
        per group) are a plain map-side-combinable aggregate, so they
        stream as an update-mode query: after N micro-batches the
        streamed statistics — and the Welch t derived from them — equal
        the batch computation exactly. An A/B significance monitor is an
        incremental MV over three integers per arm."""
        import math

        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        ev = load(spark, sf, "events").filter(F.col("value").isNotNull())
        cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        src = tmp_path / "ab_src"
        src.mkdir()
        # three micro-batches split by event_id range
        base = ev.select("event_id", "event_type", cents.alias("x"))
        for i, cond in enumerate(
            [F.col("event_id") % 3 == k for k in range(3)]
        ):
            base.filter(cond).coalesce(1).write.mode("overwrite").parquet(
                str(src / f"b{i}")
            )

        stream = spark.readStream.schema(
            "event_id long, event_type string, x long"
        ).parquet(str(src / "*"))
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        state: dict = {}

        def sink(df, bid):
            for r in df.collect():
                state[r["event_type"]] = (r["n"], r["sx"], r["sxx"])

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ab_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        batch = {
            r["event_type"]: (r["n"], r["sx"], r["sxx"])
            for r in base.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("x").cast("long").alias("sx"),
                F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            )
            .collect()
        }
        assert state == batch

        # Deriving the test statistic from streamed state matches the
        # registry query's replay formula for one pair.
        (na, sxa, sxxa), (nb, sxb, sxxb) = state["click"], state["view"]
        ssq_a = na * sxxa - sxa * sxa
        ssq_b = nb * sxxb - sxb * sxb
        t = (sxa / na - sxb / nb) / math.sqrt(
            ssq_a / (na * na * (na - 1)) + ssq_b / (nb * nb * (nb - 1))
        )
        assert math.isfinite(t)


class TestStreamingKSDriftMonitor:
    def test_streamed_histogram_yields_batch_ks(self, spark, tmp_path):
        """Rank statistics are maintainable incrementally: the (group,
        value) histogram is a plain streaming aggregate, and the KS
        statistic derived from the final streamed state equals the batch
        query's — a distribution-drift monitor is an incremental MV over
        the value histogram."""
        from clinical_api_etl_spark.plans.inference import stat_ks_pairs
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        ev = load(spark, sf, "events").filter(F.col("value").isNotNull())
        cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        base = ev.select("event_id", F.col("event_type").alias("g"), cents.alias("x"))
        src = tmp_path / "ks_src"
        src.mkdir()
        for k in range(3):
            base.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / f"b{k}"))

        stream = spark.readStream.schema("event_id long, g string, x long").parquet(
            str(src / "*")
        )
        hist = stream.groupBy("g", "x").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        state: dict = {}

        def sink(df, bid):
            for r in df.collect():
                state[(r["g"], r["x"])] = r["c"]

        q = (
            hist.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ks_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # Derive D for one pair from the streamed histogram state.
        def ks_from_state(ga, gb):
            xa = {x: c for (g, x), c in state.items() if g == ga}
            xb = {x: c for (g, x), c in state.items() if g == gb}
            na, nb = sum(xa.values()), sum(xb.values())
            ca = cb = d = 0
            for v in sorted(set(xa) | set(xb)):
                ca += xa.get(v, 0)
                cb += xb.get(v, 0)
                d = max(d, abs(ca * nb - cb * na))
            return na, nb, d

        batch = {
            (r.ga, r.gb): (r.n_a, r.n_b, r.d_num)
            for r in stat_ks_pairs(spark, sf).collect()
        }
        for (ga, gb), want in batch.items():
            assert ks_from_state(ga, gb) == want


class TestStreamingCountMin:
    def test_streamed_sketch_equals_batch(self, spark, tmp_path):
        """The count-min sketch is a plain groupBy over (depth, slot), so it
        streams as an update-mode aggregate: the final per-cell counts after
        N micro-batches equal the batch sketch — sketches ARE the
        incremental-MV form of frequency state."""
        from clinical_api_etl_spark.plans.mining import _CM_D, _CM_W

        src = tmp_path / "cm_src"
        src.mkdir()

        def slots(df):
            cols = []
            for d in range(_CM_D):
                h = F.md5(F.concat(F.lit(f"cm{d}:"), F.col("user_id").cast("string")))
                cols.append(
                    F.struct(
                        F.lit(d).alias("d"),
                        (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % _CM_W).alias("slot"),
                    )
                )
            return df.select(F.explode(F.array(*cols)).alias("e")).select("e.d", "e.slot")

        rows1 = [(i % 13,) for i in range(200)]
        rows2 = [(i % 7,) for i in range(150)]
        spark.createDataFrame(rows1, "user_id long").coalesce(1).write.mode("append").parquet(str(src))
        spark.createDataFrame(rows2, "user_id long").coalesce(1).write.mode("append").parquet(str(src))

        batch_sketch = {
            (r.d, r.slot): r.c
            for r in slots(spark.read.parquet(str(src)))
            .groupBy("d", "slot").agg(F.count("*").alias("c")).collect()
        }

        state: dict = {}

        def upsert(df, bid):
            for r in df.collect():
                state[(r.d, r.slot)] = r.c

        stream = spark.readStream.schema("user_id long").option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src))
        q = (
            slots(stream)
            .groupBy("d", "slot")
            .agg(F.count("*").alias("c"))
            .writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", str(tmp_path / "cm_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert state == batch_sketch


class TestStreamingScd2AsOfEnrichment:
    def test_stream_facts_join_dimension_as_of_event_time(self, spark, tmp_path):
        """Streaming facts enriched against an SCD2 dimension AS OF each
        fact's event time (foreachBatch + range predicate over the version
        intervals): a fact timestamped before a dimension change picks up
        the OLD attribute version, one after picks up the NEW — and the
        streamed result equals the batch temporal join."""
        from datetime import datetime

        from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

        t = lambda s: datetime.fromisoformat(s)  # noqa: E731
        wh = ParquetWarehouse(spark, str(tmp_path / "wh"))

        # dimension: tier changes for user 7 at noon
        v1 = spark.createDataFrame(
            [(7, "bronze", t("2024-01-01T00:00:00"))], "user_id long, tier string, ts timestamp"
        )
        v2 = spark.createDataFrame(
            [(7, "gold", t("2024-01-01T12:00:00"))], "user_id long, tier string, ts timestamp"
        )
        wh.scd2_merge("dim_users", v1, ["user_id"], ts_col="ts")
        wh.scd2_merge("dim_users", v2, ["user_id"], ts_col="ts")
        dim = wh.read("dim_users")

        src = tmp_path / "facts"
        src.mkdir()
        fschema = "fact_id long, user_id long, ts timestamp"
        facts = [
            (1, 7, t("2024-01-01T08:00:00")),  # before the change -> bronze
            (2, 7, t("2024-01-01T15:00:00")),  # after -> gold
        ]
        spark.createDataFrame(facts, fschema).coalesce(1).write.parquet(str(src), mode="append")

        def enrich(f, d):
            cond = (
                (f["user_id"] == d["user_id"])
                & (d["valid_from"] <= f["ts"])
                & (f["ts"] < F.coalesce(d["valid_to"], F.lit(t("9999-01-01T00:00:00"))))
            )
            return f.join(F.broadcast(d), cond).select(
                f["fact_id"], f["ts"], d["tier"]
            )

        batch_expect = {
            (r.fact_id, r.tier)
            for r in enrich(spark.createDataFrame(facts, fschema), dim).collect()
        }
        assert batch_expect == {(1, "bronze"), (2, "gold")}

        out: list = []
        q = (
            spark.readStream.schema(fschema)
            .parquet(str(src))
            .writeStream.foreachBatch(
                lambda df, bid: out.extend(enrich(df, wh.read("dim_users")).collect())
            )
            .option("checkpointLocation", str(tmp_path / "scd2e_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert {(r.fact_id, r.tier) for r in out} == batch_expect


class TestStreamingDeadLetterQueue:
    def test_corrupt_rows_quarantined_good_rows_proceed(self, spark, tmp_path):
        """Streaming DLQ: a text-file stream parsed with a permissive JSON
        schema routes unparseable lines to a quarantine sink (raw bytes
        preserved for replay) while parsed rows continue — the
        badRecordsPath pattern built from from_json +
        columnNameOfCorruptRecord inside one foreachBatch."""
        import json

        src = tmp_path / "src"
        src.mkdir()
        lines = [
            json.dumps({"id": 1, "v": 10.0}),
            "{not json at all",
            json.dumps({"id": 2, "v": 20.0}),
            '{"id": "three", "v": []}',   # schema-violating
            json.dumps({"id": 4, "v": 40.0}),
        ]
        (src / "batch1.txt").write_text("\n".join(lines) + "\n")

        good_dir = tmp_path / "good"
        dlq_dir = tmp_path / "dlq"

        schema = "id long, v double, _corrupt string"

        def sink(df, bid):
            parsed = df.select(
                F.col("value").alias("raw"),
                F.from_json(
                    "value",
                    schema,
                    {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
                ).alias("j"),
            )
            good = parsed.filter(
                F.col("j._corrupt").isNull() & F.col("j.id").isNotNull()
            ).select("j.id", "j.v")
            bad = parsed.filter(
                F.col("j._corrupt").isNotNull() | F.col("j.id").isNull()
            ).select("raw")
            good.write.mode("append").parquet(str(good_dir))
            bad.write.mode("append").parquet(str(dlq_dir))

        q = (
            spark.readStream.format("text")
            .load(str(src))
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)

        good = spark.read.parquet(str(good_dir))
        assert sorted((r.id, r.v) for r in good.collect()) == [
            (1, 10.0), (2, 20.0), (4, 40.0),
        ]
        dlq = {r.raw for r in spark.read.parquet(str(dlq_dir)).collect()}
        assert dlq == {"{not json at all", '{"id": "three", "v": []}'}

        # late fix: the DLQ rows are replayable — reparse the quarantined
        # raw lines after a schema/upstream repair
        fixed = spark.read.parquet(str(dlq_dir)).select(
            F.from_json("raw", schema).alias("j")
        )
        assert fixed.count() == 2


class TestStreamingPercentileMonitor:
    def test_streamed_histogram_yields_batch_bands(self, spark, tmp_path):
        """Exact percentile bands are maintainable incrementally: the
        (type, value) histogram is a plain update-mode streaming
        aggregate, and the type-1 quantiles derived from the final
        streamed state equal stat_percentile_bands_by_type — an SLO-band
        monitor is an incremental MV over the value histogram (the same
        argument as the KS drift monitor, applied to rank selection)."""
        import math

        from clinical_api_etl_spark.plans.ranking import (
            stat_percentile_bands_by_type,
        )
        from clinical_api_etl_spark.sources.catalog import load

        sf = "/root/testdata/sf0.001"
        ev = load(spark, sf, "events").filter(F.col("value").isNotNull())
        cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        base = ev.select(
            "event_id", F.col("event_type").alias("g"), cents.alias("x")
        )
        src = tmp_path / "pb_src"
        src.mkdir()
        for k in range(3):
            base.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / f"b{k}"))

        stream = spark.readStream.schema(
            "event_id long, g string, x long"
        ).parquet(str(src / "*"))
        hist = stream.groupBy("g", "x").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        state: dict = {}

        def sink(df, bid):
            for r in df.collect():
                state[(r["g"], r["x"])] = r["c"]

        q = (
            hist.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "pb_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        def bands_from_state(g):
            xs = sorted(
                (x, c) for (gg, x), c in state.items() if gg == g
            )
            n = sum(c for _, c in xs)

            def pick(rank):
                cum = 0
                for x, c in xs:
                    cum += c
                    if cum >= rank:
                        return x
                return xs[-1][0]

            return (
                n,
                pick(math.ceil(0.5 * n)),
                pick(math.ceil(0.9 * n)),
                pick(math.ceil(0.95 * n)),
                xs[-1][0],
            )

        batch = {
            r.event_type: (r.n, r.p50_cents, r.p90_cents, r.p95_cents,
                           r.max_cents)
            for r in stat_percentile_bands_by_type(spark, sf).collect()
        }
        for g, want in batch.items():
            assert bands_from_state(g) == want


class TestStreamingRateLimit:
    def test_stream_equals_batch_across_batches(self, spark, tmp_path):
        """rate_limit_stream reproduces ops_rate_limit_simulation exactly
        (integer for integer) when each user's events arrive in event-time
        order across micro-batches — proven with a two-drop time split so
        state must carry between batches."""
        from clinical_api_etl_spark.plans.analytics import ops_rate_limit_simulation
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.streaming.windows import rate_limit_stream

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events").select("user_id", "event_id", "ts")
        cut = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]

        src = str(tmp_path / "rl_src")
        events.filter(F.expr(f"unix_micros(ts) <= {cut}")).coalesce(1).write.parquet(
            src
        )
        out_rows: list = []

        def run():
            stream = spark.readStream.schema(events.schema).parquet(src)
            q = (
                rate_limit_stream(stream)
                .writeStream.outputMode("update")
                .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
                .option("checkpointLocation", str(tmp_path / "rl_ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()  # first half
        events.filter(F.expr(f"unix_micros(ts) > {cut}")).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()  # second half — state must carry

        got: dict = {}
        for r in out_rows:  # last update per user wins
            got[r["user_id"]] = (
                r["n_events"], r["admitted"], r["rejected"], r["tokens_left_micro"]
            )
        batch = {
            r["user_id"]: (
                r["n_events"], r["admitted"], r["rejected"], r["tokens_left_micro"]
            )
            for r in ops_rate_limit_simulation(spark, sf).collect()
        }
        assert got == batch


class TestStreamingCdcApply:
    def test_foreachbatch_cdc_merge_equals_batch_snapshot(self, spark, tmp_path):
        """APPLY CHANGES INTO, streaming twin of cdc_last_writer_wins:
        each micro-batch upserts its per-user winner against the stored
        winner by (ts, event_id) — so even with the change log split
        ACROSS batches out of order, the maintained snapshot converges
        to exactly the batch query's answer (tombstone flag included);
        n_changes accumulates additively."""
        from pyspark.sql.window import Window as W

        from clinical_api_etl_spark.plans.modeling import cdc_last_writer_wins
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

        sf = "/root/testdata/sf0.001"
        events = load(spark, sf, "events")
        src = tmp_path / "cdc_src"
        src.mkdir()
        # split on event_id parity: per-user changes interleave across the
        # two micro-batches in non-timestamp order
        events.filter(F.col("event_id") % 2 == 0).write.parquet(str(src / "a"))
        events.filter(F.col("event_id") % 2 == 1).write.parquet(str(src / "b"))

        pwh = ParquetWarehouse(spark, str(tmp_path / "wh"))

        def cdc_cols(df):
            return df.selectExpr(
                "user_id",
                "unix_millis(ts) AS last_ts_ms",
                "event_type AS last_type",
                "COALESCE(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), -1)"
                " AS last_cents",
                "event_id AS last_event_id",
            )

        def merge(df, bid):
            w = W.partitionBy("user_id").orderBy(
                F.desc("last_ts_ms"), F.desc("last_event_id")
            )
            cand = (
                cdc_cols(df)
                .withColumn("rk", F.row_number().over(w))
                .withColumn(
                    "n_changes",
                    F.count(F.lit(1)).over(W.partitionBy("user_id")).cast("long"),
                )
                .filter(F.col("rk") == 1)
                .drop("rk")
            )
            try:
                cur = pwh.read("cdc_mv").join(
                    cand.select("user_id"), "user_id", "semi"
                )
            except Exception:
                cur = None
            merged = cand if cur is None else cand.unionByName(cur)
            w2 = W.partitionBy("user_id").orderBy(
                F.desc("last_ts_ms"), F.desc("last_event_id")
            )
            winner = (
                merged.withColumn("rk", F.row_number().over(w2))
                .withColumn(
                    "n_total",
                    F.sum("n_changes").over(W.partitionBy("user_id")).cast("long"),
                )
                .filter(F.col("rk") == 1)
                .select(
                    "user_id",
                    "last_ts_ms",
                    "last_type",
                    "last_cents",
                    "last_event_id",
                    F.col("n_total").alias("n_changes"),
                )
            )
            pwh.upsert("cdc_mv", winner, ["user_id"])

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(merge)
            .option("checkpointLocation", str(tmp_path / "cdcckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        batch = {
            r["user_id"]: (
                r["last_ts_ms"],
                r["last_type"],
                r["last_cents"],
                r["n_changes"],
                r["is_tombstone"],
            )
            for r in cdc_last_writer_wins(spark, sf).collect()
        }
        got = {
            r["user_id"]: (
                r["last_ts_ms"],
                r["last_type"],
                r["last_cents"],
                r["n_changes"],
                r["last_type"] == "error",
            )
            for r in pwh.read("cdc_mv").collect()
        }
        assert got == batch


class TestStreamJobGroup:
    def test_every_batch_job_runs_in_the_run_id_group(self, spark, warehouse, tmp_path, spark_jobs):
        """A batch's concurrent writes carry the stream's job group, so the
        query's ``runId`` counts every Spark job the stream starts."""
        drop = _drop(tmp_path, "g1.csv", [
            "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
            "S1,P1,blood_pressure,120/80,mmHg,2024-01-15T09:31:00Z,SITE_A,0.97",
        ])
        q, started = spark_jobs.started(
            lambda: run_ingest_stream(spark, warehouse, drop, str(tmp_path / "gckpt"))
        )
        assert warehouse.read(GOLD_TABLE).count() == 3  # glucose, BP systolic and diastolic
        assert started and started <= spark_jobs.of_group(str(q.runId))
