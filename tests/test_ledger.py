"""Job ledger tests (S9-S11): the sqlite3 store behind ``JobLedger``.

Covers the status lifecycle with terminal-only ``completed_at`` stamping
(db.py:35), ``mark`` on an unknown id, the warehouse's ``etl_jobs``
read/upsert surface, polls racing a writer, and status polls that run no
Spark job.
"""

from __future__ import annotations

import sys
import threading
import uuid
from datetime import datetime, timedelta

import pytest

from clinical_api_etl_spark.api import ClinicalAPI
from clinical_api_etl_spark.jobs.ledger import _SCHEMA, JobLedger


@pytest.mark.parametrize("terminal", ["completed", "failed"])
def test_lifecycle_stamps_completed_at_only_on_terminal_mark(warehouse, terminal):
    ledger = JobLedger(warehouse)
    jid = ledger.submit("a.csv")
    row = ledger.fetch(jid)
    assert list(row.asDict()) == [f.name for f in _SCHEMA.fields]
    assert (row.filename, row.status, row.progress) == ("a.csv", "pending", 0)
    assert row.created_at is not None and row.completed_at is None

    ledger.mark(jid, "running", "reading csv", progress=10)
    row = ledger.fetch(jid)
    assert (row.status, row.message, row.progress) == ("running", "reading csv", 10)
    assert row.completed_at is None

    ledger.mark(jid, "running", "staging rows")  # progress omitted: kept
    assert ledger.fetch(jid).progress == 10

    ledger.mark(jid, terminal, "done", progress=100)
    row = ledger.fetch(jid)
    assert (row.status, row.message, row.progress) == (terminal, "done", 100)
    assert row.completed_at is not None
    assert row.created_at <= row.updated_at == row.completed_at


def test_mark_unknown_id_raises(warehouse):
    ledger = JobLedger(warehouse)
    with pytest.raises(KeyError):
        ledger.mark("missing", "running")
    ledger.submit("a.csv", job_id="known")
    with pytest.raises(KeyError):
        ledger.mark("missing", "running")
    assert ledger.fetch("missing") is None
    assert ledger.fetch("known").status == "pending"


def test_warehouse_round_trip_keeps_schema_and_last_write_wins(spark, warehouse):
    at = datetime(2025, 1, 1, 12, 30, 15, 123456)
    later = at + timedelta(hours=1)
    warehouse.upsert(
        "etl_jobs",
        spark.createDataFrame(
            [
                ("a", "a.csv", "completed", "completed", 100, at, at, at),
                ("b", "b.csv", "failed", "bad row", 100, at, at, at),
            ],
            _SCHEMA,
        ),
        ["id"],
    )
    warehouse.upsert(
        "etl_jobs",
        spark.createDataFrame([("a", "a2.csv", "running", None, 50, later, later, None)], _SCHEMA),
        ["id"],
    )
    jobs = warehouse.read("etl_jobs")
    assert jobs.schema == _SCHEMA
    got = {r.id: tuple(r) for r in jobs.collect()}
    assert got == {
        "a": ("a", "a2.csv", "running", None, 50, later, later, None),
        "b": ("b", "b.csv", "failed", "bad row", 100, at, at, at),
    }
    assert JobLedger(warehouse).fetch("b").completed_at == at


def test_empty_ledger_reads_as_absent_table(warehouse):
    assert warehouse.read("etl_jobs") is None


def test_polls_during_marks_never_miss_or_regress(warehouse):
    """One writer makes 200 marks with rising progress while 8 pollers
    fetch the same job: every poll sees the row, and no poller ever sees
    progress go down."""
    ledger = JobLedger(warehouse)
    jid = ledger.submit("stress.csv")
    done = threading.Event()
    errors: list[Exception] = []
    polls: list[list[int | None]] = [[] for _ in range(8)]

    def writer() -> None:
        try:
            for p in range(1, 201):
                ledger.mark(jid, "running", f"step {p}", progress=p)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)
        finally:
            done.set()

    def poller(out: list[int | None]) -> None:
        try:
            while True:
                # Read the flag before the fetch: the last poll then starts
                # after the writer's last mark and must see 200.
                finished = done.is_set()
                row = JobLedger(warehouse).fetch(jid)
                out.append(None if row is None else row.progress)
                if finished:
                    return
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=poller, args=(out,)) for out in polls]
    threads.append(threading.Thread(target=writer))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive(), "ledger stress thread did not finish"
    finally:
        done.set()
        sys.setswitchinterval(old)
    assert not errors, errors
    for out in polls:
        assert out and None not in out
        assert out == sorted(out), "progress went down"
    assert polls[0][-1] == 200
    assert ledger.fetch(jid).progress == 200


def test_status_poll_runs_no_spark_job(spark, warehouse, tmp_path):
    api = ClinicalAPI(spark, warehouse, str(tmp_path))
    jid = api.ledger.submit("study.csv", job_id=str(uuid.uuid4()))
    api.ledger.mark(jid, "running", "reading csv", progress=10)
    sc = spark.sparkContext
    group = f"status-polls-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "status polls")
    try:
        for _ in range(5):
            assert api.get_job_status(jid)["data"]["progress"] == 10
        assert api.get_job(jid)["data"]["status"] == "running"
        polled = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).count()  # the group does count this thread's jobs
        counted = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert polled == []
    assert counted
