"""Job ledger (SURVEY §2 S9-S11) — single source of truth.

The reference keeps job state in two stores that can disagree (in-memory
dict ``state.py:5`` vs Postgres ``db.py:31-39``; the HTTP endpoint prefers
memory, ``main.py:76-82``) and its DB read-back is dead code
(``db.py:24-29`` lacks a ``return`` — §2.9.1). This engine implements the
*corrected* semantics the SURVEY declares: one ledger, reads return rows,
``completed_at`` stamped only on terminal transitions
(``CASE WHEN status IN ('completed','failed') THEN NOW()`` — db.py:35, F10).

Job state is control-plane state, not data, so it stays off Spark: the
ledger is one stdlib ``sqlite3`` database at a fixed path in the warehouse
root (:data:`STORE_FILE`), in WAL mode so a status poll never waits on a
running job's mark. Every call opens one short connection and runs one
statement: ``submit`` an ``INSERT OR REPLACE``, ``mark`` a single-row
``UPDATE``, ``fetch`` a primary-key ``SELECT`` — the reference's Postgres
statements, and no Spark job. The warehouse still answers
``read``/``upsert`` of ``etl_jobs`` through :meth:`JobLedger.all_jobs` and
:meth:`JobLedger.put`, so views and bulk loaders see the same table; this
module is the only one that knows the storage format.

Progress follows the reference's checkpoints (etl.py:236-263), for stream
batches too: ``run_pipeline`` marks 30 before the bronze append and 45
before its concurrent writes, then rises to 90 as each write ends, and only
its calling thread marks, so progress never falls; nothing reads
``lastProgress``.
"""

from __future__ import annotations

import sqlite3
import uuid
from contextlib import closing, contextmanager
from datetime import datetime
from typing import TYPE_CHECKING, Iterable

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

if TYPE_CHECKING:
    from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

JOBS_TABLE = "etl_jobs"
#: The ledger's database, relative to the warehouse root.
STORE_FILE = "etl_jobs.sqlite"

TERMINAL = ("completed", "failed")

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("filename", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("progress", T.IntegerType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)
_COLUMNS = tuple(f.name for f in _SCHEMA.fields)
#: Timestamps are stored as ISO-8601 text of the naive local datetimes
#: PySpark collects, so a row read back into Spark is the row written.
_TIMESTAMPS = frozenset(("created_at", "updated_at", "completed_at"))

_DDL = f"""CREATE TABLE IF NOT EXISTS {JOBS_TABLE} (
    id TEXT PRIMARY KEY, filename TEXT, status TEXT NOT NULL, message TEXT,
    progress INTEGER, created_at TEXT, updated_at TEXT, completed_at TEXT)"""
_SELECT = f"SELECT {', '.join(_COLUMNS)} FROM {JOBS_TABLE}"
_INSERT = (
    f"INSERT OR REPLACE INTO {JOBS_TABLE} ({', '.join(_COLUMNS)}) "
    f"VALUES ({', '.join('?' * len(_COLUMNS))})"
)
_MARK = f"""UPDATE {JOBS_TABLE} SET
    status = :status, message = :message,
    progress = COALESCE(:progress, progress), updated_at = :now,
    completed_at = CASE WHEN :terminal THEN :now ELSE completed_at END
    WHERE id = :id"""


def _now() -> str:
    return datetime.now().isoformat()


def _encode(col: str, v):
    return v.isoformat() if col in _TIMESTAMPS and v is not None else v


def _row(rec: tuple) -> Row:
    return Row(
        **{
            c: datetime.fromisoformat(v) if c in _TIMESTAMPS and v is not None else v
            for c, v in zip(_COLUMNS, rec)
        }
    )


class JobLedger:
    def __init__(self, warehouse: ParquetWarehouse) -> None:
        self.wh = warehouse
        self.path = str(warehouse.root / STORE_FILE)

    @contextmanager
    def _store(self):
        """One short autocommit connection: each statement is its own
        transaction, and the busy timeout rides out a concurrent writer."""
        with closing(sqlite3.connect(self.path, timeout=30, isolation_level=None)) as con:
            con.execute("PRAGMA journal_mode=WAL")
            con.execute(_DDL)
            yield con

    def submit(self, filename: str, job_id: str | None = None) -> str:
        """S9: create the job row in ``pending`` (etl.service.ts:28-43)."""
        jid = job_id or str(uuid.uuid4())
        now = _now()
        with self._store() as con:
            con.execute(_INSERT, (jid, filename, "pending", None, 0, now, now, None))
        return jid

    def mark(self, job_id: str, status: str, message: str | None = None, progress: int | None = None) -> None:
        """S10: status update with conditional completed_at stamping."""
        args = {
            "id": job_id, "status": status, "message": message, "progress": progress,
            "now": _now(), "terminal": status in TERMINAL,
        }
        with self._store() as con:
            if con.execute(_MARK, args).rowcount == 0:
                raise KeyError(f"unknown job {job_id}; submit first")

    def fetch(self, job_id: str) -> Row | None:
        """S11 corrected: actually returns the row (§2.9.1)."""
        with self._store() as con:
            rec = con.execute(f"{_SELECT} WHERE id = ?", (job_id,)).fetchone()
        return None if rec is None else _row(rec)

    def put(self, rows: Iterable[Row]) -> None:
        """Bulk last-write-wins upsert by id (``wh.upsert('etl_jobs', …)``);
        columns a row lacks are stored as NULL."""
        recs = [tuple(_encode(c, r.asDict().get(c)) for c in _COLUMNS) for r in rows]
        with self._store() as con:
            con.execute("BEGIN IMMEDIATE")
            con.executemany(_INSERT, recs)
            con.execute("COMMIT")

    def ping(self) -> bool:
        """True when the store opens and answers a trivial query."""
        try:
            with self._store() as con:
                return con.execute("SELECT 1").fetchone() == (1,)
        except (sqlite3.Error, OSError):
            return False

    def all_jobs(self) -> DataFrame | None:
        """Every job as a local DataFrame with the ledger schema (``None``
        while the ledger is empty, like an absent warehouse table)."""
        with self._store() as con:
            recs = con.execute(_SELECT).fetchall()
        return self.wh.spark.createDataFrame([_row(r) for r in recs], _SCHEMA) if recs else None
