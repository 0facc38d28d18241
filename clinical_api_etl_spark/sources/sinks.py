"""Idempotent parquet warehouse — the reference's ON CONFLICT family
(SURVEY §2 S5-S11) without a database.

The reference leans on Postgres unique constraints for retry-safe re-runs:
``DO NOTHING`` appends (staging db.py:41-58, processed db.py:88-100), the
asymmetric ``DO UPDATE`` aggregation merge (db.py:110-127), and job-ledger
upserts (db.py:60-67). Here each becomes a set-based join:

* ``append_if_absent`` — incoming LEFT ANTI JOIN existing on the key, then
  a plain parquet append (new files only; safe and atomic-enough for a
  single writer).
* ``merge_aggregations`` — full-outer merge with the reference's declared
  asymmetry (§2.9.3): cnt/avg replaced by the new job's values,
  min/max merged across history via LEAST/GREATEST.
* ``upsert`` — last-write-wins full-outer merge (participants).

The job ledger's ``etl_jobs`` is not a parquet table: ``read`` and
``upsert`` hand it to ``JobLedger`` (``jobs/ledger.py``), which owns its
store.

Merges are **partition-scoped** where the layout allows it: when the merge
key contains the table's partition column, only the partition directories
present in the incoming batch are read back, merged and committed, through
Spark's dynamic partition overwrite (the write is staged inside the table
and job commit replaces exactly the partitions it wrote; every other
partition's files stay untouched). A job that merges one study's
aggregates rewrites one study's directory — O(batch), not O(history).
Tables whose key doesn't cover the partition column fall back to a
whole-table rewrite via temp dir + rename swap (parquet cannot be
overwritten in place while being read). All three merges (``upsert``,
``merge_aggregations``, ``scd2_merge``) run one skeleton, ``_merge``, and
differ only in how they combine existing and incoming rows. On a real
deployment this module is the one swap-out point: Delta/Iceberg ``MERGE``
gives the same semantics transactionally with snapshot isolation; the
operator layer above is unchanged. The anti-join itself broadcasts the
*incoming* batch (a single job's rows — small) against the big existing
table, so no shuffle of the warehouse side.

Tables with a declared schema (``schemas``; the six clinical tables in
:data:`CLINICAL_SCHEMAS`) are read with it, which lists files but starts
no Spark job, and every write to one is checked against it first. Other
tables are read with ``mergeSchema``.

Concurrency posture: one writer per table, many readers. Writers on
different tables run at once, writers on one table serialize, and
``reset`` excludes every writer (``_commit_guard``; the reference gets
this from Postgres transactions). Readers ride out a swap's brief
directory-absence window via ``read``'s bounded retry.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The SURVEY §4/§7 blueprint layout: bronze partitioned by ingestion job
#: (per-job pruning for re-ingest anti-joins and the data API's job reads),
#: silver/gold/participants by study (the reference's leading index
#: column). Every merge target's key contains its partition column, so all
#: merges run partition-scoped.
CLINICAL_PARTITIONING = {
    "staging_clinical_measurements": ["job_id"],
    "processed_measurements": ["study_id"],
    "measurement_aggregations": ["study_id"],
    "participants": ["study_id"],
}

#: The clinical tables' read schemas, as a ``mergeSchema`` read returns
#: them: data columns in file order, then the partition column.
CLINICAL_SCHEMAS = {
    "staging_clinical_measurements": (
        "id string, source_filename string, row_num int, study_id string, "
        "participant_id string, measurement_type string, value string, unit string, "
        "timestamp timestamp, site_id string, quality_score double, job_id string"
    ),
    "processed_measurements": (
        "participant_id string, site_id string, measurement_type string, "
        "measured_at timestamp, value_num decimal(14,4), value_text string, unit string, "
        "quality_score double, raw_row_id string, job_id string, study_id string"
    ),
    "measurement_aggregations": (
        "participant_id string, site_id string, measurement_type string, cnt bigint, "
        "avg_num double, min_num double, max_num double, job_id string, study_id string"
    ),
    "participants": "participant_id string, site_id string, study_id string",
    "studies": "study_id string",
    "data_quality_reports": "job_id string, rule_name string, severity string, affected_rows bigint",
}


def clinical_warehouse(spark: SparkSession, root: str) -> "ParquetWarehouse":
    """Warehouse with the blueprint partition layout and declared schemas."""
    return ParquetWarehouse(
        spark, root, partitioning=CLINICAL_PARTITIONING, schemas=CLINICAL_SCHEMAS
    )


class ParquetWarehouse:
    """Directory-of-parquet-tables with idempotent write paths.

    ``partitioning`` maps table name → partition columns (hive-style
    directory layout). Partitioned tables get partition *pruning* on every
    read that filters the partition column — the Spark analogue of the
    reference's leading-index-column design (study/job-keyed indexes,
    02_staging_clinical_trials.sql:26-34) — and per-partition appends
    instead of whole-directory growth.

    ``schemas`` maps table name → declared read schema (a DDL string).
    A declared table is read with that schema instead of merging its
    files' footers, and a write whose columns or types differ from it
    raises ``ValueError`` before any Spark job.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        partitioning: dict[str, list[str]] | None = None,
        schemas: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.partitioning = dict(partitioning or {})
        self.schemas = {t: T.StructType.fromDDL(ddl) for t, ddl in (schemas or {}).items()}
        #: Per thread: the guards it holds (a table, or ``None`` for the
        #: whole warehouse) → nesting depth (see :meth:`_commit_guard`).
        self._guards = threading.local()

    def _flock(self, name: str, op: int) -> int:
        """A new descriptor on ``<root>/<name>``, flock'ed with ``op``."""
        fd = os.open(str(self.root / name), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, op)
        except BaseException:
            os.close(fd)
            raise
        return fd

    @contextmanager
    def _commit_guard(self, table: str | None = None):
        """Writer critical section for ``table`` (``None``: the whole
        warehouse), safe across THREADS and PROCESSES.

        The reference gets concurrent-upsert safety from Postgres row
        locks + ``ON CONFLICT`` (etl-service/src/db.py:41-58); plain
        parquet directories have no such arbiter, so two writers (two
        threads of one job, two Spark applications, a backfill next to the
        API) merging one table would race on the directory swap. A
        writer of ``table`` holds two ``fcntl.flock`` locks, kernel-
        mediated and released automatically when the holding process
        exits (no stale-lock file to time out):

        * ``<root>/.writer.lock`` shared, so writers of different tables
          run at once, and
        * ``<root>/.writer.lock.<table>`` exclusive, so writers of one
          table serialize.

        ``reset`` and other calls without a table hold ``.writer.lock``
        exclusive: they wait for every writer, and every writer waits
        for them. Each acquisition opens its own descriptors, and flock
        excludes separate descriptors within one process as it does
        across processes, so threads and processes are excluded alike.

        Nested calls (``_merge`` → ``_swap_partitions``) reuse the held
        locks: flock is NOT reentrant across descriptors, so depth is
        tracked per thread and table. A nested call must therefore pass
        the table its caller holds; a whole-warehouse call cannot nest
        inside a table's (that would wait on its own shared lock), and
        raises instead. ``SnapshotWarehouse`` additionally backstops every
        manifest publish with an optimistic hard-link claim, defending
        even against writers that bypass this guard.

        **Scope: SINGLE HOST.** ``fcntl.flock`` is kernel-local; on NFS
        (and most fuse/object-store mounts) it is advisory-broken or
        silently a no-op, so two writers on DIFFERENT hosts sharing the
        directory are NOT excluded by this guard. The cross-host safety
        layer is the hard-link OCC claim in
        ``SnapshotWarehouse._commit`` — ``os.link`` is atomic
        create-if-absent on POSIX filesystems including NFSv3+ — which
        turns a cross-host race into a clean ``CommitConflict`` retry
        rather than a lost update. ``ParquetWarehouse``'s own directory
        swaps carry no such backstop: keep multi-host writers on the
        SnapshotWarehouse path.
        """
        held = getattr(self._guards, "held", None)
        if held is None:
            held = self._guards.held = {}
        key = None if None in held else table
        if key in held:  # nested: the whole warehouse or this table is held
            held[key] += 1
            try:
                yield
            finally:
                held[key] -= 1
            return
        if table is None and held:
            raise RuntimeError(f"whole-warehouse guard inside the guard of {sorted(held)}")
        self.root.mkdir(parents=True, exist_ok=True)
        fds: list[int] = []
        try:
            if table is None:
                fds.append(self._flock(".writer.lock", fcntl.LOCK_EX))
            else:
                fds.append(self._flock(".writer.lock", fcntl.LOCK_SH))
                fds.append(self._flock(f".writer.lock.{table}", fcntl.LOCK_EX))
            held[table] = 1
            yield
        finally:
            held.pop(table, None)
            for fd in reversed(fds):
                try:
                    fcntl.flock(fd, fcntl.LOCK_UN)
                finally:
                    os.close(fd)

    def _path(self, table: str) -> Path:
        return self.root / table

    def reset(self) -> None:
        """S12: drop every table, the job ledger's store included (the
        reference's test-reset endpoint, main.py:40-45 — broken as shipped
        since its reset.sql is absent from the repo; corrected semantics
        implemented here)."""
        with self._commit_guard():
            # Children only — unlinking a .writer.lock* file while a process
            # holds (or is blocked on) its inode would let a later opener
            # acquire a NEW inode's lock concurrently (the unlink-lockfile race).
            for child in self.root.iterdir():
                if child.name.startswith(".writer.lock"):
                    continue
                if child.is_dir():
                    shutil.rmtree(child, ignore_errors=True)
                else:
                    child.unlink(missing_ok=True)
            self.root.mkdir(parents=True, exist_ok=True)

    def exists(self, table: str) -> bool:
        p = self._path(table)
        return p.exists() and any(p.rglob("*.parquet"))

    def _swap_in_progress(self, table: str) -> bool:
        """True while a rewrite's temp/old sibling directories exist —
        i.e. a concurrent swap may explain a transiently absent table."""
        return any(self.root.glob(f"{table}.tmp-*")) or any(
            self.root.glob(f"{table}.old-*")
        )

    def _job_ledger(self, table: str):
        """The ``JobLedger`` when ``table`` is the job ledger's, else None:
        the one place this warehouse routes a table away from parquet."""
        from clinical_api_etl_spark.jobs.ledger import JOBS_TABLE, JobLedger

        return JobLedger(self) if table == JOBS_TABLE else None

    def read(self, table: str) -> DataFrame | None:
        """Read a table, tolerating a concurrent merge's directory swap.

        The warehouse is single-writer / many-reader; ``_rewrite`` swaps
        the table directory and a partition merge replaces partition
        directories, so a reader can momentarily see a vanishing file
        listing *or a vanished directory* (e.g. a data query during a
        background job's merge). Both the exception path
        and the absent-directory path retry; ``None`` is returned only
        when absence persists with no swap in flight. The Delta/Iceberg
        swap-out removes this entirely via snapshot isolation.

        A declared table is read with its schema: the file listing runs
        in this process and no Spark job starts. Any other table merges its
        files' footers, which is one Spark job.

        The job ledger's table comes from its own store, as a local frame.
        """
        ledger = self._job_ledger(table)
        if ledger is not None:
            return ledger.all_jobs()
        reader = self.spark.read
        if table in self.schemas:
            reader = reader.schema(self.schemas[table])
        else:
            # Appended/upserted batches may carry NEW columns (schema
            # evolution — upsert unions with allowMissingColumns); without
            # footer merging the read schema would be whichever file Spark
            # sampled. At warehouse scale a real catalog (Delta/Iceberg)
            # owns the schema; footer merge is the plain-parquet analogue.
            reader = reader.option("mergeSchema", "true")
        last: Exception | None = None
        for _ in range(4):
            if self.exists(table):
                try:
                    df = reader.parquet(str(self._path(table)))
                    df.schema  # force file-listing/analysis now, inside the retry
                    return df
                except Exception as e:  # noqa: BLE001 — transient listing race
                    last = e
            # Absent with no swap artifacts: re-check existence *after*
            # the artifact probe (the swap's rename-into-place strictly
            # precedes its old-dir cleanup, so a table that is really
            # there reappears by the second look) and give up early.
            elif not self._swap_in_progress(table) and not self.exists(table):
                return None
            time.sleep(0.25)
        if last is not None:
            raise last
        return None

    def _check_schema(self, table: str, df: DataFrame) -> None:
        """Raise ``ValueError`` naming the first column where ``df`` and
        ``table``'s declared schema differ in name or type (order and
        nullability aside): a declared read would drop or mistype it
        without a word. Undeclared tables pass."""
        declared = self.schemas.get(table)
        if declared is None:
            return
        want = {f.name: f.dataType.simpleString() for f in declared.fields}
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        for col in sorted(want.keys() | got.keys()):
            if want.get(col) != got.get(col):
                raise ValueError(
                    f"{table}: column {col!r} is {got.get(col) or 'missing'}, "
                    f"declared {want.get(col) or 'absent'}"
                )

    def append(self, table: str, df: DataFrame) -> None:
        """S7-style plain append."""
        self._check_schema(table, df)
        with self._commit_guard(table):
            w = df.write.mode("append")
            if table in self.partitioning:
                w = w.partitionBy(*self.partitioning[table])
            w.parquet(str(self._path(table)))

    def append_if_absent(self, table: str, df: DataFrame, key: list[str]) -> None:
        """S5/S6: INSERT ... ON CONFLICT DO NOTHING == anti-join + append.

        Also dedups the incoming batch on the key (first wins — matching a
        unique-constraint insert where later conflicting rows are dropped).
        """
        with self._commit_guard(table):
            incoming = df.dropDuplicates(key)
            existing = self.read(table)
            if existing is not None:
                incoming = incoming.join(
                    existing.select(*key), on=key, how="left_anti"
                )
            self.append(table, incoming)

    def _rewrite(self, table: str, df: DataFrame) -> None:
        """Whole-table rewrite: materialize to temp (live table still
        readable), then swap via two renames. The table directory is
        absent only between the renames — microseconds, not the rmtree
        duration — and ``read`` retries across it. A failed write removes
        its temp dir, which would otherwise make ``read`` wait on a swap."""
        tmp = self.root / f"{table}.tmp-{uuid.uuid4().hex}"
        w = df.write.mode("overwrite")
        if table in self.partitioning:
            w = w.partitionBy(*self.partitioning[table])
        try:
            w.parquet(str(tmp))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        final = self._path(table)
        old = self.root / f"{table}.old-{uuid.uuid4().hex}"
        if final.exists():
            final.rename(old)
        tmp.rename(final)
        if old.exists():
            shutil.rmtree(old)

    def _scoped_pcol(self, table: str, key: list[str]) -> str | None:
        """The partition column enabling a partition-scoped merge: the
        table is hive-partitioned on exactly one column and that column is
        part of the merge key (so no row of an untouched partition can
        conflict with the incoming batch)."""
        pcols = self.partitioning.get(table)
        if pcols and len(pcols) == 1 and pcols[0] in key:
            return pcols[0]
        return None

    def _touched_filter(self, pcol: str, df: DataFrame):
        """Predicate selecting existing rows in partitions the incoming
        batch touches. Collects the batch's distinct partition values —
        one job's studies/ids, inherently small."""
        vals = [r[0] for r in df.select(pcol).distinct().collect()]
        non_null = [v for v in vals if v is not None]
        cond = F.col(pcol).isin(non_null) if non_null else F.lit(False)
        if len(non_null) < len(vals):  # batch has NULL partition rows
            cond = cond | F.col(pcol).isNull()
        return cond

    def _swap_partitions(self, table: str, merged: DataFrame, pcol: str) -> None:
        """Commit ``merged`` (touched partitions only) into the live table
        with Spark's dynamic partition overwrite: the write is staged under
        ``<table>/.spark-staging-*`` and job commit replaces exactly the
        ``pcol=value`` partitions it wrote. Every touched partition holds
        at least one incoming row of ``merged``, so the partitions replaced
        are exactly the touched ones; untouched partition directories are
        never opened, rewritten or renamed, and their files stay
        byte-identical. A failed write aborts the job and removes its
        staging directory, leaving the table as it was."""
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(pcol)
            .parquet(str(self._path(table)))
        )

    def _merge(
        self,
        table: str,
        df: DataFrame,
        key: list[str],
        combine: Callable[[DataFrame, DataFrame], DataFrame],
    ) -> None:
        """The one merge skeleton: read the table, scope the read to the
        partitions ``df`` touches, ``combine(existing, df)`` into the new
        rows of those partitions, and commit them. An absent table is
        written whole from ``df``; a key that does not cover the partition
        column merges and rewrites the whole table."""
        self._check_schema(table, df)
        with self._commit_guard(table):
            existing = self.read(table)
            if existing is None:
                self._rewrite(table, df)
                return
            pcol = self._scoped_pcol(table, key)
            if pcol is None:
                self._rewrite(table, combine(existing, df))
                return
            existing = existing.filter(self._touched_filter(pcol, df))
            self._swap_partitions(table, combine(existing, df), pcol)

    def upsert(self, table: str, df: DataFrame, key: list[str]) -> None:
        """S9/J2: last-write-wins merge on the key (new rows replace old).

        Partition-scoped when the key covers the partition column: only
        partitions present in ``df`` are read back, merged and replaced.
        The job ledger's rows (keyed by id) go to its own store.
        """
        ledger = self._job_ledger(table)
        if ledger is not None:
            ledger.put(df.collect())
            return

        def combine(existing: DataFrame, df: DataFrame) -> DataFrame:
            keep = existing.join(df.select(*key), on=key, how="left_anti")
            return keep.unionByName(df, allowMissingColumns=True)

        self._merge(table, df, key, combine)

    def merge_aggregations(self, table: str, df: DataFrame, key: list[str]) -> None:
        """S8: the reference's asymmetric agg upsert (db.py:120-126):

        ``cnt``/``avg_num``/``job_id`` take the new job's values;
        ``min_num = LEAST(old, new)``, ``max_num = GREATEST(old, new)`` —
        so after re-ingest avg reflects only the latest job while min/max
        are historical (§2.9.3, replicated deliberately).

        Partition-scoped like :meth:`upsert`: a job merging one study's
        aggregates rewrites only that study's partition directory.
        """

        def combine(existing: DataFrame, df: DataFrame) -> DataFrame:
            new = df.select(
                *key,
                F.col("cnt").alias("_new_cnt"),
                F.col("avg_num").alias("_new_avg"),
                F.col("min_num").alias("_new_min"),
                F.col("max_num").alias("_new_max"),
                F.col("job_id").alias("_new_job"),
            )
            return existing.join(new, on=key, how="full_outer").select(
                *key,
                F.coalesce("_new_cnt", "cnt").alias("cnt"),
                F.coalesce("_new_avg", "avg_num").alias("avg_num"),
                F.when(
                    F.col("_new_min").isNotNull(),
                    F.least(F.coalesce("min_num", "_new_min"), F.col("_new_min")),
                )
                .otherwise(F.col("min_num"))
                .alias("min_num"),
                F.when(
                    F.col("_new_max").isNotNull(),
                    F.greatest(F.coalesce("max_num", "_new_max"), F.col("_new_max")),
                )
                .otherwise(F.col("max_num"))
                .alias("max_num"),
                F.coalesce("_new_job", "job_id").alias("job_id"),
            )

        self._merge(table, df, key, combine)

    def scd2_merge(
        self,
        table: str,
        df: DataFrame,
        key: list[str],
        *,
        ts_col: str,
    ) -> None:
        """Type-2 slowly-changing-dimension merge: full version history.

        Where :meth:`upsert` keeps only latest state, SCD2 keeps every
        version: incoming rows open new versions (``valid_from = ts_col``,
        ``valid_to = NULL``, ``is_current = true``); the previously-current
        row of each touched key closes (``valid_to`` = the new version's
        ``valid_from``, ``is_current = false``). Untouched keys are
        untouched rows. Several versions of one key inside a batch chain
        via a ``lead`` window (earliest closes against the next, only the
        latest stays open).

        Scale posture: one window over the batch (small), one join of the
        EXISTING table against the batch's distinct keys (broadcast — a
        batch touches few keys relative to history), then the same
        :meth:`_merge` commit as every other merge. As-of
        reads are then plain range predicates (``valid_from <= t <
        coalesce(valid_to, inf)``) — the ``operators/temporal.asof_join``
        companion shape.
        """
        from pyspark.sql.window import Window as W

        w = W.partitionBy(*key).orderBy(ts_col)
        incoming = (
            df.withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead("valid_from").over(w))
            .withColumn("is_current", F.col("valid_to").isNull())
            .drop(ts_col)
        )
        first_new = incoming.groupBy(*key).agg(F.min("valid_from").alias("_new_from"))
        first_new = F.broadcast(first_new)

        def combine(existing: DataFrame, incoming: DataFrame) -> DataFrame:
            closed = (
                existing.join(first_new, on=key, how="left")
                .withColumn(
                    "valid_to",
                    F.when(
                        F.col("is_current") & F.col("_new_from").isNotNull(),
                        F.col("_new_from"),
                    ).otherwise(F.col("valid_to")),
                )
                .withColumn(
                    "is_current",
                    F.col("is_current") & F.col("_new_from").isNull(),
                )
                .drop("_new_from")
            )
            return closed.unionByName(incoming, allowMissingColumns=True)

        self._merge(table, incoming, key, combine)
