"""Manifest-based snapshot warehouse: MVCC on plain parquet. [EXT]

``ParquetWarehouse`` (``sources/sinks.py``) gives the reference's
ON-CONFLICT merge semantics but swaps live directories, so a concurrent
reader can observe a transiently absent table (bounded-retry papered
over; ADVICE round 1). This subclass replaces the *physical* layer with
the table-format idea Delta/Iceberg standardized — a log of immutable
snapshots over immutable data files — while inheriting every merge
computation unchanged:

* Data files are written once under ``<table>/data/<commit-id>/`` and
  NEVER modified or renamed afterwards.
* Each commit writes the next ``_manifests/v<N>.json`` — the complete
  list of file paths that make up snapshot N — via write-temp +
  atomic-rename. The manifest is the only mutable pointer.
* Readers resolve the latest manifest at plan time; the files it names
  exist until an explicit ``vacuum``, so there is **no swap window at
  all**: a reader holding snapshot N keeps a consistent view while any
  number of later commits land (snapshot isolation, single-writer /
  many-reader).
* Partition-scoped merges REUSE untouched partitions' files across
  snapshots: a merge into one study writes that study's new files plus
  a manifest; every other partition's entry is carried over by path.
  Commit cost is O(touched partition), and storage is shared between
  snapshots like Delta/Iceberg, not copied.
* ``read(table, version=...)`` is time travel; ``history`` lists
  snapshots; ``compact`` rewrites the live snapshot into one commit
  dir (the OPTIMIZE analogue — reads otherwise union one parquet
  relation per live commit); ``vacuum`` drops files unreferenced by
  the retained manifests.

At 100 TB this is the posture that matters: the manifest write is O(1)
metadata, data-file writes are only the touched partitions, and old
snapshots double as both reader isolation and rollback. On a real
deployment the swap-out is Delta/Iceberg themselves; the operator layer
above (``append_if_absent`` / ``upsert`` / ``merge_aggregations``,
reference db.py:41-127 semantics) is unchanged — it is inherited
verbatim from ``ParquetWarehouse``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

_MANIFESTS = "_manifests"

#: Bounded OCC retry for commuting operations (appends).
_COMMIT_RETRIES = 20


class CommitConflict(RuntimeError):
    """Another writer published the manifest version this commit claimed.

    Raised by :meth:`SnapshotWarehouse._commit` when the optimistic
    hard-link claim on ``v<N>.json`` loses the race (or the table moved
    past the caller's read version). Commuting operations (appends)
    retry transparently; read-modify-write operations surface it after
    their bounded retry — the caller re-runs the whole merge against
    the fresh snapshot (Delta's ``ConcurrentAppendException`` contract).
    """


class SnapshotWarehouse(ParquetWarehouse):
    """``ParquetWarehouse`` with manifest-pinned snapshot reads.

    Logical semantics (idempotent appends, last-write-wins upsert, the
    asymmetric aggregation merge, partition scoping) are inherited; only
    ``read``/``exists``/``append`` and the two rewrite primitives are
    overridden to commit snapshots instead of mutating directories.
    """

    # -- manifest log -----------------------------------------------------

    def _manifest_dir(self, table: str) -> Path:
        return self._path(table) / _MANIFESTS

    def _data_root(self, table: str) -> Path:
        return self._path(table) / "data"

    def versions(self, table: str) -> list[int]:
        mdir = self._manifest_dir(table)
        if not mdir.is_dir():
            return []
        out = []
        for p in mdir.iterdir():
            if p.suffix == ".json" and p.stem.startswith("v"):
                try:
                    out.append(int(p.stem[1:]))
                except ValueError:
                    continue
        return sorted(out)

    def _load_manifest(self, table: str, version: int | None = None) -> dict | None:
        vs = self.versions(table)
        if not vs:
            return None
        v = max(vs) if version is None else version
        if v not in vs:
            raise ValueError(f"{table}: no snapshot v{v} (have {vs})")
        with open(self._manifest_dir(table) / f"v{v:08d}.json") as f:
            return json.load(f)

    def history(self, table: str) -> list[dict]:
        """Snapshot log, oldest first: version, file count, operation."""
        out = []
        for v in self.versions(table):
            m = self._load_manifest(table, v)
            out.append(
                {
                    "version": m["version"],
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                    "committed_at_ms": m.get("committed_at_ms"),
                    "txn": m.get("txn"),
                }
            )
        return out

    def version_as_of(self, table: str, ts_ms: int) -> int:
        """Latest version committed at or before ``ts_ms`` (epoch ms) —
        Delta's ``TIMESTAMP AS OF`` resolution. Raises if the earliest
        retained snapshot is already newer (vacuumed past the asked
        time). Manifests written before commit timestamps existed count
        as arbitrarily old."""
        best = None
        for h in self.history(table):
            c = h["committed_at_ms"] or 0
            if c <= ts_ms:
                best = h["version"]
        if best is None:
            raise ValueError(
                f"{table}: no snapshot at or before ts {ts_ms} "
                "(beyond retention?)"
            )
        return best

    def read_as_of(self, table: str, ts_ms: int) -> DataFrame | None:
        """Snapshot read pinned by wall-clock commit time."""
        return self.read(table, self.version_as_of(table, ts_ms))

    def files(self, table: str, version: int | None = None) -> DataFrame:
        """Metadata table (Delta ``DESCRIBE DETAIL`` / Iceberg ``.files``
        analogue): one row per live data file of the chosen snapshot with
        commit dir, size, and mtime — what ops tooling joins against for
        small-file analysis and compaction planning. Metadata-only (stat
        calls), never opens a data file."""
        m = self._load_manifest(table, version)
        root = self._data_root(table)
        rows = []
        for rel in (m["files"] if m else []):
            p = root / rel
            st = p.stat() if p.exists() else None
            rows.append(
                (
                    rel,
                    rel.split("/", 1)[0] if "/" in rel else "",
                    int(st.st_size) if st else None,
                    int(st.st_mtime * 1000) if st else None,
                )
            )
        return self.spark.createDataFrame(
            rows, "path string, commit_dir string, bytes long, mtime_ms long"
        )

    def _commit(
        self,
        table: str,
        files: list[str],
        operation: str,
        deletes: list[dict] | None = None,
        txn: str | None = None,
        base_version: int | None = None,
    ) -> int:
        """Atomically publish the next snapshot; returns its version.

        Files are relpaths under the table's data root. ``deletes`` are
        deletion-vector entries (see :meth:`delete_where`) carried in
        the manifest; rewrites publish with none. ``txn`` stamps the
        manifest with an idempotence token (see :meth:`append_once`).

        CROSS-PROCESS optimistic concurrency (the reference's Postgres
        gave this via transactions, db.py:41-58): the fully-written
        temp manifest is *claimed* into ``v<N>.json`` with a hard link —
        atomic create-if-absent on POSIX — so of two processes racing on
        the same next version, exactly one wins and the loser gets
        :class:`CommitConflict` with no partial manifest ever visible.
        ``base_version`` (the snapshot the caller derived its file list
        from) additionally fails the commit if the table has already
        moved on, catching lost updates before the link attempt."""
        mdir = self._manifest_dir(table)
        mdir.mkdir(parents=True, exist_ok=True)
        vs = self.versions(table)
        latest = max(vs) if vs else 0
        if base_version is not None and latest != base_version:
            raise CommitConflict(
                f"{table}: snapshot moved v{base_version}→v{latest} under a commit"
            )
        nxt = latest + 1
        manifest = {
            "version": nxt,
            "operation": operation,
            "partitioned": table in self.partitioning,
            "files": sorted(files),
            "deletes": deletes or [],
            # wall-clock commit time (epoch ms) for AS OF-timestamp reads;
            # never part of any oracle-gated result.
            "committed_at_ms": int(time.time() * 1000),
        }
        if txn is not None:
            manifest["txn"] = txn
        tmp = mdir / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(manifest, indent=1))
        try:
            os.link(tmp, mdir / f"v{nxt:08d}.json")
        except FileExistsError:
            raise CommitConflict(f"{table}: lost the race for v{nxt}") from None
        finally:
            tmp.unlink(missing_ok=True)
        return nxt

    # -- physical write ---------------------------------------------------

    def _write_commit_files(self, table: str, df: DataFrame) -> list[str]:
        """Write ``df`` into a fresh immutable commit dir; return the
        relpaths (under data/) of the parquet files produced."""
        cid = uuid.uuid4().hex
        dest = self._data_root(table) / cid
        w = df.write.mode("overwrite")
        if table in self.partitioning:
            w = w.partitionBy(*self.partitioning[table])
        w.parquet(str(dest))
        root = self._data_root(table)
        return [str(p.relative_to(root)) for p in dest.rglob("*.parquet")]

    # -- overridden surface ----------------------------------------------

    def exists(self, table: str) -> bool:
        m = self._load_manifest(table)
        return bool(m and m["files"])

    def read(self, table: str, version: int | None = None) -> DataFrame | None:
        """Snapshot read: resolve a manifest, read exactly its files.

        Files are grouped per commit dir (Spark's partition discovery
        rejects hive dirs under differing non-hive parents in one pass)
        and unioned by name — after ``compact`` that is a single parquet
        relation. No retry loop: manifests only ever gain successors,
        and the files a manifest names outlive it until ``vacuum``.
        """
        m = self._load_manifest(table, version)
        if m is None or not m["files"]:
            return None
        root = self._data_root(table)
        by_commit: dict[str, list[str]] = {}
        for rel in m["files"]:
            by_commit.setdefault(rel.split("/", 1)[0], []).append(str(root / rel))
        parts = []
        for cid, paths in sorted(by_commit.items()):
            r = self.spark.read
            if m["partitioned"]:
                r = r.option("basePath", str(root / cid))
            part = r.parquet(*paths)
            # Deletion vectors: each entry targets the commit dirs that
            # were live when the delete committed, so rows appended LATER
            # under the same key are untouched (Delta/Iceberg DV
            # semantics). Tombstone key sets are small — broadcast.
            for entry in m.get("deletes") or []:
                if cid in entry["cids"]:
                    keys = self.spark.read.parquet(
                        *[str(root / f) for f in entry["files"]]
                    )
                    part = part.join(F.broadcast(keys), entry["key"], "left_anti")
            parts.append(part)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def append(self, table: str, df: DataFrame) -> None:
        """Append under the two-layer concurrency stack: the
        ``_commit_guard`` flocks serialize the table's guard-using writers
        on this host (appends from THIS codepath never actually race),
        while the hard-link OCC claim in :meth:`_commit` is the backstop
        that keeps history linear against writers that bypass the guard or
        run on another host sharing the filesystem. On a lost commit race the
        carried file list is re-derived from the fresh snapshot and the
        claim retried — the new data files are already on disk and
        immutable, no rewrite. Appends commute, so both writers land."""
        with self._commit_guard(table):
            new = self._write_commit_files(table, df)
            for attempt in range(_COMMIT_RETRIES):
                prev = self._load_manifest(table)
                try:
                    self._commit(
                        table,
                        (prev["files"] if prev else []) + new,
                        "append",
                        deletes=(prev.get("deletes") if prev else None),
                        base_version=(prev["version"] if prev else 0),
                    )
                    return
                except CommitConflict:
                    if attempt == _COMMIT_RETRIES - 1:
                        raise
                    time.sleep(0.01 * (attempt + 1))

    def committed_txns(self, table: str) -> set[str]:
        """All idempotence tokens recorded in the table's retained
        manifests (vacuum trims history, so tokens older than the
        retention horizon are forgotten — match retention to the maximum
        replay window, exactly Delta's ``txnAppId`` caveat)."""
        out: set[str] = set()
        for v in self.versions(table):
            m = self._load_manifest(table, v)
            if m and m.get("txn"):
                out.add(m["txn"])
        return out

    def append_once(self, table: str, df: DataFrame, txn: str) -> bool:
        """Exactly-once append: commit ``df`` stamped with ``txn`` unless
        a retained manifest already carries that token — the idempotent
        sink a Structured Streaming ``foreachBatch`` needs, because Spark
        re-runs a batch (same ``batchId``) after any failure between the
        sink call and the checkpoint commit. Returns True if the append
        happened, False if it was a replay. The seen-check and the
        manifest claim happen inside the OCC loop, so concurrent
        replays — same process or another one — cannot double-commit:
        the seen-check is re-run after every lost race, and of two
        processes replaying one token exactly one wins the version
        link while the other re-reads and backs off."""
        with self._commit_guard(table):
            if txn in self.committed_txns(table):
                return False
            new = self._write_commit_files(table, df)
            for attempt in range(_COMMIT_RETRIES):
                if txn in self.committed_txns(table):
                    # A concurrent process landed this token between our
                    # first check and the claim: drop our staged commit
                    # dir (immutable but now unreachable) and report replay.
                    cids = {rel.split("/", 1)[0] for rel in new}
                    for cid in cids:
                        shutil.rmtree(self._data_root(table) / cid, ignore_errors=True)
                    return False
                prev = self._load_manifest(table)
                try:
                    self._commit(
                        table,
                        (prev["files"] if prev else []) + new,
                        "append",
                        deletes=(prev.get("deletes") if prev else None),
                        txn=txn,
                        base_version=(prev["version"] if prev else 0),
                    )
                    return True
                except CommitConflict:
                    if attempt == _COMMIT_RETRIES - 1:
                        raise
                    time.sleep(0.01 * (attempt + 1))
            return True

    def delete_where(
        self, table: str, condition: Column | str, key_col: str
    ) -> int:
        """Row-level delete WITHOUT rewriting data files (deletion-vector
        pattern, the GDPR-delete posture at 100 TB: removing 3 rows from a
        1 GB file costs a KB tombstone, not a 1 GB rewrite).

        Keys matching ``condition`` in the CURRENT snapshot are written as
        a tombstone parquet; the new manifest carries the data files
        unchanged plus a delete entry scoped to the commit dirs live right
        now. Reads anti-join the tombstones; ``compact`` materializes the
        deletes and clears the vectors. Returns the number of deleted keys.
        """
        with self._commit_guard(table):
            prev = self._load_manifest(table)
            if prev is None or not prev["files"]:
                return 0
            cur = self.read(table)
            cond = F.expr(condition) if isinstance(condition, str) else condition
            keys = cur.filter(cond).select(key_col).distinct()
            n = keys.count()
            if n == 0:
                return 0
            cid = uuid.uuid4().hex
            dest = self._data_root(table) / cid
            keys.coalesce(1).write.mode("overwrite").parquet(str(dest))
            root = self._data_root(table)
            dfiles = [str(p.relative_to(root)) for p in dest.rglob("*.parquet")]
            applies = sorted({rel.split("/", 1)[0] for rel in prev["files"]})
            entry = {"key": key_col, "files": dfiles, "cids": applies}
            self._commit(
                table,
                prev["files"],
                f"delete[{key_col}]",
                deletes=(prev.get("deletes") or []) + [entry],
                base_version=prev["version"],
            )
            return n

    def _rewrite(self, table: str, df: DataFrame) -> None:
        with self._commit_guard(table):
            prev = self._load_manifest(table)
            new = self._write_commit_files(table, df)
            self._commit(
                table,
                new,
                "rewrite",
                base_version=(prev["version"] if prev else 0),
            )

    def _swap_partitions(self, table: str, merged: DataFrame, pcol: str) -> None:
        """Partition-scoped commit: new files for touched partitions, the
        previous snapshot's entries carried over (by path — no data
        movement) for every other partition."""
        with self._commit_guard(table):
            prev = self._load_manifest(table)
            new = self._write_commit_files(table, merged)
            touched = {rel.split("/")[1] for rel in new if "/" in rel}
            carried = [
                rel
                for rel in (prev["files"] if prev else [])
                if len(rel.split("/")) < 2 or rel.split("/")[1] not in touched
            ]
            # Delete entries stay: they still apply to carried files (an
            # entry whose commit dirs all dropped out is a harmless no-op).
            self._commit(
                table,
                carried + new,
                f"merge[{pcol}]",
                deletes=(prev.get("deletes") if prev else None),
                base_version=(prev["version"] if prev else 0),
            )

    def read_changes(
        self,
        table: str,
        from_version: int,
        to_version: int | None = None,
        *,
        pre_image: bool = False,
    ) -> DataFrame | None:
        """Change data feed between snapshots (Delta CDF analogue): what a
        downstream incremental consumer must apply to move its copy from
        ``from_version`` to ``to_version`` (default: latest).

        Inserts are exactly the data files present in ``to`` but not in
        ``from`` — reading them costs O(changed files), never a diff of
        table contents. Deletes are the tombstone entries added between
        the versions. Output is the table schema plus ``_change_type``
        ('insert' | 'delete'). Files rewritten by ``compact``/``rewrite``
        are NOT emitted as changes (same logical rows); consumers resync
        on a 'rewrite' in ``history`` between the versions — the standard
        CDF contract.

        Delete emission modes:

        - ``pre_image=False`` (default): delete rows carry the tombstone
          KEY and NULL elsewhere — one row per deleted key, including keys
          whose rows were both inserted and deleted inside the window
          (key-level consumers just drop the key).
        - ``pre_image=True``: delete rows carry the FULL removed row as of
          ``from_version`` (Delta "change data" parity) — exactly the rows
          the consumer materialized, so additive aggregates can be
          DECREMENTED (see operators/mv.py). Rows that never existed at
          ``from_version`` (inserted+deleted within the window, already
          suppressed on the insert side) emit nothing. Cost stays
          O(files in the touched commits): pre-images read only the
          from-version files of the commits each tombstone targets.
        """
        m_from = self._load_manifest(table, from_version)
        m_to = self._load_manifest(table, to_version)
        if m_from is None or m_to is None:
            return None
        ops = [
            h["operation"]
            for h in self.history(table)
            if from_version < h["version"] <= m_to["version"]
        ]
        if any(op == "rewrite" or op.startswith("restore") for op in ops):
            raise ValueError(
                f"{table}: rewrite between v{from_version} and "
                f"v{m_to['version']} — CDF cannot express it; resync"
            )
        root = self._data_root(table)
        new_files = sorted(set(m_to["files"]) - set(m_from["files"]))
        cur = self.read(table, m_to["version"])
        parts: list[DataFrame] = []
        if new_files:
            by_commit: dict[str, list[str]] = {}
            for rel in new_files:
                by_commit.setdefault(rel.split("/", 1)[0], []).append(
                    str(root / rel)
                )
            for cid, paths in sorted(by_commit.items()):
                r = self.spark.read
                if m_to["partitioned"]:
                    r = r.option("basePath", str(root / cid))
                part = r.parquet(*paths)
                for entry in m_to.get("deletes") or []:
                    if cid in entry["cids"]:
                        keys = self.spark.read.parquet(
                            *[str(root / f) for f in entry["files"]]
                        )
                        part = part.join(
                            F.broadcast(keys), entry["key"], "left_anti"
                        )
                parts.append(part.withColumn("_change_type", F.lit("insert")))
        from_entries = m_from.get("deletes") or []
        to_entries = m_to.get("deletes") or []
        n_prev = len(from_entries)  # append-only log: from is a prefix of to
        if pre_image:
            # Walk each from-version commit dir, replaying the tombstone log
            # in order: entries already applied at from_version only filter;
            # NEW entries first emit the surviving rows they remove (the
            # pre-image), then filter — so a key deleted twice with a
            # re-insert in between never double-emits.
            from_by_commit: dict[str, list[str]] = {}
            for rel in m_from["files"]:
                from_by_commit.setdefault(rel.split("/", 1)[0], []).append(
                    str(root / rel)
                )
            for cid, paths in sorted(from_by_commit.items()):
                if not any(cid in e["cids"] for e in to_entries[n_prev:]):
                    continue
                r = self.spark.read
                if m_from["partitioned"]:
                    r = r.option("basePath", str(root / cid))
                df_cid = r.parquet(*paths)
                for idx, entry in enumerate(to_entries):
                    if cid not in entry["cids"]:
                        continue
                    keys = self.spark.read.parquet(
                        *[str(root / f) for f in entry["files"]]
                    )
                    if idx >= n_prev:
                        pre = df_cid.join(
                            F.broadcast(keys), entry["key"], "left_semi"
                        )
                        parts.append(
                            pre.select(*cur.columns).withColumn(
                                "_change_type", F.lit("delete")
                            )
                        )
                    df_cid = df_cid.join(
                        F.broadcast(keys), entry["key"], "left_anti"
                    )
        else:
            for entry in to_entries[n_prev:]:
                keys = self.spark.read.parquet(
                    *[str(root / f) for f in entry["files"]]
                )
                row = keys
                for c in cur.columns:
                    if c != entry["key"]:
                        row = row.withColumn(
                            c, F.lit(None).cast(cur.schema[c].dataType)
                        )
                parts.append(
                    row.select(*cur.columns).withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
        if not parts:
            return cur.limit(0).withColumn("_change_type", F.lit(""))
        return reduce(lambda a, b: a.unionByName(b), parts)

    # -- maintenance ------------------------------------------------------

    def purge(self, table: str, condition: Column | str, key_col: str) -> int:
        """Right-to-be-forgotten: physically remove every row whose
        ``key_col`` matches ``condition`` from ALL retained snapshots —
        including rows currently hidden by deletion vectors — while
        preserving time travel for everything else.

        ``delete_where`` hides rows (tombstones); ``vacuum`` drops
        unreferenced files; neither removes a subject's BYTES from files
        still referenced by retained manifests. ``purge`` does:

        1. One pass over the union of every retained snapshot's raw files
           (``input_file_name`` tagged) finds the purge keys and the
           exact files containing them — cost O(table), dirty-file
           discovery is a single job.
        2. Each dirty file is rewritten without the keys into a fresh
           commit dir, at FILE granularity (manifests may carry partial
           commit-dir contents after partition-scoped merges, so dir-level
           rewrites would be wrong). Partition subpaths are preserved;
           hive-derived columns never existed in the file bytes.
        3. Tombstone files are cleaned of the purged keys too (a
           tombstone IS a list of key values — personal data); entries
           left empty are dropped (the rows they hid no longer exist).
        4. Every retained manifest is repointed in place — old versions
           keep their exact contents minus the subject — and a new
           ``purge`` snapshot records the operation in ``history``.
        5. The replaced files are unlinked. This is the one operation
           that mutates history; like ``vacuum``, run it with a retention
           window matching reader lifetimes.

        ``key_col`` must be a physical data column (not a hive partition
        column). Returns the number of purged keys.
        """
        with self._commit_guard(table):
            vs = self.versions(table)
            if not vs:
                return 0
            root = self._data_root(table)
            manifests = {v: self._load_manifest(table, v) for v in vs}
            all_files: set[str] = set()
            partitioned = False
            for m in manifests.values():
                all_files.update(m["files"])
                partitioned = partitioned or m["partitioned"]
            if not all_files:
                return 0
            by_commit: dict[str, list[str]] = {}
            for rel in sorted(all_files):
                by_commit.setdefault(rel.split("/", 1)[0], []).append(rel)
            parts = []
            for cid, rels in sorted(by_commit.items()):
                r = self.spark.read
                if partitioned:
                    r = r.option("basePath", str(root / cid))
                parts.append(
                    r.parquet(*[str(root / rel) for rel in rels]).withColumn(
                        "_purge_file", F.input_file_name()
                    )
                )
            union = reduce(lambda a, b: a.unionByName(b), parts)
            cond = F.expr(condition) if isinstance(condition, str) else condition
            keys = union.filter(cond).select(key_col).distinct().persist()
            n = keys.count()
            if n == 0:
                keys.unpersist()
                return 0
            dirty_uris = {
                r[0]
                for r in union.join(F.broadcast(keys), key_col, "left_semi")
                .select("_purge_file")
                .distinct()
                .collect()
            }

            def _to_rel(uri: str) -> str:
                p = uri.split("://", 1)[-1]
                return str(Path(p).relative_to(root.resolve()))

            dirty = {_to_rel(u) for u in dirty_uris}
            new_cid = uuid.uuid4().hex
            mapping: dict[str, str] = {}
            for rel in sorted(dirty):
                src = root / rel
                df = self.spark.read.parquet(str(src))
                if key_col not in df.columns:
                    raise ValueError(
                        f"{table}: purge key {key_col!r} must be a physical "
                        f"column (absent from {rel})"
                    )
                cleaned = df.join(F.broadcast(keys), key_col, "left_anti")
                subparts = rel.split("/")
                subdir = "/".join(subparts[1:-1])
                dest_dir = root / new_cid / subdir if subdir else root / new_cid
                tmp = root / f".purge-{uuid.uuid4().hex}"
                cleaned.coalesce(1).write.mode("overwrite").parquet(str(tmp))
                dest_dir.mkdir(parents=True, exist_ok=True)
                out_name = f"{subparts[0]}-{subparts[-1]}"
                written = sorted(tmp.glob("*.parquet"))
                os.replace(written[0], dest_dir / out_name)
                shutil.rmtree(tmp)
                mapping[rel] = str((dest_dir / out_name).relative_to(root))
            # Clean tombstone key files of the purged keys.
            entry_file_map: dict[tuple[str, ...], list[str] | None] = {}
            for m in manifests.values():
                for entry in m.get("deletes") or []:
                    sig = tuple(entry["files"])
                    if sig in entry_file_map:
                        continue
                    tdf = self.spark.read.parquet(
                        *[str(root / f) for f in sig]
                    )
                    if entry["key"] == key_col:
                        kept = tdf.join(F.broadcast(keys), key_col, "left_anti")
                        if kept.limit(1).count() == 0:
                            entry_file_map[sig] = None  # drop the entry
                            continue
                        tmp = root / f".purge-{uuid.uuid4().hex}"
                        kept.coalesce(1).write.mode("overwrite").parquet(str(tmp))
                        dest_dir = root / new_cid
                        dest_dir.mkdir(parents=True, exist_ok=True)
                        out_name = f"ts-{uuid.uuid4().hex}.parquet"
                        written = sorted(tmp.glob("*.parquet"))
                        os.replace(written[0], dest_dir / out_name)
                        shutil.rmtree(tmp)
                        entry_file_map[sig] = [
                            str((dest_dir / out_name).relative_to(root))
                        ]
                    else:
                        entry_file_map[sig] = list(sig)
            keys.unpersist()
            # Repoint every retained manifest in place (atomic per file).
            mdir = self._manifest_dir(table)
            for v, m in manifests.items():
                m["files"] = sorted(mapping.get(rel, rel) for rel in m["files"])
                new_entries = []
                for entry in m.get("deletes") or []:
                    mapped = entry_file_map.get(tuple(entry["files"]))
                    if mapped is None:
                        continue
                    new_entries.append({**entry, "files": mapped})
                m["deletes"] = new_entries
                tmp_m = mdir / f".tmp-{uuid.uuid4().hex}"
                tmp_m.write_text(json.dumps(m, indent=1))
                os.rename(tmp_m, mdir / f"v{v:08d}.json")
            # Record the purge as a snapshot of its own.
            latest = manifests[max(vs)]
            self._commit(
                table,
                latest["files"],
                f"purge[{key_col}]",
                deletes=latest.get("deletes"),
            )
            # Only now unlink the dirty originals (and replaced tombstones).
            for rel in dirty:
                (root / rel).unlink(missing_ok=True)
            for sig, mapped in entry_file_map.items():
                if mapped is None or list(sig) != mapped:
                    for f in sig:
                        (root / f).unlink(missing_ok=True)
            for d in sorted(root.iterdir()):
                if d.is_dir() and not any(d.rglob("*.parquet")):
                    shutil.rmtree(d)
            return n

    # -- write-audit-publish (Iceberg WAP analogue) -------------------------

    def stage_append(self, table: str, df: DataFrame) -> str:
        """WRITE step of write-audit-publish: materialize ``df`` into a
        fresh commit dir and record it in a STAGED manifest that no read
        path resolves (``versions()`` only parses ``v*.json``). Returns
        the staging id. The audit step reads :meth:`read_staged` (the
        candidate future table) and runs its checks
        (operators/expectations.py); :meth:`publish_staged` then promotes
        atomically, or :meth:`discard_staged` drops the bytes. Caveat
        (same as Iceberg's orphan cleanup): ``vacuum`` during an open WAP
        window deletes the staged files — match retention to audit
        duration."""
        with self._commit_guard(table):
            new = self._write_commit_files(table, df)
            sid = uuid.uuid4().hex
            mdir = self._manifest_dir(table)
            mdir.mkdir(parents=True, exist_ok=True)
            staged = {
                "staging_id": sid,
                "new_files": sorted(new),
                "committed_at_ms": int(time.time() * 1000),
            }
            tmp = mdir / f".tmp-{sid}"
            tmp.write_text(json.dumps(staged, indent=1))
            os.rename(tmp, mdir / f"staged-{sid}.json")
            return sid

    def _load_staged(self, table: str, staging_id: str) -> dict:
        p = self._manifest_dir(table) / f"staged-{staging_id}.json"
        if not p.is_file():
            raise ValueError(f"{table}: no staged snapshot {staging_id}")
        return json.loads(p.read_text())

    def read_staged(self, table: str, staging_id: str) -> DataFrame:
        """The table AS IT WOULD BE after publishing: current head plus
        the staged files — what the audit step validates."""
        staged = self._load_staged(table, staging_id)
        root = self._data_root(table)
        paths = [str(root / rel) for rel in staged["new_files"]]
        new_df = self.spark.read.parquet(*paths)
        cur = self.read(table)
        return new_df if cur is None else cur.unionByName(new_df)

    def publish_staged(self, table: str, staging_id: str) -> int:
        """PUBLISH step: promote the staged files into the next snapshot.
        The carried file list is re-derived from the head AT PUBLISH TIME
        (under the writer lock), so commits that landed during the audit
        window are preserved, not clobbered. Returns the new version; the
        staged manifest is consumed."""
        with self._commit_guard(table):
            staged = self._load_staged(table, staging_id)
            prev = self._load_manifest(table)
            carried = prev["files"] if prev else []
            self._commit(
                table,
                carried + staged["new_files"],
                "append[wap]",
                deletes=(prev.get("deletes") if prev else None),
            )
            (self._manifest_dir(table) / f"staged-{staging_id}.json").unlink()
            return self.versions(table)[-1]

    def discard_staged(self, table: str, staging_id: str) -> None:
        """Audit failed: drop the staged manifest and its data files
        (safe — no published manifest references them)."""
        with self._commit_guard(table):
            staged = self._load_staged(table, staging_id)
            root = self._data_root(table)
            dirs = set()
            for rel in staged["new_files"]:
                p = root / rel
                if p.is_file():
                    p.unlink()
                dirs.add(rel.split("/", 1)[0])
            for d in dirs:
                dd = root / d
                if dd.is_dir() and not any(dd.rglob("*.parquet")):
                    shutil.rmtree(dd)
            (self._manifest_dir(table) / f"staged-{staging_id}.json").unlink()

    def restore(self, table: str, version: int) -> None:
        """Delta ``RESTORE TABLE ... TO VERSION`` analogue: publish a NEW
        snapshot whose file list (and deletion vectors) are exactly those
        of ``version`` — rollback as a forward commit, so the mistake
        stays in history and time travel still reaches it. Zero data
        movement: the manifest repoints at the old version's immutable
        files. Fails if ``vacuum`` already dropped any of them (the same
        retention horizon Delta imposes). Downstream CDF consumers must
        resync across a restore (``read_changes`` refuses the window,
        like a rewrite)."""
        with self._commit_guard(table):
            m = self._load_manifest(table, version)
            if m is None:
                raise ValueError(f"{table}: nothing to restore")
            root = self._data_root(table)
            missing = [rel for rel in m["files"] if not (root / rel).is_file()]
            if missing:
                raise ValueError(
                    f"{table}: v{version} not restorable — {len(missing)} "
                    f"file(s) vacuumed (e.g. {missing[0]})"
                )
            self._commit(
                table,
                m["files"],
                f"restore[v{version}]",
                deletes=m.get("deletes"),
            )

    def clone(
        self,
        src_table: str,
        dst_table: str,
        *,
        version: int | None = None,
    ) -> None:
        """Delta SHALLOW CLONE analogue: materialize ``src_table`` (at
        ``version``, default latest) as a new table WITHOUT copying data.

        Every referenced file (data + delete tombstones) is hard-linked
        into the clone's own data root under the same commit-dir relpaths,
        so the clone costs directory entries, not bytes — and stays fully
        independent: purge/vacuum on either table unlink only their own
        directory entries, never the other's bytes (POSIX hardlink
        semantics), and subsequent writes land in fresh commit dirs.
        Falls back to a copy where hard links can't cross devices."""
        with self._commit_guard():
            if self.versions(dst_table):
                raise ValueError(f"{dst_table}: already exists")
            m = self._load_manifest(src_table, version)
            if m is None:
                raise ValueError(f"{src_table}: nothing to clone")
            src_root = self._data_root(src_table)
            dst_root = self._data_root(dst_table)
            rels = list(m["files"])
            for entry in m.get("deletes") or []:
                rels.extend(entry.get("files") or [])
            for rel in sorted(set(rels)):
                src = src_root / rel
                dst = dst_root / rel
                dst.parent.mkdir(parents=True, exist_ok=True)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
            if src_table in self.partitioning:
                self.partitioning[dst_table] = self.partitioning[src_table]
            self._commit(
                dst_table,
                m["files"],
                f"clone[{src_table}@v{m['version']}]",
                deletes=m.get("deletes"),
            )

    def compact(self, table: str) -> None:
        """OPTIMIZE-analogue: rewrite the live snapshot into one commit
        dir so reads plan a single parquet relation. Safe against its own
        input — the rewrite lands in a fresh commit dir, never touching
        the files being read. Older snapshots stay readable until
        ``vacuum``."""
        with self._commit_guard(table):
            df = self.read(table)
            if df is not None:
                self._rewrite(table, df)

    def optimize_zorder(
        self,
        table: str,
        zorder_by: list[str],
        *,
        bits: int = 16,
        num_files: int | None = None,
    ) -> None:
        """Delta ``OPTIMIZE ... ZORDER BY`` analogue: rewrite the live
        snapshot Z-ordered on ``zorder_by`` so row-group min/max stats
        prune point/range predicates on EVERY clustered column (see
        ``sources/layout.py``). Same safety contract as ``compact`` —
        fresh commit dir, older snapshots readable until ``vacuum``; the
        rewrite also materializes any deletion vectors."""
        from clinical_api_etl_spark.sources.layout import zorder_frame

        with self._commit_guard(table):
            df = self.read(table)
            if df is not None:
                self._rewrite(
                    table,
                    zorder_frame(df, zorder_by, bits=bits, num_files=num_files),
                )

    def vacuum(self, table: str, keep_last: int = 1) -> int:
        """Drop manifests older than the newest ``keep_last`` and delete
        data files no retained manifest references. Returns the number of
        files removed. Readers still planning against vacuumed snapshots
        will fail — run with a retention matching reader lifetimes, as
        with Delta's VACUUM."""
        with self._commit_guard(table):
            vs = self.versions(table)
            if not vs:
                return 0
            retained = vs[-keep_last:] if keep_last > 0 else []
            live: set[str] = set()
            for v in retained:
                m = self._load_manifest(table, v)
                live.update(m["files"])
                for entry in m.get("deletes") or []:
                    live.update(entry["files"])
            for v in vs:
                if v not in retained:
                    (self._manifest_dir(table) / f"v{v:08d}.json").unlink()
            root = self._data_root(table)
            removed = 0
            if root.is_dir():
                for p in root.rglob("*.parquet"):
                    if str(p.relative_to(root)) not in live:
                        p.unlink()
                        removed += 1
                for d in sorted(root.iterdir()):
                    if d.is_dir() and not any(d.rglob("*.parquet")):
                        shutil.rmtree(d)
            return removed
