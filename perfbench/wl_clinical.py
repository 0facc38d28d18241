"""The ``clinical_service`` workload.

One client in a closed loop over ``ClinicalAPI`` (``background=True``) on
a warehouse seeded with ``HISTORY_JOBS`` prior jobs. Per upload it submits
and polls status every ``POLL_INTERVAL_S`` until the job ends, then issues
four ``get_data`` slices and reads the six views. Each cycle then drops
new files into the ingest folder and ``run_ingest_stream`` drains them
with ``availableNow`` into the same warehouse.

After the timed part the warehouse is compared with the generator's
ground truth.
"""

from __future__ import annotations

import json
import random
import time
import uuid
from datetime import datetime, timedelta, timezone
from pathlib import Path

from pyspark.sql import functions as F

import gen_clinical as gen
from clinical_api_etl_spark import api as api_mod
from clinical_api_etl_spark.jobs import runner
from clinical_api_etl_spark.jobs.ledger import TERMINAL
from clinical_api_etl_spark.operators import clinical as ops
from clinical_api_etl_spark.plans import views
from clinical_api_etl_spark.sources import sinks
from clinical_api_etl_spark.streaming import ingest

HISTORY_JOBS = 8
HISTORY_ROWS = 400
HISTORY_INVALID_EVERY = 4
JOB_ROWS = 3000
POLL_INTERVAL_S = 1.0
JOB_TIMEOUT_S = 120
SLICE_LIMIT = 1000
VIEW_LIMIT = 1000
VIEWS = (
    "v_study_quality",
    "v_glucose_trend",
    "v_counts_by_site",
    "v_low_quality",
    "v_recent_30d",
    "v_participants_per_study",
)
#: Drop files per cycle, ingested in one micro-batch (a micro-batch costs
#: seconds of fixed overhead, whatever its size).
STREAM_FILES = 2
STREAM_ROWS = 2000
STREAM_FILES_PER_TRIGGER = 2
STREAM_BATCHES = -(-STREAM_FILES // STREAM_FILES_PER_TRIGGER)
SEVERITY = {
    "missing_unit_required": "warn",
    "malformed_blood_pressure": "error",
    "numeric_out_of_range": "warn",
}
LEDGER_DDL = (
    "id string, filename string, status string, message string, progress int, "
    "created_at timestamp, updated_at timestamp, completed_at timestamp"
)


def warehouse_files(root: Path) -> dict[str, int]:
    """Live parquet data files under ``root`` → size in bytes."""
    return {str(p): p.stat().st_size for p in root.rglob("*.parquet") if p.is_file()}


def _write(path: Path, data: bytes) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


# -- ground truth over landed files ------------------------------------------


class Landed:
    """Expected warehouse contents: the sum of every landed file's truth."""

    def __init__(self) -> None:
        self.files: list[gen.FileTruth] = []
        #: Files landed by the batch runner, which alone writes the
        #: participant and study tables.
        self.dims: list[gen.FileTruth] = []

    def add(self, t: gen.FileTruth, *, dims: bool = True) -> None:
        if t.status == "completed":
            self.files.append(t)
            if dims:
                self.dims.append(t)

    def counts(self) -> dict[str, int]:
        return {
            runner.BRONZE_TABLE: sum(t.rows for t in self.files),
            runner.SILVER_TABLE: sum(len(t.silver) for t in self.files),
            runner.GOLD_TABLE: sum(len(t.gold) for t in self.files),
            "participants": sum(len(t.participants) for t in self.dims),
            "studies": len(set().union(*(t.studies for t in self.dims))),
        }

    @staticmethod
    def quality_totals(files) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in files:
            for rule, n in t.quality.items():
                out[rule] = out.get(rule, 0) + n
        return out

    def slice_count(self, study=None, participant=None, mtype=None, start=None, end=None) -> int:
        n = sum(
            1
            for t in self.files
            for s, p, m, ts in t.bronze
            if (study is None or s == study)
            and (participant is None or p == participant)
            and (mtype is None or m == mtype)
            and (start is None or ts >= start)
            and (end is None or ts <= end)
        )
        return min(n, SLICE_LIMIT)

    def view_count(self, view: str, now: datetime) -> int:
        sil = [r for t in self.files for r in t.silver]
        if view == "v_study_quality":
            n = len({r[0] for r in sil})
        elif view == "v_glucose_trend":
            n = len({(r[0], r[1], r[4].date()) for r in sil if r[3] == "glucose" and r[5]})
        elif view == "v_counts_by_site":
            n = len({(r[0], r[2], r[3]) for r in sil})
        elif view == "v_low_quality":
            n = sum(1 for r in sil if r[6] is not None and r[6] < 0.95)
        elif view == "v_recent_30d":
            n = sum(1 for r in sil if r[4] >= now - timedelta(days=30))
        else:
            n = len({s for t in self.dims for s, _ in t.participants})
        return min(n, VIEW_LIMIT)


def check_tables(wh, landed: Landed, errors: list[str]) -> None:
    """Row counts of the clinical tables against the ground truth (a table
    never written counts as empty)."""
    for table, want in landed.counts().items():
        df = wh.read(table)
        got = 0 if df is None else df.count()
        if got != want:
            errors.append(f"{table}: {got} rows, expected {want}")


# -- set-up --------------------------------------------------------------------------


def seed_history(spark, wh, seed: int, work: Path) -> tuple[Landed, int]:
    """Land ``HISTORY_JOBS`` prior jobs with one bulk write per table.

    Returns the landed truth and the number of ledger rows."""
    rng = random.Random(f"{seed}:history")
    hist = work / "history"
    landed = Landed()
    job_of: list[tuple[str, str]] = []
    ledger_rows = []
    for i in range(HISTORY_JOBS):
        kind = gen.kind_of(i, HISTORY_INVALID_EVERY)
        name = f"hist{i:04d}.csv"
        jid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
        data, truth = gen.make_file(seed, name, HISTORY_ROWS, kind)
        at = datetime(2025, 1, 1) + timedelta(hours=i)
        ledger_rows.append((jid, name, truth.status, truth.status, 100, at, at, at))
        if truth.status == "completed":
            _write(hist / name, data)
            job_of.append((name, jid))
            landed.add(truth)
    raw = (
        spark.read.schema(ingest.STREAM_SCHEMA)
        .option("header", True)
        .csv(str(hist))
        .withColumn("_src", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
    )
    raw = raw.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in gen.HEADER], "_src"
    ).withColumn("unit", F.trim("unit"))
    jobs = spark.createDataFrame(job_of, "source_filename string, job_id string")
    staged = ops.stage_bronze(raw, "", F.col("_src"))
    bronze = (
        staged.drop("job_id")
        .join(F.broadcast(jobs), "source_filename")
        .select(*staged.columns)
        .localCheckpoint()
    )
    silver = ops.build_silver(bronze)
    gold = (
        silver.filter(F.col("value_num").isNotNull())
        .groupBy(*ops.GOLD_KEY, "job_id")
        .agg(
            F.count("value_num").alias("cnt"),
            F.avg(F.col("value_num").cast("double")).alias("avg_num"),
            F.min(F.col("value_num").cast("double")).alias("min_num"),
            F.max(F.col("value_num").cast("double")).alias("max_num"),
        )
        .select(*ops.GOLD_KEY, "cnt", "avg_num", "min_num", "max_num", "job_id")
    )
    quality = [
        (jid, rule, SEVERITY[rule], n)
        for (_, jid), t in zip(job_of, landed.files)
        for rule, n in t.quality.items()
    ]
    wh.append(runner.BRONZE_TABLE, bronze)
    wh.append(runner.SILVER_TABLE, silver.dropDuplicates(list(ops.SILVER_KEY)))
    wh.append(runner.GOLD_TABLE, gold)
    wh.append(
        runner.QUALITY_TABLE,
        spark.createDataFrame(
            quality, "job_id string, rule_name string, severity string, affected_rows long"
        ),
    )
    wh.upsert("participants", ops.extract_participants(bronze), ["study_id", "participant_id"])
    wh.append_if_absent("studies", ops.extract_studies(bronze), ["study_id"])
    wh.upsert("etl_jobs", spark.createDataFrame(ledger_rows, LEDGER_DDL), ["id"])
    bronze.unpersist()
    return landed, len(ledger_rows)


def _drop_files(seed: int, drop: Path, cycle: int) -> list[gen.FileTruth]:
    out = []
    for k in range(STREAM_FILES):
        data, truth = gen.make_file(seed, f"drop{cycle:03d}-{k}.csv", STREAM_ROWS)
        _write(drop / truth.name, data)
        out.append(truth)
    return out


class Tally:
    """Operations attempted, operations failed, and why."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def record(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(msg)


def _await_job(api, name: str, tally: Tally, status_lat: list[float]):
    """Submit ``name`` and poll until a terminal status.

    Returns (job id, terminal status or None on timeout, seconds)."""
    t_sub = time.perf_counter()
    out = api.submit_job(name)
    tally.record(out["success"], f"submit {name}: {out['message']}")
    if not out["success"]:
        return None, None, 0.0
    jid = out["data"]["jobId"]
    while time.perf_counter() - t_sub < JOB_TIMEOUT_S:
        time.sleep(POLL_INTERVAL_S)
        t = time.perf_counter()
        st = api.get_job_status(jid)
        status_lat.append(time.perf_counter() - t)
        tally.record(st["success"], f"status {jid}: {st['message']}")
        if st["success"] and st["data"]["status"] in TERMINAL:
            return jid, st["data"]["status"], time.perf_counter() - t_sub
    return jid, None, time.perf_counter() - t_sub


def _read_burst(ctx, api, wh, landed: Landed, probe, tally: Tally, lat: dict) -> float:
    """Four ``get_data`` slices and the six views; returns seconds spent."""
    study, participant, start = probe
    end = start + timedelta(days=1)
    fmt = "%Y-%m-%d %H:%M:%S"
    slices = [
        ({"study_id": study}, {"study": study}),
        ({"participant_id": participant}, {"participant": participant}),
        (
            {"measurement_type": "glucose", "start_date": start.strftime(fmt),
             "end_date": end.strftime(fmt)},
            {"mtype": "glucose", "start": start, "end": end},
        ),
        ({}, {}),
    ]
    spent = 0.0
    for args, expect in slices:
        t = time.perf_counter()
        got = api.get_data(limit=SLICE_LIMIT, **args)
        dt = time.perf_counter() - t
        lat["slice"].append(dt)
        spent += dt
        want = landed.slice_count(**expect)
        n = len(got["data"] or [])
        tally.record(got["success"] and n == want, f"slice {args}: {n} rows, expected {want}")
    t = time.perf_counter()
    views.register_views(wh)
    spent += time.perf_counter() - t
    now = datetime.now(timezone.utc)
    for v in VIEWS:
        with ctx.tracer.span(f"views.{v}", "plans.views"):
            t = time.perf_counter()
            n = len(ctx.spark.sql(f"SELECT * FROM {v} LIMIT {VIEW_LIMIT}").collect())
            dt = time.perf_counter() - t
        lat["view"].append(dt)
        spent += dt
        want = landed.view_count(v, now)
        tally.record(n == want, f"view {v}: {n} rows, expected {want}")
    return spent


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def setup_service(ctx, work: Path) -> dict:
    wh = sinks.clinical_warehouse(ctx.spark, str(work / "wh"))
    landed, ledger_rows = seed_history(ctx.spark, wh, ctx.seed, work)
    uploads = work / "uploads"
    uploads.mkdir(parents=True, exist_ok=True)
    return {
        "wh": wh, "landed": landed, "ledger_rows": ledger_rows, "uploads": uploads,
        "api": api_mod.ClinicalAPI(ctx.spark, wh, str(uploads), background=True),
        "drop": work / "drop", "checkpoint": work / "checkpoint",
        "tally": Tally(), "jobs": [], "stream_files": [], "batches": [], "stream_s": [],
        "stream_jobs": 0,
    }


def upload_cycle(ctx, state: dict, lat: dict, written: dict) -> float:
    """One API upload awaited by polling, then four slices and the six
    views of its rows; returns the seconds the client waited."""
    wh, api, landed, tally, tracer = state["wh"], state["api"], state["landed"], state["tally"], ctx.tracer
    name = f"up{len(state['jobs']):04d}.csv"
    data, truth = gen.make_file(ctx.seed, name, JOB_ROWS)
    _write(state["uploads"] / name, data)
    before = warehouse_files(wh.root) if tracer.enabled else None
    with tracer.span("client.job", "client") as root:
        tracer.ambient = root
        jid, status, job_s = _await_job(api, name, tally, lat["status"])
    tracer.ambient = None
    if root is not None:
        root.name = f"client.job.{status}"  # per-job layer figures use completed jobs
    if status != "completed":
        raise RuntimeError(f"upload {name} ended {status}: {tally.errors[-3:]}")
    state["jobs"].append((jid, truth))
    landed.add(truth)
    lat["job"].append(job_s)
    if before is not None:
        after = warehouse_files(wh.root)
        new = [p for p in after if p not in before]
        written["files"] += len(new)
        written["bytes"] += sum(after[p] for p in new)
        written["input_bytes"] += len(data)
    return job_s + _read_burst(ctx, api, wh, landed, truth.probe, tally, lat)


def stream_cycle(ctx, state: dict) -> float:
    """Drop ``STREAM_FILES`` new files and drain them with ``availableNow``;
    returns the seconds the stream ran."""
    new_files = _drop_files(ctx.seed, state["drop"], len(state["stream_s"]))
    with ctx.tracer.span("client.stream", "client"):
        t = time.perf_counter()
        q = ingest.run_ingest_stream(
            ctx.spark, state["wh"], str(state["drop"]), str(state["checkpoint"]),
            max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
        )
        state["stream_s"].append(time.perf_counter() - t)
    prog = [b for b in _progress(q) if b["numInputRows"] > 0]
    state["tally"].record(len(prog) == STREAM_BATCHES, f"stream: {len(prog)} batches")
    state["batches"].extend(prog)
    tr = ctx.spark.sparkContext.statusTracker()
    state["stream_jobs"] += len(tr.getJobIdsForGroup(str(q.runId)))
    for t in new_files:
        state["landed"].add(t, dims=False)
    state["stream_files"].extend(new_files)
    return state["stream_s"][-1]


def check_service(state: dict, errors: list[str]) -> None:
    """Tables, quality reports and ledger rows against the ground truth."""
    wh, jobs, batches, files = state["wh"], state["jobs"], state["batches"], state["stream_files"]
    check_tables(wh, state["landed"], errors)
    got_quality: dict[tuple[str, str], int] = {}
    for r in wh.read(runner.QUALITY_TABLE).collect():
        got_quality[r["job_id"], r["rule_name"]] = r["affected_rows"]
    ledger = {r["id"]: r["status"] for r in wh.read("etl_jobs").collect()}
    for jid, truth in jobs:
        want = {(jid, k): v for k, v in truth.quality.items()}
        got = {k: v for k, v in got_quality.items() if k[0] == jid}
        if got != want:
            errors.append(f"quality {truth.name}: {got}, expected {want}")
        if ledger.get(jid) != truth.status:
            errors.append(f"ledger {truth.name}: {ledger.get(jid)}, expected {truth.status}")
    stream_quality: dict[str, int] = {}
    for (jid, rule), n in got_quality.items():
        if jid.startswith("stream-"):
            stream_quality[rule] = stream_quality.get(rule, 0) + n
    if stream_quality != Landed.quality_totals(files):
        errors.append(f"stream quality {stream_quality}, expected {Landed.quality_totals(files)}")
    stream_done = sum(1 for k, v in ledger.items() if k.startswith("stream-") and v == "completed")
    if stream_done != len(batches):
        errors.append(f"ledger: {stream_done} completed batch jobs, expected {len(batches)}")
    want_rows = state["ledger_rows"] + len(jobs) + len(batches)
    if len(ledger) != want_rows:
        errors.append(f"ledger: {len(ledger)} rows, expected {want_rows}")


def run_service(ctx, state: dict) -> dict:
    """Service cycles until ``ctx.seconds`` have passed (at least one):
    an upload with its reads, then the stream drains new drop files."""
    lat = {"job": [], "status": [], "slice": [], "view": []}
    written = {"files": 0, "bytes": 0, "input_bytes": 0}
    cycles = []
    deadline = time.perf_counter() + ctx.seconds
    while not cycles or time.perf_counter() < deadline:
        # The client's own Spark jobs (polls, reads) get a group of their
        # own, apart from the background job thread's and the stream's.
        ctx.spark.sparkContext.setJobGroup("client", "benchmark client")
        cycle_s = upload_cycle(ctx, state, lat, written)
        ctx.spark.sparkContext.setJobGroup(None, None)
        cycles.append(cycle_s + stream_cycle(ctx, state))

    tally, batches, files = state["tally"], state["batches"], state["stream_files"]
    check_service(state, tally.errors)
    rows = sum(t.rows for t in files)
    lat["batch"] = [b["durationMs"]["triggerExecution"] / 1000 for b in batches]
    return {
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
        "units": len(lat["job"]),
        "latency": lat,
        "job_latency_s": lat["job"],
        "cycle_s": cycles,
        "ingest_rows_per_s": len(lat["job"]) * JOB_ROWS / sum(lat["job"]),
        "stream_rows_per_s": rows / sum(state["stream_s"]),
        "source_scans_per_batch": sum(b["numInputRows"] for b in batches) / rows,
        "spark_jobs_per_batch": state["stream_jobs"] / len(batches),
        "add_batch_share": sum(b["durationMs"]["addBatch"] for b in batches)
        / sum(b["durationMs"]["triggerExecution"] for b in batches),
        "written": written,
        "live_files": len(warehouse_files(state["wh"].root)),
    }
