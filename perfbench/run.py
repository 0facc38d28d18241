"""Clinical-service benchmark: one run of one workload.

    python3 perfbench/run.py --workload clinical_service --seed 1 --seconds 1 --trace 0

Runs one workload (``clinical_service`` or ``llm_operators``; see
``BENCHMARK.json``) in one process on ``local[<cpus>]``, checks every
output against ground truth, and prints one JSON line of named metrics
last. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the package's entry points in spans and
reports the per-layer metrics (the traced run also carries its own
end-to-end figures, so traced minus untraced is the tracing overhead).
The line before it is a report with sample counts, the named service
metrics and the pinned resources.

Everything the run writes goes under ``.perfbench/`` in the working
directory: a per-run directory (Spark local dirs, warehouse, inputs) that
is removed at exit, ``traces/`` with the spans and report, ``pycache/``
with compiled bytecode, ``conf/`` (an empty Spark conf directory) and
``cds/`` with the JVM class-data archive that the first run records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT_ROOT = Path.cwd() / ".perfbench"
# Compiled bytecode goes under the run's output directory, not the package.
sys.pycache_prefix = str(OUT_ROOT / "pycache")
sys.path[:0] = [str(HERE), str(ROOT)]

import clinical_api_etl_spark  # noqa: E402,F401  (fail fast without the package)

#: Set-up passes per run; ``setup_s`` reports their median. Seeding the
#: job history is the one set-up costly enough to run once.
SETUP_REPEATS = {"clinical_service": 1, "llm_operators": 3}
#: Share of physical memory the driver heap may take, and its ceiling.
HEAP_SHARE, HEAP_MAX_MB = 0.25, 3072
#: Class-data-sharing archive of the JVM classes a run loads. The first
#: run in a checkout records it (``cds_option``); with it the JVM maps those
#: classes instead of loading and verifying them, which halves session
#: start and the first call of each code path on a small host.
CDS_ARCHIVE = OUT_ROOT / "cds" / "spark.jsa"
#: Seconds the JVM may take to exit; writing the archive takes a while.
CDS_EXIT_TIMEOUT_S = 600


class Ctx:
    def __init__(self, spark, seed: int, seconds: float, tracer, run_dir: Path) -> None:
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.tracer, self.run_dir = tracer, run_dir


def pin_resources(run_dir: Path, cds_opt: str) -> dict:
    """CPUs from the affinity mask, a heap well below physical memory, and
    every scratch directory under ``run_dir``.

    ``SPARK_CONF_DIR`` is an empty directory: the JVM refuses a class-data
    archive when the classpath holds a directory with files in it, and no
    site configuration leaks into the measured session."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(HEAP_MAX_MB, int(phys_mb * HEAP_SHARE))
    tmp, local, conf = run_dir / "tmp", run_dir / "spark-local", OUT_ROOT / "conf"
    tmp.mkdir(parents=True)
    local.mkdir()
    conf.mkdir(exist_ok=True)
    os.environ.update(
        SPARK_CONF_DIR=str(conf),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(tmp),
    )
    tempfile.tempdir = str(tmp)
    return {
        "cpus": cpus,
        "physical_mb": phys_mb,
        "driver_heap_mb": heap_mb,
        "spark_local_dirs": str(local),
        "warehouse_dir": str(run_dir),
        "cds": cds_opt,
        "extra_conf": {
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {cds_opt}",
            "spark.ui.showConsoleProgress": "false",
        },
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session, then end the driver JVM and wait for it: the JVM
    exits when its stdin closes, and is killed if it has not within
    ``timeout`` seconds."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def workloads() -> dict:
    """Workload name → (set-up, timed run)."""
    import wl_clinical
    import wl_operators

    return {
        "clinical_service": (wl_clinical.setup_service, wl_clinical.run_service),
        "llm_operators": (wl_operators.setup_operators, wl_operators.run_operators),
    }


def cds_option() -> tuple[str, Path | None]:
    """The JVM option for the class-data archive, and the path the JVM
    writes a new archive to at exit (``None`` when the archive exists).

    The first run in a checkout records the classes it loads; later runs
    map them. If recording leaves no archive, a marker keeps later runs
    from recording again and they run without one."""
    if CDS_ARCHIVE.exists():
        return f"-XX:SharedArchiveFile={CDS_ARCHIVE}", None
    if (CDS_ARCHIVE.parent / "FAILED").exists():
        return "", None
    CDS_ARCHIVE.parent.mkdir(parents=True, exist_ok=True)
    part = CDS_ARCHIVE.with_suffix(f".{os.getpid()}.part")
    return f"-XX:ArchiveClassesAtExit={part} -Xlog:cds*=off", part


def finish_archive(part: Path) -> None:
    if part.exists():
        part.rename(CDS_ARCHIVE)
    else:
        print("no class-data archive recorded; later runs go without", file=sys.stderr)
        (CDS_ARCHIVE.parent / "FAILED").touch()


def tail(values: list[float], q: float) -> float | None:
    """The q-quantile, only when at least ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def report_latencies(res: dict) -> dict:
    out = {}
    for kind, vals in res["latency"].items():
        out[f"{kind}_samples"] = len(vals)
        for q in (0.5, 0.9, 0.99):
            v = tail(vals, q)
            if v is not None:
                out[f"{kind}_latency_p{round(q * 100)}_ms"] = round(1000 * v, 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    import layers
    import wl_clinical
    import wl_operators
    from tracing import Tracer

    from clinical_api_etl_spark import session

    setup, run = workloads()[args.workload]
    cds_opt, cds_part = cds_option()
    run_dir = OUT_ROOT / f"run-{os.getpid()}-{time.time_ns()}"
    resources = pin_resources(run_dir, cds_opt)
    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        layers.install(tracer)
    spark = None
    try:
        t = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=resources.pop("extra_conf"))
        start_s = time.perf_counter() - t
        tracer.attach(spark)
        tracer.enabled = False
        ctx = Ctx(spark, args.seed, args.seconds, tracer, run_dir)
        setup_times = []
        for k in range(SETUP_REPEATS[args.workload]):
            if k:
                shutil.rmtree(run_dir / f"setup{k - 1}")
            t = time.perf_counter()
            state = setup(ctx, run_dir / f"setup{k}")
            setup_times.append(time.perf_counter() - t)
        tracer.enabled = bool(args.trace)
        res = run(ctx, state)
        tracer.enabled = False
        rss = jvm_peak_rss_mb(spark)
    finally:
        tracer.unwrap()
        if spark is not None:
            stop_spark(spark, timeout=CDS_EXIT_TIMEOUT_S if cds_part else 60)
        shutil.rmtree(run_dir, ignore_errors=True)
    if cds_part is not None:
        finish_archive(cds_part)

    e2e = {
        "setup_s": start_s + statistics.median(setup_times),
        "job_latency_p50_s": statistics.median(res["job_latency_s"]),
        "cycle_wall_s": statistics.median(res["cycle_s"]),
        "peak_rss_mb": rss,
    }
    named = {
        "job_latency_p50_s": statistics.median(res["job_latency_s"]),
        "ingest_rows_per_s": res.get("ingest_rows_per_s"),
        "stream_rows_per_s": res.get("stream_rows_per_s"),
        "operators_wall_s": res.get("operators_wall_s"),
        "error_rate": res["failed"] / res["attempted"],
        "peak_rss_mb": rss,
        **report_latencies(res),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "resources": resources,
        "session_start_s": start_s,
        "setup_passes_s": setup_times,
        "units": res["units"],
        "per_query_s": res.get("per_query_s"),
        "named": {k: v for k, v in named.items() if v is not None},
        "errors": res["errors"][:20],
    }
    if args.trace:
        metrics = layers.per_layer(tracer, res, wl_operators.QUERIES, wl_clinical.VIEWS)
        metrics.update({f"traced.{k}": v for k, v in e2e.items() if k != "setup_s"})
        wanted = spec["per_layer"]
    else:
        metrics = e2e
        wanted = spec["end_to_end"]
    traces = OUT_ROOT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (traces / f"{stem}.report.json").write_text(json.dumps(report, indent=1, default=str))
    if args.trace:
        tracer.dump(traces / f"{stem}.spans.jsonl")
    result = {
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        sys.exit(1)
