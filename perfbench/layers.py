"""Which package entry points the traced run wraps, and the per-layer
metrics computed from the spans.

Layers are the package modules; each wrapped entry point is rebound on
its module or class for the traced run only. Every per-layer metric is
printed on every workload (0 where the layer does not run). Which
end-to-end metric each should move, and where:

=====================================  ======================================
per-layer metrics                      end-to-end metric (workload)
=====================================  ======================================
ledger.{submit,mark,fetch}_ms,         job_latency_p50_s, cycle_wall_s and
ledger.calls_per_job (9 per API job),  the report's status latency
ledger.spark_jobs_per_job,             (clinical_service)
ledger.share_of_job
sinks.{append_if_absent,upsert,        job_latency_p50_s, cycle_wall_s and
merge_aggregations,read}_ms,           the report's ingest rates
sinks.spark_jobs_per_call              (clinical_service)
sinks.bytes_written_per_input_byte,    cycle_wall_s; slice and view latency
sinks.files_written_per_job,           as small files pile up
sinks.live_files                       (clinical_service)
clinical_csv.read_ms,                  job_latency_p50_s (clinical_service)
clinical.validate_ms
stream.batch_ms, .add_batch_share,     cycle_wall_s and the report's
.source_scans_per_batch,               stream_rows_per_s (clinical_service);
.spark_jobs_per_batch                  not job_latency_p50_s, which times
                                       API uploads only
views.register_ms, views.<view>_ms,   cycle_wall_s and the report's slice
api.get_data_ms                        and view latency (clinical_service)
op.<query>_s, op.<query>.spark_jobs    job_latency_p50_s, cycle_wall_s
                                       (llm_operators); none on
                                       clinical_service
session.start_s                        setup_s (both)
=====================================  ======================================

``setup_s`` and ``cycle_wall_s`` are the bounded end-to-end metrics;
``job_latency_p50_s`` (one API upload, or the median query) is printed in
the report line and, traced, as ``traced.job_latency_p50_s``.

``<layer>.self_s``, ``.calls`` and ``.spark_jobs`` total each layer's self
time, calls and Spark jobs over the traced run; ``trace.own_ms_per_unit``
is the tracer's own bookkeeping and ``traced.*`` repeat the end-to-end
metrics with tracing on, so traced minus untraced is the overhead.
"""

from __future__ import annotations

import statistics

from clinical_api_etl_spark import api, session
from clinical_api_etl_spark.jobs import ledger, runner
from clinical_api_etl_spark.plans import views
from clinical_api_etl_spark.sources import sinks
from clinical_api_etl_spark.streaming import ingest

LAYERS = (
    "session",
    "api",
    "jobs.runner",
    "jobs.ledger",
    "sources.clinical_csv",
    "operators.clinical",
    "sources.sinks",
    "plans.views",
    "streaming.ingest",
    "plans.registry",
)
CLINICAL_OPS = ("validate_quality_scores", "stage_bronze", "build_silver", "build_gold", "quality_counts")
SINK_CALLS = ("append_if_absent", "upsert", "merge_aggregations", "read", "append")


def install(tracer) -> None:
    """Wrap every traced entry point (the registry queries and the views are
    wrapped where the workloads call them)."""
    w = tracer.wrap
    w(session, "get_spark", "session.start", "session")
    for m in ("submit_job", "get_job_status", "get_data"):
        w(api.ClinicalAPI, m, f"api.{m}", "api")
    w(api, "process_job", "runner.process_job", "jobs.runner")
    for m in ("submit", "mark", "fetch"):
        w(ledger.JobLedger, m, f"ledger.{m}", "jobs.ledger")
    w(runner, "read_clinical_csv", "clinical_csv.read", "sources.clinical_csv")
    for mod in (runner, ingest):
        for f in CLINICAL_OPS:
            w(mod, f, f"clinical.{f}", "operators.clinical")
    for f in ("extract_studies", "extract_participants"):
        w(runner, f, f"clinical.{f}", "operators.clinical")
    for m in SINK_CALLS:
        w(sinks.ParquetWarehouse, m, f"sinks.{m}", "sources.sinks")
    w(views, "register_views", "views.register", "plans.views")
    w(api, "query_measurements", "views.query_measurements", "plans.views")
    w(ingest, "run_ingest_stream", "stream.run_ingest_stream", "streaming.ingest", ambient=True)


def _median_ms(spans) -> float:
    return 1000 * statistics.median(s.end - s.start for s in spans) if spans else 0.0


def per_layer(tracer, res: dict, queries: tuple[str, ...], views_: tuple[str, ...]) -> dict[str, float]:
    units = max(1, res["units"])
    spans = tracer.spans
    by = tracer.by_name
    m: dict[str, float] = {}

    # Per-job ledger figures count completed API uploads only: an upload
    # that must fail stops after four ledger writes, and stream batches
    # write the ledger twice each.
    done = {s.id: s for s in spans if s.name == "client.job.completed"}
    done_s = sum(s.end - s.start for s in done.values())
    ledger_writes = [
        s for s in by("ledger.submit") + by("ledger.mark") if tracer.root_of(s).id in done
    ]
    m["ledger.submit_ms"] = _median_ms(by("ledger.submit"))
    m["ledger.mark_ms"] = _median_ms(by("ledger.mark"))
    m["ledger.fetch_ms"] = _median_ms(by("ledger.fetch"))
    m["ledger.calls_per_job"] = len(ledger_writes) / units
    m["ledger.spark_jobs_per_job"] = sum(s.spark_jobs for s in ledger_writes) / units
    m["ledger.share_of_job"] = (
        sum(s.end - s.start for s in ledger_writes) / done_s if done_s else 0.0
    )

    for c in ("append_if_absent", "upsert", "merge_aggregations", "read"):
        m[f"sinks.{c}_ms"] = _median_ms(by(f"sinks.{c}"))
    outer = [
        s for s in spans
        if s.layer == "sources.sinks"
        and (s.parent is None or spans[s.parent].layer != "sources.sinks")
    ]
    m["sinks.spark_jobs_per_call"] = (
        sum(s.spark_jobs for s in outer) / len(outer) if outer else 0.0
    )
    written = res.get("written")
    m["sinks.bytes_written_per_input_byte"] = (
        written["bytes"] / written["input_bytes"] if written and written["input_bytes"] else 0.0
    )
    m["sinks.files_written_per_job"] = written["files"] / units if written else 0.0
    m["sinks.live_files"] = res.get("live_files", 0)

    m["clinical_csv.read_ms"] = _median_ms(by("clinical_csv.read"))
    m["clinical.validate_ms"] = _median_ms(by("clinical.validate_quality_scores"))

    batches = res.get("latency", {}).get("batch", [])
    m["stream.batch_ms"] = 1000 * statistics.median(batches) if batches else 0.0
    m["stream.add_batch_share"] = res.get("add_batch_share", 0.0)
    m["stream.source_scans_per_batch"] = res.get("source_scans_per_batch", 0.0)
    m["stream.spark_jobs_per_batch"] = res.get("spark_jobs_per_batch", 0.0)

    m["views.register_ms"] = _median_ms(by("views.register"))
    for v in views_:
        m[f"views.{v}_ms"] = _median_ms(by(f"views.{v}"))
    m["api.get_data_ms"] = _median_ms(by("api.get_data"))

    for q in queries:
        qs = by(f"op.{q}")
        m[f"op.{q}_s"] = _median_ms(qs) / 1000
        m[f"op.{q}.spark_jobs"] = statistics.median(s.spark_jobs for s in qs) if qs else 0

    start = by("session.start")
    m["session.start_s"] = start[0].end - start[0].start if start else 0.0
    totals = tracer.layer_totals()
    for layer in LAYERS:
        t = totals.get(layer, {"self_s": 0.0, "calls": 0, "spark_jobs": 0})
        m[f"{layer}.self_s"] = t["self_s"]
        m[f"{layer}.calls"] = t["calls"]
        m[f"{layer}.spark_jobs"] = t["spark_jobs"]
    m["trace.units"] = res["units"]
    m["trace.spans"] = len(spans)
    m["trace.own_ms_per_unit"] = 1000 * tracer.own_s / units
    return m
