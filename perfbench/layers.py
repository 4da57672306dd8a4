"""Per-layer metrics of a traced pass, measured from outside the engine."""

from __future__ import annotations

import statistics

from sparkstats import ProgressListener, stage_totals
from spans import (
    LAYER_FUNCTIONS,
    Instrumentation,
    Tracer,
    attribute_jobs,
    outermost_time,
    self_times,
)

# layers whose calls, inclusive time and jobs are reported
TIMED_LAYERS = [layer for _, _, layer in LAYER_FUNCTIONS] + ["materialize"]


def traced_pass(bench) -> dict:
    """One traced pass of ``bench``: wrappers and the streaming listener are
    installed only for its duration. Returns the per-layer metrics and the
    span dump."""
    spark, status, cores = bench.spark, bench.status, bench.nproc
    tracer = Tracer()
    listener = ProgressListener()
    status.new_jobs_and_stages()  # skip jobs of earlier passes
    status.new_python_eval_ms()
    spark.streams.addListener(listener)
    try:
        with Instrumentation(tracer):
            with tracer.span("workload"):
                rec = bench.run_pass(tracer)
    finally:
        status.drain()  # deliver pending progress events first
        spark.streams.removeListener(listener)
    jobs, stages = status.new_jobs_and_stages()
    python_ms = status.new_python_eval_ms()
    spans = tracer.spans
    chains = attribute_jobs(spans, jobs)

    def jobs_in(name: str) -> int:
        return sum(1 for names in chains.values() if name in names)

    m: dict[str, float] = {
        "registry.build_s": rec["build_s"],
        "registry.build_jobs": jobs_in("build"),
        "sink.exec_s": rec["sink_s"],
        "sink.jobs": jobs_in("sink"),
    }
    for layer in TIMED_LAYERS:
        m[f"{layer}.calls"] = tracer.counts.get(f"{layer}.calls", 0)
        m[f"{layer}.s"] = outermost_time(spans, layer)
        m[f"{layer}.jobs"] = jobs_in(layer)
    m.update(stage_totals(jobs, stages))
    m["spark.cpu_busy_ratio"] = m["spark.executor_cpu_s"] / (rec["pass_s"] * cores)
    m["sql.python_eval_ms"] = python_ms
    m.update(listener.snapshot())
    m["trace.pass_s"] = rec["pass_s"]
    m["trace.build_sink_share"] = (rec["build_s"] + rec["sink_s"]) / rec["pass_s"]
    m["trace.spans"] = len(spans)
    dump = {
        "spans": spans,
        "jobs": [
            {
                "jobId": j["jobId"],
                "submissionTime": j.get("submissionTime"),
                "spans": sorted(chains.get(j["jobId"], ())),
            }
            for j in jobs
        ],
        "self_s": self_times(spans),
        "counts": tracer.counts,
    }
    return {"metrics": m, "dump": dump}


def report(traced: dict, plain: list[dict]) -> dict:
    """Per-layer metrics with units; the tracing overhead is the traced
    pass time minus the mean of the untraced passes around it."""
    m = dict(traced["metrics"])
    m["trace.overhead_s"] = m["trace.pass_s"] - statistics.mean(p["pass_s"] for p in plain)
    return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_share"):
        return "ratio"
    return "count"

