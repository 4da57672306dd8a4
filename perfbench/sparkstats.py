"""Spark engine counters, read from the SparkContext's status stores and from a
streaming query listener. Works with ``spark.ui.enabled=false``: the
status stores are filled by listeners that run whether or not the UI is up.
"""

from __future__ import annotations

import json
import re

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_TIME_METRIC = "time to run Python workers"

_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def _duration_ms(text: str) -> float:
    """First duration in a formatted SQL metric value. Timing metrics of
    several tasks read "total (min, med, max ...)\\n12.4 s (3.1 s, ...)";
    the total is the first duration after the header."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body.replace(",", ""))
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0


class StatusReader:
    """Reads jobs, stages and SQL executions newer than the last read."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._last_job = -1
        self._last_exec = -1

    def drain(self) -> None:
        """Wait until every posted listener event has been processed, so
        the stores and the streaming listener are up to date."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def new_jobs(self) -> list[dict]:
        self.drain()
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] > self._last_job]
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        return jobs

    def new_jobs_and_stages(self) -> tuple[list[dict], list[dict]]:
        jobs = self.new_jobs()
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        default_quantiles = getattr(self._store, "stageList$default$4")()
        stages = [
            s
            for s in self._json(self._store.stageList(None, False, False, default_quantiles, None))
            if s["stageId"] in wanted and s["status"] != "SKIPPED"
        ]
        return jobs, stages

    def new_python_eval_ms(self) -> float:
        """Summed "time to run Python workers" over the SQL executions that
        started since the last call."""
        execs = self._sql.executionsList()
        total = 0.0
        newest = self._last_exec
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            metrics = e.metrics()
            acc_ids = [
                metrics.apply(k).accumulatorId()
                for k in range(metrics.size())
                if metrics.apply(k).name() == PYTHON_TIME_METRIC
            ]
            if not acc_ids:
                continue
            values = self._sql.executionMetrics(eid)
            for acc in acc_ids:
                v = values.get(acc)
                if v.isDefined():
                    total += _duration_ms(v.get())
        self._last_exec = newest
        return total


def stage_totals(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.task_failures": sum(s["numFailedTasks"] for s in stages),
        "spark.input_bytes": sum(s["inputBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
    }


STREAM_KEYS = (
    "streaming.batches",
    "streaming.input_rows",
    "streaming.add_batch_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.state_commit_ms",
)


class ProgressListener(StreamingQueryListener):
    """Sums per-micro-batch durations and state-store figures. State rows
    and memory are taken from each query's last batch, since they are
    totals held at that point, not per-batch work."""

    def __init__(self) -> None:
        self.totals = dict.fromkeys(STREAM_KEYS, 0.0)
        self._last_state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        t = self.totals
        t["streaming.batches"] += 1
        t["streaming.input_rows"] += p.numInputRows
        t["streaming.add_batch_ms"] += d.get("addBatch", 0)
        t["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        t["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
        t["streaming.state_commit_ms"] += sum(s.commitTimeMs for s in p.stateOperators)
        self._last_state[str(p.runId)] = (
            sum(s.numRowsTotal for s in p.stateOperators),
            sum(s.memoryUsedBytes for s in p.stateOperators),
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> dict[str, float]:
        out = dict(self.totals)
        out["streaming.state_rows"] = sum(r for r, _ in self._last_state.values())
        out["streaming.state_memory_bytes"] = sum(m for _, m in self._last_state.values())
        return out
