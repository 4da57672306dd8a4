"""Fast self-test of the benchmark.

    python3 -m pytest perfbench/selftest.py -q

Runs every workload of BENCHMARK.json for one pass on a tiny generated
fixture (sf0.001), untraced and traced, and checks that each declared
metric is emitted with its unit, that outputs match the oracle, and that
the traced run's spans nest. The wrapper tests need no Spark session.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import spans  # noqa: E402
from sparkstats import _duration_ms  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 3

# parent span name -> names its children may have
NESTING = {
    "workload": {"pass"},
    "pass": {"query"},
    "query": {"build", "sink"},
}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_emits_end_to_end_metrics(workload):
    _check_metrics(_run(workload, 0), SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_emits_layers_and_nested_spans(workload):
    _check_metrics(_run(workload, 1), SPEC["per_layer"])
    dump = json.loads((ROOT / ".perfbench" / "results" / f"{workload}-seed{SEED}-spans.json").read_text())
    by_id = {s["id"]: s for s in dump["spans"]}
    assert by_id, "traced run recorded no spans"
    for s in dump["spans"]:
        assert s["start"] <= s["end"]
        if s["parent"] is None:
            assert s["name"] == "workload"
            continue
        parent = by_id[s["parent"]]
        assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
        allowed = NESTING.get(parent["name"])
        if allowed is not None:
            assert s["name"] in allowed, (parent["name"], s["name"])
        else:
            # layer calls sit under build or sink, or under another layer call
            assert parent["name"] not in {"workload", "pass", "query"}
        # every span inside a query execution carries that execution's id
        if parent["exec"] is not None:
            assert s["exec"] == parent["exec"]
        elif s["name"] == "query":
            assert s["exec"]
    names = {s["name"] for s in dump["spans"]}
    assert {"workload", "pass", "query", "build", "sink"} <= names


def test_wrappers_rebind_every_importer_and_restore():
    sys.path.insert(0, str(ROOT))
    import semantic_cpp_spark  # noqa: F401  (loads the modules that import with_ordinal)
    from pyspark.sql.classic.dataframe import DataFrame
    from semantic_cpp_spark import frame, indexing
    from semantic_cpp_spark.sources import factories

    original = indexing.with_ordinal
    persist = DataFrame.__dict__["persist"]
    tracer = spans.Tracer()
    with spans.Instrumentation(tracer):
        for mod in (indexing, frame, factories, semantic_cpp_spark):
            assert mod.with_ordinal is not original
            assert mod.with_ordinal.__wrapped__ is original
        assert DataFrame.__dict__["persist"] is not persist
    for mod in (indexing, frame, factories, semantic_cpp_spark):
        assert mod.with_ordinal is original
    assert DataFrame.__dict__["persist"] is persist


def test_materialize_wrapper_forwards_arguments():
    calls = []

    def local_checkpoint(self, eager=True, storageLevel=None):
        calls.append((eager, storageLevel))
        return self

    tracer = spans.Tracer()
    wrapped = spans._materialize_wrapper(tracer, "localCheckpoint", local_checkpoint)
    wrapped(object(), False, storageLevel="DISK")
    assert calls == [(False, "DISK")]
    assert tracer.counts["materialize.calls"] == 1


def test_jobs_attributed_by_submission_time():
    tracer = spans.Tracer()
    with tracer.span("workload"):
        with tracer.span("query", exec_id="0:q"):
            with tracer.span("build") as build:
                pass
    build["start"], build["end"] = 10.0, 20.0
    for s in tracer.spans[:2]:
        s["start"], s["end"] = 0.0, 30.0
    chains = spans.attribute_jobs(
        tracer.spans, [{"jobId": 1, "submissionTime": 15_000}, {"jobId": 2, "submissionTime": 25_000}]
    )
    assert chains[1] == {"workload", "query", "build"}
    assert chains[2] == {"workload", "query"}
    assert spans.self_times(tracer.spans)["query"] == pytest.approx(20.0)


def test_sql_duration_parsing():
    assert _duration_ms("12.4 s") == pytest.approx(12400)
    assert _duration_ms("total (min, med, max (stageId: taskId))\n1.5 m (3 ms, 5 ms, 9 ms)") == 90000
    assert _duration_ms("total (min, med, max)\n812 ms (1 ms, 2 ms, 3 ms)") == 812
