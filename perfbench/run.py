"""Seeded end-to-end benchmark of the semantic_cpp_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``perfbench/workloads.py`` in one process, on one
``get_spark()`` session at ``local[nproc]``:

1. set-up: generate the fixtures from ``--seed`` with
   ``scripts/gen_fixtures.generate`` (three times, median kept), start the
   session, then two warm-up passes: one collects every query and checks it
   against its DuckDB oracle (the DuckDB compare is not part of set-up), the
   other is run like a timed pass;
2. timed passes filling ``--seconds`` at the nominal pass length, each
   building every query with ``fn(spark, sf_dir)`` and writing it to the
   ``noop`` sink.

The end-to-end metrics are Spark work counts per pass and the CPU seconds
of set-up; per-pass wall time, CPU time and memory are per-layer metrics
and go to the record.

With ``--trace 0`` no wrapper is installed and the end-to-end metrics are
reported. With ``--trace 1`` a traced pass, recording spans and per-layer
counters, runs between two untraced ones, and the per-layer metrics and the
tracing overhead are reported. The last line of standard output is
one JSON object; a full record (environment, per-query times, failures,
oracle results and, when traced, the span dump) is written under
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext, redirect_stdout
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import procstat  # noqa: E402
from workloads import PASS_S, WORKLOADS  # noqa: E402

REQUIRED_SOURCES = (
    "semantic_cpp_spark/__init__.py",
    "scripts/gen_fixtures.py",
    "scripts/verify_local.py",
)
FIXTURE_REPEATS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "semantic_cpp_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.sf = args.sf if args.sf is not None else self.wl.sf
        self.sf_dir = str(work / f"sf{self.sf}")
        self.spark = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.passes_run = 0
        self.query_samples: dict[str, list[float]] = {q: [] for q in self.wl.queries}

    # ---- set-up -------------------------------------------------------

    def _environment(self) -> None:
        nproc = len(os.sched_getaffinity(0))
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
        # Python workers are started by the JVM and must import the engine
        # from this checkout whatever the working directory is.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        self.nproc = nproc

    def setup(self) -> dict:
        self._environment()
        sys.path.insert(0, str(ROOT))
        sys.path.insert(0, str(ROOT / "scripts"))
        import gen_fixtures

        cpu = procstat.tree_cpu_s
        gen, gen_cpu = [], []
        for _ in range(FIXTURE_REPEATS):
            shutil.rmtree(self.sf_dir, ignore_errors=True)
            t0, c0 = time.perf_counter(), cpu()
            with redirect_stdout(sys.stderr):
                gen_fixtures.generate(self.sf_dir, self.sf, self.args.seed)
            gen.append(time.perf_counter() - t0)
            gen_cpu.append(cpu() - c0)

        t0, c0 = time.perf_counter(), cpu()
        from semantic_cpp_spark import registry
        from semantic_cpp_spark.indexing import release_ordinal_caches
        from semantic_cpp_spark.session import get_spark

        tmp = self.work / "tmp"
        self.spark = get_spark(
            f"perfbench-{self.wl.name}",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
        )
        start_s, start_cpu = time.perf_counter() - t0, cpu() - c0
        from sparkstats import StatusReader

        self.status = StatusReader(self.spark)
        self.release = release_ordinal_caches
        all_queries = registry.queries()
        self.fns = {q: all_queries[q] for q in self.wl.queries}
        self.oracle_sql = registry.oracle_sql()

        c0 = cpu()
        warmup_s, oracle_cpu, oracle = self._oracle_pass()
        # the first noop pass still takes about 40% more CPU than the next
        # (JIT), so it is part of the warm-up too
        warmup_s += self.run_pass()["pass_s"]
        return {
            "session.start_s": start_s,
            "session.start_cpu_s": start_cpu,
            "fixtures.gen_s": _median(gen),
            "fixtures.gen_cpu_s": _median(gen_cpu),
            "warmup_s": warmup_s,
            "warmup_cpu_s": cpu() - c0 - oracle_cpu,
            "oracle": oracle,
        }

    def _oracle_pass(self) -> tuple[float, float, dict]:
        """The warm-up pass: collect each query and compare it with its
        DuckDB oracle. Returns the Spark wall time, the CPU time of the
        oracle comparisons and the per-query verdicts."""
        from oracle import Oracle

        checker = Oracle(ROOT, self.sf_dir)
        verdicts: dict[str, str] = {}
        oracle_cpu = 0.0
        self.warmup_query_s: dict[str, float] = {}
        try:
            for name in self.wl.queries:
                self.release()
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    df = self.fns[name](self.spark, self.sf_dir)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                except Exception as ex:  # a failing query is counted, not fatal
                    self._fail(name, "warmup", ex)
                    verdicts[name] = "spark error"
                    continue
                finally:
                    self.warmup_query_s[name] = time.perf_counter() - t0
                if name not in self.oracle_sql:
                    verdicts[name] = "no oracle"
                    continue
                c0 = procstat.tree_cpu_s()
                try:
                    why = checker.mismatch(self.oracle_sql[name], cols, rows)
                except Exception as ex:
                    why = f"oracle error: {type(ex).__name__}: {ex}"
                oracle_cpu += procstat.tree_cpu_s() - c0
                verdicts[name] = why or "match"
        finally:
            checker.close()
        return sum(self.warmup_query_s.values()), oracle_cpu, verdicts

    def _fail(self, name: str, where, ex: BaseException) -> None:
        self.failures.append(
            {
                "query": name,
                "pass": where,
                "error": f"{type(ex).__name__}: {ex}"[:2000],
                "traceback": traceback.format_exc()[-4000:],
            }
        )

    # ---- timed passes ---------------------------------------------------

    def run_pass(self, tracer=None) -> dict:
        index = self.passes_run
        self.passes_run += 1
        span = tracer.span if tracer is not None else (lambda *a, **k: nullcontext())
        spark = self.spark
        rec = {"build_s": 0.0, "sink_s": 0.0, "queries": {}}
        cpu0 = procstat.tree_cpu_s()
        t_pass = time.perf_counter()
        with span("pass"):
            for name in self.wl.queries:
                self.release()
                self.attempted += 1
                with span("query", exec_id=f"{index}:{name}"):
                    t0 = time.perf_counter()
                    try:
                        with span("build"):
                            df = self.fns[name](spark, self.sf_dir)
                        t1 = time.perf_counter()
                        with span("sink"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    except Exception as ex:  # counted in failed, run continues
                        self._fail(name, index, ex)
                        continue
                rec["queries"][name] = t2 - t0
                rec["build_s"] += t1 - t0
                rec["sink_s"] += t2 - t1
        rec["pass_s"] = time.perf_counter() - t_pass
        rec["cpu_s"] = procstat.tree_cpu_s() - cpu0
        if tracer is None:
            jobs, stages = self.status.new_jobs_and_stages()
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            rec["shuffle_bytes"] = sum(st["shuffleWriteBytes"] for st in stages)
        return rec

    def timed(self) -> tuple[list[dict], dict | None]:
        """Untraced passes filling ``--seconds`` at the nominal pass length,
        at least one. A traced run instead runs a traced pass
        between two untraced ones, so that the JIT warming from pass to
        pass cancels out of the tracing overhead."""
        plain: list[dict] = []

        def untraced() -> dict:
            rec = self.run_pass()
            plain.append(rec)
            for q, t in rec["queries"].items():
                self.query_samples[q].append(t)
            return rec

        self.status.new_jobs()  # count only the jobs of timed passes
        if self.args.trace:
            from layers import traced_pass

            untraced()
            traced = traced_pass(self)
            untraced()
            return plain, traced
        for _ in range(max(1, round(self.args.seconds / PASS_S))):
            untraced()
        return plain, None

    def close(self) -> None:
        """Stop the session, then wait until the JVM and every process it
        started (the Python worker daemon and its workers) have exited."""
        if self.spark is None:
            return
        children = procstat.descendants()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
        procstat.wait_gone(children, timeout=60)
        if proc is not None:
            proc.wait()
        self.spark = None


def _environment_record(bench: Bench, cpu_before, cpu_after) -> dict:
    spark = bench.spark
    return {
        "workload": bench.wl.name,
        "seed": bench.args.seed,
        "seconds": bench.args.seconds,
        "trace": bench.args.trace,
        "sf": bench.sf,
        "nproc": bench.nproc,
        "git_commit": _git_commit(),
        "engine_sha256": _source_digest(),
        "python": sys.version.split()[0],
        "pyspark": __import__("pyspark").__version__,
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": spark.conf.get("spark.driver.memory", None),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "cpu_steal_fraction": procstat.steal_fraction(cpu_before, cpu_after),
    }


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    results = ROOT / ".perfbench" / "results"
    work = ROOT / ".perfbench" / "work" / f"{wl.name}-{args.seed}-{args.trace}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    results.mkdir(parents=True, exist_ok=True)
    cpu_before = procstat.cpu_times()
    bench = Bench(args, work)
    try:
        setup = bench.setup()
        # CPU seconds, which CPU steal does not inflate; the DuckDB compare
        # inside the warm-up is not part of set-up
        setup_s = (
            setup["session.start_cpu_s"] + setup["fixtures.gen_cpu_s"] + setup["warmup_cpu_s"]
        )
        plain, traced = bench.timed()
        jvm = procstat.jvm_pid()
        peak_mb = procstat.vm_hwm_mb(os.getpid()) + (procstat.vm_hwm_mb(jvm) if jvm else 0.0)
        env = _environment_record(bench, cpu_before, procstat.cpu_times())
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)

    mismatches = sum(1 for v in setup["oracle"].values() if v not in ("match", "no oracle"))
    checked = len(setup["oracle"])
    # Per-pass times and memory are per-layer metrics, not end-to-end ones:
    # on a shared 4-CPU host they varied by 9-35% (quartile distance over
    # median) between runs of the same code, more than any allowed bound.
    e2e = {
        "jobs": _metric(_median([p["jobs"] for p in plain]), "count"),
        "stages": _metric(_median([p["stages"] for p in plain]), "count"),
        "shuffle_bytes": _metric(_median([p["shuffle_bytes"] for p in plain]), "bytes"),
        "setup_s": _metric(setup_s, "s"),
    }
    failed = len(bench.failures)
    run_layer = {
        "session.start_s": _metric(setup["session.start_s"], "s"),
        "fixtures.gen_s": _metric(setup["fixtures.gen_s"], "s"),
        "warmup_s": _metric(setup["warmup_s"], "s"),
        "session.start_cpu_s": _metric(setup["session.start_cpu_s"], "s"),
        "fixtures.gen_cpu_s": _metric(setup["fixtures.gen_cpu_s"], "s"),
        "warmup_cpu_s": _metric(setup["warmup_cpu_s"], "s"),
        "run.pass_s": _metric(_median([p["pass_s"] for p in plain]), "s"),
        "run.cpu_s": _metric(_median([p["cpu_s"] for p in plain]), "s"),
        "run.peak_rss_mb": _metric(peak_mb, "MiB"),
        "run.failed_ratio": _metric(failed / bench.attempted, "ratio"),
        "run.oracle_mismatch_ratio": _metric(mismatches / max(checked, 1), "ratio"),
    }
    record = {
        "environment": env,
        "end_to_end": e2e,
        "setup": {k: v for k, v in setup.items() if k != "oracle"},
        "oracle": setup["oracle"],
        "wall": {
            "pass_s": _median([p["pass_s"] for p in plain]),
            "setup_s": setup["session.start_s"] + setup["fixtures.gen_s"] + setup["warmup_s"],
            "warmup_query_s": bench.warmup_query_s,
            "query_median_s": {q: _median(ts) for q, ts in bench.query_samples.items()},
        },
        "passes": {"untraced": plain, "traced": traced["metrics"] if traced else None},
        "attempted": bench.attempted,
        "failures": bench.failures,
    }
    if traced is not None:
        from layers import report

        record["per_layer"] = {**run_layer, **report(traced, plain)}
        dump = results / f"{wl.name}-seed{args.seed}-spans.json"
        dump.write_text(json.dumps(traced["dump"]))
        record["span_dump"] = str(dump.relative_to(ROOT))
    out = results / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str))

    metrics = record["per_layer"] if traced is not None else e2e
    return {
        "correct": mismatches == 0 and failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf",
        type=float,
        default=None,
        help="fixture scale factor instead of the workload's own (self-test only)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [p for p in REQUIRED_SOURCES if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
