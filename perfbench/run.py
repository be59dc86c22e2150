"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It generates its inputs from the seed
under ``.perfbench_work/`` (removed at exit) and computes the expected
answers that need no Spark (DuckDB through ``holochatstats_spark.testing``
for the query workloads, the generator's own tallies for the ETL). It then
sets up once, cold: program import, Spark on ``local[4]`` through
``session.get_spark`` (which launches the JVM) and the workload's warm-up,
which runs every op kind of the timed cycle once; that time is
``setup_s``. It runs whole cycles of ops back to back: as many as fill
``--seconds`` at the workload's nominal cycle time, so every run does the
same work. Tail ops (the dashboard's seeded draw of rarely requested
queries) run once each after the cycles and stay out of the end-to-end
metrics. Every op's result is checked outside the timed interval; a wrong
result counts as failed.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
reports its own op latency as ``trace.latency_s``; compared with
``latency_s`` of untraced runs it gives the tracing overhead
(``perfbench/ab.py --overhead`` prints it). Its spans go to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = "4"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: Path) -> None:
    """Keep every file Spark and Python write inside the work directory,
    and put the checkout on PYTHONPATH before the JVM starts, so Python
    workers it forks (``applyInPandas`` in ``ml_forecast``) can import the
    package when the benchmark runs from outside the repo root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when its
    stdin closes; kill it if it has not after 30 s."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl) -> None:
        self.wl = wl
        self.spark = None
        self.registry = None
        self.start_s = 0.0
        self.warmup_s = 0.0

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        """One cold set-up: import the program, start the session (which
        launches the JVM) and run the workload's warm-up. pyspark's own
        import happens before the clock starts."""
        import pyspark.sql  # noqa: F401

        for name in [m for m in sys.modules if m.startswith("holochatstats_spark")]:
            del sys.modules[name]
        t0 = time.perf_counter()
        from holochatstats_spark.queries import load_all_queries
        from holochatstats_spark.session import get_spark

        self.registry = load_all_queries()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.wl.warmup(self.spark, self.registry)
        t2 = time.perf_counter()
        self.start_s, self.warmup_s = t1 - t0, t2 - t1
        print(f"perfbench: set-up: import and session {self.start_s:.1f} s, "
              f"warm-up {self.warmup_s:.1f} s", file=sys.stderr)

    # -- timed loop -------------------------------------------------------------
    def loop(self, n_cycles: int, cycles, traced=None) -> list:
        """Run ``n_cycles`` whole cycles of ops. Checking is outside the
        timed interval, so it never counts as op time."""
        done = []
        for _, cycle in zip(range(n_cycles), cycles):
            for op in cycle:
                self.run_op(op, len(done), traced)
                done.append(op)
        return done

    def run_op(self, op, i: int, traced) -> None:
        if traced is not None:
            traced.before(op, i)
        t0 = time.perf_counter()
        try:
            self.wl.run(self.spark, self.registry, op,
                        traced.tracer if traced else None)
            ok = True
        except Exception:  # counted as failed, reported, and the loop goes on
            print(f"perfbench: op {op.kind} raised\n{traceback.format_exc()}",
                  file=sys.stderr)
            ok = False
        op.latency = time.perf_counter() - t0
        if traced is not None:
            traced.ran(op, i)
        if ok:
            try:
                ok = self.wl.check(self.spark, op)
            except Exception:
                print(f"perfbench: check of {op.kind} raised\n{traceback.format_exc()}",
                      file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: wrong result from {op.kind}", file=sys.stderr)
        op.ok = ok
        print(f"perfbench: op {op.kind} {op.latency:.3f} s{'' if ok else ' FAILED'}",
              file=sys.stderr)
        if traced is not None:
            traced.after(op, i)
        op.result = None

    def peak_rss_mb(self) -> float:
        from spans import vm_hwm_mb

        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def end_to_end(r: Runner, done: list) -> dict:
    from workloads import latency_s

    return {
        "setup_s": {"value": r.start_s + r.warmup_s, "unit": "s"},
        "latency_s": {"value": latency_s(r.wl, done), "unit": "s"},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "holochatstats_spark" / "__init__.py").is_file():
        _fail(f"no holochatstats_spark package next to {HERE.name}/; "
              "run from the root of a full checkout")
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, Op

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    _environment(work)
    runner = Runner(WORKLOADS[args.workload](str(work), args.seed))
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        print(f"perfbench: {name} {now - t_phase:.1f} s", file=sys.stderr)
        t_phase = now

    try:
        sizes = runner.wl.prepare()
        phase(f"inputs {json.dumps(sizes)}")
        from holochatstats_spark.queries import load_all_queries

        runner.wl.oracle_answers(load_all_queries())
        phase("expected answers")
        runner.setup()
        phase("set-up")
        cycles = runner.wl.cycles(runner.registry)
        traced = None
        if args.trace:
            from traced import TracedRun

            traced = TracedRun(runner)
        # A fixed amount of work per run: as many whole cycles as fill
        # --seconds at the workload's nominal cycle time. Stopping on the
        # clock instead would let a faster host or commit run more cycles,
        # and later cycles run faster (plans warm up further), which moves
        # latency_s by itself.
        n_cycles = max(1, math.ceil(args.seconds / runner.wl.cycle_seconds))
        done = runner.loop(n_cycles, cycles, traced)
        phase(f"{len(done)} timed ops:")
        runner.wl.tail_references(runner.spark, runner.registry)
        tail = [Op(kind) for kind in runner.wl.tail(runner.registry)]
        for op in tail:
            runner.run_op(op, None, None)
        if tail:
            phase(f"{len(tail)} tail ops:")
        if traced is not None:
            metrics = traced.metrics(done)
            traced.dump(ROOT / ".perfbench_work" / "traces"
                        / f"{args.workload}-s{args.seed}.json")
        else:
            metrics = end_to_end(runner, done)
    finally:
        if runner.spark is not None:
            runner.spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for op in done + tail if not op.ok)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(done) + len(tail),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
