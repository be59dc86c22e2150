"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark's own process and wraps the
program from outside:

- ``Tracer`` keeps spans (name, start, end, parent, op id, Py4J calls) in
  memory and writes them as JSON when the run ends. A span's layer is the
  part of its name before the first dot; its self time is its duration
  minus the time of its child spans.
- ``wrap_program`` replaces the public functions of ``tables``,
  ``functions``, ``operators`` and ``sources`` with span-recording
  wrappers, both in their defining modules and wherever a query module
  imported them by name, so plan construction inside ``Query.build`` is
  split by layer.
- ``Py4JCounter`` counts the Py4J call commands the driver sends to the
  JVM by wrapping the gateway client's ``send_command``.
- ``spark_counts`` reads, for the jobs of one job group, the stage and
  task counts and shuffle/spill totals from Spark's status store, and the
  exchange count and sort-fallback tasks from the SQL status store's
  final (post-AQE) plan graphs.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, py4j: "Py4JCounter | None" = None) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.py4j = py4j

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        calls0 = self.py4j.calls if self.py4j else 0
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op_id, "py4j_calls": 0}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.py4j:
                rec["py4j_calls"] = self.py4j.calls - calls0
            self._stack.pop()

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Self seconds per layer and module (the first two dotted parts of
        a span name) over the spans of the given ops."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] in op_ids and s["end"] is not None:
                key = ".".join(s["name"].split(".")[:2])
                out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0,
             "end": None if s["end"] is None else s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


_WRAPPED_LAYERS = ("tables", "functions", "operators", "sources")


def wrap_program(tracer: Tracer, counters: dict[str, int]) -> None:
    """Wrap every public function of the program's lower layers in a span
    named ``<layer>[.<module>].<function>``; ``counters`` gets a call count
    per span name."""
    originals: dict[int, object] = {}
    wrappers: dict[int, object] = {}
    for modname, mod in list(sys.modules.items()):
        parts = modname.split(".")
        if len(parts) < 2 or parts[0] != "holochatstats_spark":
            continue
        if parts[1] not in _WRAPPED_LAYERS:
            continue
        for attr, fn in vars(mod).items():
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != modname):
                continue
            name = ".".join(parts[1:] + [fn.__name__])
            originals[id(fn)] = fn
            wrappers[id(fn)] = _span_wrapper(tracer, counters, name, fn)
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("holochatstats_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrappers.get(id(val))
            if w is not None and originals[id(val)] is val:
                setattr(mod, attr, w)


def _span_wrapper(tracer: Tracer, counters: dict[str, int], name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        counters[name] = counters.get(name, 0) + 1
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


class Py4JCounter:
    """Counts Py4J call commands ("c\\n") sent by this process."""

    def __init__(self, spark) -> None:
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            if command.startswith("c\n"):
                self.calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command


def plan_phase_ms(jdf) -> float:
    """Analysis + optimization + planning ms from a Dataset's tracker."""
    phases = jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _metric_number(text: str) -> float:
    """First number in a formatted SQL metric value ("12", "1,024")."""
    head = text.strip().split("\n")[-1].split(" ")[0].replace(",", "")
    try:
        return float(head)
    except ValueError:
        return 0.0


def spark_counts(spark, group: str) -> dict[str, float]:
    """Spark-side counts for the jobs of one job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = set(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    out = {"stages": 0, "tasks": 0, "shuffle_bytes": 0, "shuffle_records": 0,
           "spill_bytes": 0, "exchanges": 0, "sort_fallback_tasks": 0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # no attempt: skipped, its shuffle output reused
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["shuffle_bytes"] += st.shuffleWriteBytes()
        out["shuffle_records"] += st.shuffleWriteRecords()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        jobs = {int(k) for k in _seq(ex.jobs().keys())}
        if not jobs & job_ids:
            continue
        # keys are Scala Longs; a Python int lookup through Py4J would
        # arrive as an Integer and miss, so copy the map out first
        values = {int(kv._1()): kv._2()
                  for kv in _seq(sql.executionMetrics(ex.executionId()).toSeq())}
        for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
            name = node.name()
            if name in ("Exchange", "BroadcastExchange"):
                out["exchanges"] += 1
            for m in _seq(node.metrics()):
                if m.name() == "number of sort fallback tasks":
                    v = values.get(int(m.accumulatorId()))
                    if v is not None:
                        out["sort_fallback_tasks"] += _metric_number(v)
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
