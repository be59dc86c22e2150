"""Per-layer metrics of a traced run.

Before the timed loop, ``TracedRun`` wraps the program (see
``spans.wrap_program``) and the Py4J client, then, around every op:

- sets a Spark job group, so the op's jobs can be found afterwards;
- after the op: reads the Catalyst phase times of the op's DataFrames, the
  stage/task/shuffle/spill counts of its jobs and the exchange and
  sort-fallback counts of its final plans (``spans.spark_counts``);
- for the ETL, re-runs the month's read, read+classify, ingest and gold
  steps into Spark's ``noop`` sink, outside the timed interval, so each
  layer's share of the refresh is a difference of two measured jobs.

Layer shares are percentages of op time. For the query workloads they are
self times of the spans around each layer's public functions during
``Query.build`` (plan construction) and of ``collect``.
"""

from __future__ import annotations

import time

from spans import Py4JCounter, Tracer, plan_phase_ms, spark_counts, wrap_program
from workloads import latency_s

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("queries.build_pct", "%"),
    ("queries.py4j_calls", "count"),
    ("tables.load_calls", "count"),
    ("tables.load_pct", "%"),
    ("spark.plan_ms", "ms"),
    ("exec.collect_pct", "%"),
    ("exec.py4j_calls", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.exchanges", "count"),
    ("exec.shuffle_bytes", "bytes"),
    ("exec.shuffle_records", "count"),
    ("exec.spill_bytes", "bytes"),
    ("exec.sort_fallback_tasks", "count"),
    ("exec.result_rows", "count"),
    ("functions.classify_pct", "%"),
    ("operators.ingest_pct", "%"),
    ("operators.gold_pct", "%"),
    ("sources.read_pct", "%"),
    ("sources.write_pct", "%"),
    ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"),
    ("sources.msgs_per_s", "1/s"),
    ("trace.latency_s", "s"),
    ("trace.spans", "count"),
)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class TracedRun:
    def __init__(self, runner) -> None:
        self.r = runner
        self.spark = runner.spark
        self.py4j = Py4JCounter(self.spark)
        self.tracer = Tracer(self.py4j)
        self.calls: dict[str, int] = {}
        wrap_program(self.tracer, self.calls)
        self.per_op: list[dict] = []
        self._calls0 = 0
        self._loads0 = 0

    def before(self, op, i: int) -> None:
        self.tracer.op_id = i
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}", op.kind)
        self._calls0 = self.py4j.calls
        self._loads0 = self.calls.get("tables.load_table", 0)

    def ran(self, op, i: int) -> None:
        """The op's timed interval ended: later jobs (checks, probes) must
        not count as the op's."""
        self._op_calls = self.py4j.calls - self._calls0
        self._op_loads = self.calls.get("tables.load_table", 0) - self._loads0
        self.tracer.op_id = None
        self.spark.sparkContext.setJobGroup(f"perfbench-probe-{i}", "probe")

    def after(self, op, i: int) -> None:
        rec = dict(spark_counts(self.spark, f"perfbench-op-{i}"))
        rec["latency"] = op.latency
        rec["py4j_total"] = self._op_calls
        rec["tables.load_calls"] = self._op_loads
        rec["result_rows"] = op.detail.get("result_rows", 0)
        rec["messages"] = op.detail.get("messages", 0)
        if op.result is not None and hasattr(self.r.wl, "written"):
            rec.update(self._etl_probes(op, i))
        elif op.result is not None:
            rec["plan_ms"] = plan_phase_ms(op.result[1]._jdf)
        self.per_op.append(rec)

    def _etl_probes(self, op, i: int) -> dict:
        from holochatstats_spark.operators.ingest import classify_messages

        wl = self.r.wl
        res = op.result
        plan_ms = 0.0
        for df in [res["silver"], *res["golds"].values()]:
            df._jdf.queryExecution().executedPlan()
            plan_ms += plan_phase_ms(df._jdf)
        bronze = wl.bronze(self.spark, op.kind)
        t_read = _noop(bronze)
        t_classify = _noop(classify_messages(bronze))
        t_ingest = _noop(res["silver"])
        t_gold = sum(_noop(df) for df in res["golds"].values())
        writes = [
            s["end"] - s["start"] for s in self.tracer.spans
            if s["op"] == i and s["name"] == "sources.writers.write_month_partitioned"
        ]
        files, size = wl.written(op.kind)
        return {
            "plan_ms": plan_ms,
            "etl.read": t_read,
            "etl.classify": t_classify - t_read,
            "etl.ingest": t_ingest - t_classify,
            "etl.gold": t_gold,
            "etl.write": sum(writes) - t_ingest - t_gold,
            "files_written": files,
            "bytes_written": size,
        }

    def metrics(self, done: list) -> dict:
        ops = self.per_op
        n = max(1, len(ops))
        busy = sum(o["latency"] for o in ops) or 1.0
        op_ids = set(range(len(ops)))
        self_s = self.tracer.self_times(op_ids)

        def layer(prefix: str) -> float:
            return sum(v for k, v in self_s.items() if k.split(".")[0] == prefix)

        def pct(seconds: float) -> float:
            return 100.0 * seconds / busy

        def mean(key: str) -> float:
            return sum(o.get(key, 0) for o in ops) / n

        build_calls = sum(
            s["py4j_calls"] for s in self.tracer.spans
            if s["name"] == "queries.build" and s["op"] in op_ids)
        is_etl = any("etl.read" in o for o in ops)
        if is_etl:
            shares = {k: pct(sum(o[f"etl.{k}"] for o in ops))
                      for k in ("read", "classify", "ingest", "gold", "write")}
        else:
            shares = {
                "read": 0.0,
                "classify": pct(self_s.get("functions.classify", 0.0)),
                "ingest": pct(self_s.get("operators.ingest", 0.0)),
                "gold": pct(self_s.get("operators.gold", 0.0)),
                "write": 0.0,
            }
        r = self.r
        values = {
            "session.start_s": r.start_s,
            "session.warmup_s": r.warmup_s,
            "session.peak_rss_mb": r.peak_rss_mb(),
            "queries.build_pct": pct(layer("queries")),
            "queries.py4j_calls": build_calls / n,
            "tables.load_calls": mean("tables.load_calls"),
            "tables.load_pct": pct(layer("tables")),
            "spark.plan_ms": mean("plan_ms"),
            "exec.collect_pct": pct(layer("exec")),
            "exec.py4j_calls": (sum(o["py4j_total"] for o in ops) - build_calls) / n,
            "exec.stages": mean("stages"),
            "exec.tasks": mean("tasks"),
            "exec.exchanges": mean("exchanges"),
            "exec.shuffle_bytes": mean("shuffle_bytes"),
            "exec.shuffle_records": mean("shuffle_records"),
            "exec.spill_bytes": mean("spill_bytes"),
            "exec.sort_fallback_tasks": mean("sort_fallback_tasks"),
            "exec.result_rows": mean("result_rows"),
            "functions.classify_pct": shares["classify"],
            "operators.ingest_pct": shares["ingest"],
            "operators.gold_pct": shares["gold"],
            "sources.read_pct": shares["read"],
            "sources.write_pct": shares["write"],
            "sources.bytes_written": mean("bytes_written"),
            "sources.files_written": mean("files_written"),
            "sources.msgs_per_s": sum(o["messages"] for o in ops) / busy,
            "trace.latency_s": latency_s(r.wl, done),
            "trace.spans": sum(1 for s in self.tracer.spans if s["op"] in op_ids) / n,
        }
        return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}

    def dump(self, path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        self.tracer.dump(str(path))
