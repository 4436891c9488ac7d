"""Reads Spark's own status store: per-stage task metrics, the SQL
execution metrics of Python exec nodes, Catalyst's phase tracker and
the codegen compile-time counter; plus the detached runner's
``runner_phases.json`` sidecar.

The parsing helpers at the top take plain Python values so they can be
tested without Spark; ``SparkStats`` does the py4j reads."""

from __future__ import annotations

import json
import os
import re

MB = 1e6

# Python exec nodes as they appear in the SQL plan graph: MapInPandas,
# MapInArrow, ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas,
# AggregateInPandas, ArrowWindowPython, the UDTF nodes, ...
PYTHON_NODE = re.compile(r"Pandas|Python|InArrow|ArrowEval")

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """A formatted SQL metric value in base units (rows, bytes, ms).

    Spark formats a metric either as a bare total ("100,000",
    "46.6 KiB", "12 ms") or, when several tasks reported it, as a
    header line followed by "total (min, med, max ...)"; the total is
    the first number of the last line."""
    line = text.strip().splitlines()[-1] if text and text.strip() else ""
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    return num


def max_task_share(task_run_ms: list[float]) -> float:
    """The largest task's share of its stage's total task run time."""
    total = sum(task_run_ms)
    return max(task_run_ms) / total if total > 0 else 0.0


def stage_totals(stages: list[dict]) -> dict:
    """Sums over stage records (the dicts ``SparkStats`` builds)."""
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "jvm_gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
        "spill_mb": sum(s["spill_disk"] for s in stages) / MB,
    }


def boundary_totals(nodes: list[tuple[str, dict[str, str]]]) -> dict:
    """Rows and bytes across the Python exec nodes among (node name,
    {metric name: formatted value}) pairs."""
    out = {"py_rows_out": 0.0, "py_sent_mb": 0.0, "py_recv_mb": 0.0}
    for name, metrics in nodes:
        if not PYTHON_NODE.search(name):
            continue
        out["py_rows_out"] += parse_metric_value(metrics.get("number of output rows", ""))
        out["py_sent_mb"] += parse_metric_value(metrics.get("data sent to Python workers", "")) / MB
        out["py_recv_mb"] += parse_metric_value(
            metrics.get("data returned from Python workers", "")
        ) / MB
    return out


def runner_split(phases: dict, submitted_at: float) -> dict:
    """Spawn / boot / job split of one detached runner, from its
    ``runner_phases.json`` and the wall-clock time the submit returned."""
    return {
        "runner_spawn_s": phases["runner_start"] - submitted_at,
        "runner_boot_s": phases["spark_ready"] - phases["runner_start"],
        "runner_job_s": phases["job_done"] - phases["spark_ready"],
    }


def read_runner_phases(journal_dir: str, job_id: str) -> dict | None:
    try:
        with open(os.path.join(journal_dir, job_id, "runner_phases.json")) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


class SparkStats:
    """py4j reads of one session's status stores. ``since_last()``
    returns what the stages and SQL executions started since the
    previous call did, which in a closed loop is one operation."""

    def __init__(self, spark) -> None:
        self.jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._to_java = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.drain()
        self._last_stage = max((s.stageId() for s in self._stage_list()), default=-1)
        self._last_exec = max(
            (e.executionId() for e in self._to_java(self.sql.executionsList())), default=-1
        )

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self.sc.listenerBus().waitUntilEmpty()

    def codegen_compile_s(self) -> float:
        return self._codegen.compileTime() / 1e9

    def catalyst_plan_s(self, df) -> float:
        """Sum of the query-planning phases Catalyst tracked for df."""
        phases = self._to_java(df._jdf.queryExecution().tracker().phases())
        return sum(phases[k].durationMs() for k in phases.keySet()) / 1e3

    def _stage_list(self):
        AL = self.jvm.java.util.ArrayList
        no_quantiles = self._gateway.new_array(self.jvm.double, 0)
        return self._to_java(self.store.stageList(AL(), False, False, no_quantiles, AL()))

    def since_last(self) -> dict:
        self.drain()
        stages, heaviest = [], None
        for s in self._stage_list():
            sid = s.stageId()
            if sid <= self._last_stage or str(s.status()) in ("SKIPPED", "PENDING"):
                continue
            rec = {
                "id": sid, "attempt": s.attemptId(), "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(), "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(), "spill_disk": s.diskBytesSpilled(),
            }
            stages.append(rec)
            if heaviest is None or rec["run_ms"] > heaviest["run_ms"]:
                heaviest = rec
        if stages:
            self._last_stage = max(r["id"] for r in stages)
        out = stage_totals(stages)
        out["max_task_share"] = self._task_share(heaviest) if heaviest else 0.0
        out.update(boundary_totals(self._new_python_nodes()))
        return out

    def _task_share(self, stage: dict) -> float:
        tasks = self._to_java(self.store.taskList(stage["id"], stage["attempt"], 2**31 - 1))
        runs = [t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()]
        return max_task_share(runs)

    def _new_python_nodes(self) -> list[tuple[str, dict[str, str]]]:
        nodes = []
        for e in self._to_java(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, eid)
            values = self._to_java(self.sql.executionMetrics(eid))
            for node in self._to_java(self.sql.planGraph(eid).allNodes()):
                name = node.name()
                if not PYTHON_NODE.search(name):
                    continue
                metrics = {}
                for m in self._to_java(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        metrics[m.name()] = v
                nodes.append((name, metrics))
        return nodes
