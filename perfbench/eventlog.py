"""Spark event-log reader and per-stage attribution.

Spark 4.1 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory
(or a single ``<app>`` file), zstd-compressed unless
``spark.eventLog.compress=false``. This module reads the uncompressed form
and refuses a compressed one loudly.

The unit of attribution is the SQL execution (plus any job that runs outside
one). Each unit sums its tasks' executor run/CPU time, GC time, shuffle
read+write bytes and disk spill, and the per-node SQL metrics, such as the
Python-worker time and bytes of ``ArrowEvalPython`` / ``MapInPandas`` nodes.

Attribution to pipeline stages (:func:`attribute`): a unit belongs to the
latest pipeline stage whose ``/<stage>/snap-`` directory appears in its plan,
among the stages not yet committed when the unit started (a read of an
already committed snapshot does not name the stage being built). A unit that
names no such stage belongs to the next stage that commits. A stage's span
runs from the previous commit (or application start) to its own commit.
"""

from __future__ import annotations

import json
import pathlib
import statistics
from dataclasses import dataclass, field

# SQL metrics that only Python-evaluating nodes carry. Adaptive re-plans of
# a cached plan report them without a node name (node "").
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Unit:
    """One SQL execution, or one job outside any execution."""
    key: str
    start: float                      # epoch seconds
    end: float
    plan: str = ""
    final_plan: str = ""
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list = field(default_factory=list)
    # (node name, metric name) -> summed value (ms for timings, bytes, rows)
    node_metrics: dict = field(default_factory=dict)

    def metric(self, name: str, nodes: tuple[str, ...] | None = None) -> float:
        return sum(v for (n, m), v in self.node_metrics.items()
                   if m == name and (nodes is None or n in nodes))

    @property
    def py_s(self) -> float:
        return self.metric(PY_TIME) / 1000.0

    @property
    def py_bytes(self) -> float:
        return self.metric(PY_SENT) + self.metric(PY_RECV)

    @property
    def is_write(self) -> bool:
        return "InsertIntoHadoopFsRelationCommand" in self.plan


@dataclass
class AppLog:
    app_start: float
    app_end: float | None
    units: list[Unit]


def event_files(log_dir: str | pathlib.Path) -> list[pathlib.Path]:
    """Event files of the one application logged under ``log_dir``."""
    root = pathlib.Path(log_dir)
    files = sorted(p for p in root.rglob("*") if p.is_file()
                   and not p.name.startswith(".")
                   and not p.name.startswith("appstatus"))
    if any(p.suffix in (".zstd", ".lz4", ".snappy", ".lzf") for p in files):
        raise ValueError(f"compressed event log under {root}: run with "
                         "spark.eventLog.compress=false")

    def part(p):  # events_<n>_<app>: order rolled files by n
        bits = p.name.split("_")
        return int(bits[1]) if bits[0] == "events" and bits[1].isdigit() else 0
    return sorted(files, key=part)


def _plan_metrics(info: dict, out: dict) -> None:
    node = info.get("nodeName", "").split(" ")[0]
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_events(log_dir: str | pathlib.Path) -> list[dict]:
    events = []
    for f in event_files(log_dir):
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def parse(events: list[dict]) -> AppLog:
    """Fold an event stream into per-unit totals."""
    app_start, app_end = None, None
    units: dict[str, Unit] = {}
    accum: dict[int, tuple[str, str]] = {}
    stage_unit: dict[int, str] = {}
    job_unit: dict[int, str] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"] / 1000.0
        elif kind == "SparkListenerApplicationEnd":
            app_end = e["Timestamp"] / 1000.0
        elif kind == "SparkListenerSQLExecutionStart":
            key = f"sql{e['executionId']}"
            t = e["time"] / 1000.0
            units[key] = Unit(key, t, t, plan=e.get("physicalPlanDescription", ""),
                              final_plan=e.get("physicalPlanDescription", ""))
            _plan_metrics(e["sparkPlanInfo"], accum)
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            key = f"sql{e['executionId']}"
            _plan_metrics(e["sparkPlanInfo"], accum)
            if key in units:
                units[key].final_plan = e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", []):
                accum.setdefault(m["accumulatorId"], ("", m["name"]))
        elif kind == "SparkListenerSQLExecutionEnd":
            key = f"sql{e['executionId']}"
            if key in units:
                units[key].end = e["time"] / 1000.0
        elif kind == "SparkListenerDriverAccumUpdates":
            key = f"sql{e['executionId']}"
            for acc_id, value in e["accumUpdates"]:
                _add_node_metric(units.get(key), accum.get(acc_id), value)
        elif kind == "SparkListenerJobStart":
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None and f"sql{exec_id}" in units:
                key = f"sql{exec_id}"
            else:
                key = f"job{e['Job ID']}"
                t = e["Submission Time"] / 1000.0
                units[key] = Unit(key, t, t)
            job_unit[e["Job ID"]] = key
            for sid in e["Stage IDs"]:
                stage_unit[sid] = key
        elif kind == "SparkListenerJobEnd":
            key = job_unit.get(e["Job ID"], "")
            if key.startswith("job"):
                units[key].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            u = units.get(stage_unit.get(e["Stage ID"], ""))
            if u is None:
                continue
            m = e.get("Task Metrics") or {}
            u.run_s += m.get("Executor Run Time", 0) / 1000.0
            u.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            u.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            u.shuffle_bytes += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                + m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
            u.spill_bytes += m.get("Disk Bytes Spilled", 0)
            u.task_ms.append(m.get("Executor Run Time", 0))
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    _add_node_metric(u, accum.get(a["ID"]), a["Update"])
    if app_start is None:
        raise ValueError("event log has no SparkListenerApplicationStart")
    return AppLog(app_start, app_end, sorted(units.values(), key=lambda u: u.start))


def _add_node_metric(unit: Unit | None, node_metric, value) -> None:
    if unit is None or node_metric is None:
        return
    try:
        v = float(value)
    except (TypeError, ValueError):
        return
    unit.node_metrics[node_metric] = unit.node_metrics.get(node_metric, 0.0) + v


def load(log_dir: str | pathlib.Path) -> AppLog:
    return parse(read_events(log_dir))


@dataclass
class Stage:
    name: str
    start: float
    commit: float
    units: list = field(default_factory=list)

    @property
    def span_s(self) -> float:
        return self.commit - self.start

    def total(self, attr: str) -> float:
        return sum(getattr(u, attr) for u in self.units)


def attribute(log: AppLog, commits: list[tuple[str, float]]) -> tuple[list[Stage], list[Unit]]:
    """Assign units to pipeline stages.

    ``commits`` lists (stage name, commit epoch seconds) in pipeline order.
    Returns the stages with their units, and the units that ran after the
    last commit (they belong to no stage)."""
    stages, prev = [], log.app_start
    for name, t in commits:
        stages.append(Stage(name, prev, t))
        prev = t
    after: list[Unit] = []
    for u in log.units:
        open_named = [s for s in stages
                      if f"/{s.name}/snap-" in u.plan and s.commit >= u.start]
        if open_named:
            open_named[-1].units.append(u)
            continue
        nxt = next((s for s in stages if s.commit >= u.end), None)
        (nxt.units if nxt else after).append(u)
    return stages, after


def task_skew(units: list[Unit]) -> float:
    """Slowest task over the median task, in the busiest unit."""
    busiest = max(units, key=lambda u: sum(u.task_ms), default=None)
    if busiest is None or not busiest.task_ms:
        return 0.0
    med = statistics.median(busiest.task_ms)
    return max(busiest.task_ms) / med if med else 0.0


def count_nodes(plan: str, node: str) -> int:
    """Operator nodes named ``node`` in a formatted physical plan's tree
    (the final plan only, when adaptive execution re-planned)."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(1 for line in tree.splitlines()
               if line.lstrip(" :+-*").startswith(node + " ")
               or line.lstrip(" :+-*").startswith(node + "("))
