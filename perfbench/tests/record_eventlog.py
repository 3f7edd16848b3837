"""Record the small event log the attribution tests read.

    python3 perfbench/tests/record_eventlog.py

Runs a tiny cold ``cli kg --coref`` with the event log on and writes a
trimmed copy of the log plus the stages' commit times to
``perfbench/tests/data/``. Trimming keeps every event and field the parser
reads and drops the rest (task starts, unused metrics, plan node details,
repeated metric declarations of re-planned executions), so the fixture
stays small.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent.parent
STAGES = ["transcripts", "extract", "entities", "canonical_map", "graph",
          "violations", "coref"]
KEEP_TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
                     "Disk Bytes Spilled")
KEEP_SHUFFLE = {"Shuffle Read Metrics": ("Remote Bytes Read", "Local Bytes Read"),
                "Shuffle Write Metrics": ("Shuffle Bytes Written",)}
DROP = ("SparkListenerTaskStart", "SparkListenerBlockManagerAdded",
        "SparkListenerEnvironmentUpdate", "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted", "SparkListenerExecutorAdded",
        "SparkListenerResourceProfileAdded", "SparkListenerUnpersistRDD")


def _prune_plan(info: dict, used: set) -> dict | None:
    """The plan tree reduced to the nodes that hold a metric in ``used``."""
    children = [c for c in (_prune_plan(ch, used) for ch in info.get("children", []))
                if c is not None]
    metrics = [{k: m[k] for k in ("name", "accumulatorId", "metricType")}
               for m in info.get("metrics", []) if m["accumulatorId"] in used]
    if not metrics and not children:
        return None
    return {"nodeName": info["nodeName"], "metrics": metrics, "children": children}


def _declared(info: dict) -> set:
    return ({m["accumulatorId"] for m in info["metrics"]}
            .union(*(_declared(c) for c in info["children"])))


def _plan_text(text: str) -> str:
    """The operator tree plus the lines that name a path."""
    tree, _, rest = text.partition("\n\n")
    return tree + "\n\n" + "\n".join(line for line in rest.splitlines()
                                     if "snap-" in line)


def trim(events: list[dict]) -> list[dict]:
    """Keep what the parser reads: used metrics, the last adaptive plan
    text of each execution, and the task totals it sums."""
    used = set()
    last_update = {}
    for i, e in enumerate(events):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerTaskEnd":
            used.update(a["ID"] for a in e["Task Info"].get("Accumulables", [])
                        if a.get("Metadata") == "sql")
        elif kind == "SparkListenerDriverAccumUpdates":
            used.update(a for a, _ in e["accumUpdates"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            last_update[e["executionId"]] = i
    out, declared = [], set()
    for i, e in enumerate(events):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in DROP:
            continue
        if "sparkPlanInfo" in e:
            # re-plans repeat the metrics of unchanged nodes: declare each once
            e["sparkPlanInfo"] = _prune_plan(e["sparkPlanInfo"], used - declared) or {
                "nodeName": "", "metrics": [], "children": []}
            declared |= _declared(e["sparkPlanInfo"])
        if "physicalPlanDescription" in e:
            keep = (kind != "SparkListenerSQLAdaptiveExecutionUpdate"
                    or last_update[e["executionId"]] == i)
            e["physicalPlanDescription"] = (_plan_text(e["physicalPlanDescription"])
                                            if keep else "")
        for k in ("description", "details", "modifiedConfigs", "jobTags",
                  "Stage Infos", "Task Executor Metrics"):
            e.pop(k, None)
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            e["Properties"] = {k: v for k, v in props.items()
                               if k == "spark.sql.execution.id"}
        if kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            kept = {k: m[k] for k in KEEP_TASK_METRICS if k in m}
            for group, keys in KEEP_SHUFFLE.items():
                kept[group] = {k: m.get(group, {}).get(k, 0) for k in keys}
            e["Task Metrics"] = kept
            info = e["Task Info"]
            e["Task Info"] = {"Accumulables": [
                {k: a[k] for k in ("ID", "Update", "Metadata") if k in a}
                for a in info.get("Accumulables", []) if a.get("Metadata") == "sql"]}
        out.append(e)
    return out


def main() -> None:
    out = HERE / "data"
    out.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        tmp = pathlib.Path(tmp)
        log_dir, wd = tmp / "ev", tmp / "wd"
        log_dir.mkdir()
        env = dict(os.environ, PYTHONPATH=str(ROOT), PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir="
            f"{log_dir.as_uri()} --conf spark.eventLog.compress=false pyspark-shell"))
        subprocess.run([sys.executable, "-m", "openapi_to_rdf_spark.cli", "kg",
                        "--workdir", str(wd), "--n-convs", "20", "--coref",
                        "--cores", "2"], env=env, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        commits = []
        for s in STAGES:
            snap = wd / s / (wd / s / "LATEST").read_text().strip()
            commits.append([s, (snap / "manifest.json").stat().st_mtime])
        events = [json.loads(line.replace(str(tmp), "/tmp/kg-small"))
                  for f in sorted(log_dir.rglob("events_*"))
                  for line in f.read_text().splitlines()]
        (out / "eventlog_kg_small.jsonl").write_text("".join(
            json.dumps(e, separators=(",", ":")) + "\n" for e in trim(events)))
        (out / "commits_kg_small.json").write_text(json.dumps(commits, indent=1))


if __name__ == "__main__":
    main()
