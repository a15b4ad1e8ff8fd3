"""The per-layer ledger: in-memory spans, Spark event-log metrics and an
in-process replay of a document sample through the kernel's public
functions.

Spans are recorded by the benchmark around its own calls into each
layer; nothing inside the package is instrumented. Spark's metrics come
from its event log, attributed to a layer through the job group the
benchmark sets before each call (the group id is the layer's name).
"""

from __future__ import annotations

import glob
import json
import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name: duration minus the time covered by direct
    children (children are sequential, so their durations add)."""
    child_s = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s["name"]] += (s["end"] - s["start"]) - child_s[i]
    return dict(out)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


# --- Spark event log ------------------------------------------------------

#: MapInPandas SQL metric display names (PythonSQLMetrics)
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[int(m["accumulatorId"])] = (node["nodeName"].strip(), m["name"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_ledger(events: list[dict]) -> dict:
    """Per layer (job-group prefix): SQL metrics summed per (node, metric),
    task metrics, and job counts."""
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    accum_meta: dict[int, tuple[str, str]] = {}
    accum_exec: dict[int, int] = {}
    jobs = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            jobs[group] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            found: dict[int, tuple[str, str]] = {}
            _plan_metrics(e["sparkPlanInfo"], found)
            accum_meta.update(found)
            for aid in found:
                accum_exec[aid] = int(e["executionId"])

    sql = defaultdict(float)  # (group, node, metric) -> summed update
    tasks = defaultdict(list)  # group -> [task dicts]
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(e["Stage ID"], "")
        tm = e.get("Task Metrics") or {}
        tasks[group].append(
            {
                "stage": e["Stage ID"],
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_write_b": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "spill_b": tm.get("Disk Bytes Spilled", 0),
            }
        )
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            aid = int(acc["ID"])
            if aid in accum_meta and aid in accum_exec:
                node, metric = accum_meta[aid]
                g = exec_group.get(accum_exec[aid], group)
                sql[(g, node, metric)] += float(acc.get("Update") or 0)
    return {"sql": dict(sql), "tasks": dict(tasks), "jobs": dict(jobs)}


def sql_sum(ledger: dict, groups: tuple[str, ...], node_prefix: str, metric: str) -> float:
    return sum(
        v
        for (g, node, m), v in ledger["sql"].items()
        if g in groups and node.startswith(node_prefix) and m == metric
    )


#: a stage counts toward jvm.task_skew only if its median task takes this long
SKEW_MIN_MEDIAN_MS = 100


def task_stats(ledger: dict, groups: tuple[str, ...]) -> dict:
    rows = [t for g in groups for t in ledger["tasks"].get(g, ())]
    by_stage = defaultdict(list)
    for t in rows:
        by_stage[t["stage"]].append(t["run_ms"])
    # stages whose median task is under SKEW_MIN_MEDIAN_MS (commit and
    # count stages of a few ms) would read huge ratios that cost nothing
    skews = [
        max(v) / statistics.median(v)
        for v in by_stage.values()
        if len(v) >= 2 and statistics.median(v) >= SKEW_MIN_MEDIAN_MS
    ]
    return {
        "tasks": len(rows),
        "run_s": sum(t["run_ms"] for t in rows) / 1e3,
        "gc_s": sum(t["gc_ms"] for t in rows) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in rows) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in rows) / 1e6,
        "skew": max(skews, default=1.0),  # the stage with the worst straggler
        "stage_task_ms": {sid: sorted(v) for sid, v in sorted(by_stage.items())},
    }
