"""Spans around the benchmark's calls into each layer, and the Spark
engine's own task metrics read back from its event log.

A span is (id, name, parent, workload, start, end) in seconds on the
``time.perf_counter`` clock. Spans are kept in memory and written as one
JSON file when the workload ends. While a span is open, its id is set as
the ``perfbench.span`` local property of the SparkContext, so every Spark
job the call submits carries it into the event log, where
``engine_metrics`` and ``kernel_input_rows`` pick it up to attribute
tasks and SQL executions to spans.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once the SparkContext exists

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            t = time.perf_counter()
            yield
            # one line per span to the log, so an untraced run shows its phases
            print(f"perfbench: {name} {time.perf_counter() - t:.3f} s", file=sys.stderr)
            return
        rec = {
            "id": len(self.spans), "name": name, "workload": self.workload,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_property(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_property(rec["parent"])

    def _set_property(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def subtree(self, name: str) -> set[int]:
        """Ids of every span named ``name`` and of their descendants."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: Path, stamp: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"stamp": stamp, "spans": self.spans}, indent=1))


def events(event_dir: Path):
    for path in sorted(event_dir.rglob("*")):
        if path.is_file() and not path.name.startswith("."):  # no .crc
            with open(path) as f:
                yield from (json.loads(line) for line in f if line.strip())


def _span_of(ev: dict) -> int | None:
    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
    return None if span is None else int(span)


def engine_metrics(event_dir: Path, span_ids: set[int], n_passes: int) -> dict:
    """Task metrics of the Spark jobs submitted under ``span_ids``, per
    pass: shuffle written/read and spill (MB), executor run, CPU and GC
    time (s), task count, and the skew of the longest stage (max over
    median task time)."""
    stage_span: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = _span_of(ev)
            if span in span_ids:
                for sid in ev["Stage IDs"]:
                    stage_span.setdefault(sid, span)
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_span:
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    tot = dict.fromkeys(
        ("shuffle_write", "shuffle_read", "spill", "run_ms", "cpu_ns", "gc_ms", "tasks"), 0
    )
    longest: list[float] = []
    longest_wall = -1.0
    for evs in tasks.values():
        durs = []
        launch, finish = [], []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["run_ms"] += m.get("Executor Run Time", 0)
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["tasks"] += 1
            durs.append(info["Finish Time"] - info["Launch Time"])
            launch.append(info["Launch Time"])
            finish.append(info["Finish Time"])
        wall = max(finish) - min(launch)
        if wall > longest_wall:
            longest_wall, longest = wall, durs
    n = max(n_passes, 1)
    med = statistics.median(longest) if longest else 0.0
    return {
        "spark.shuffle_write_mb": tot["shuffle_write"] / 2**20 / n,
        "spark.shuffle_read_mb": tot["shuffle_read"] / 2**20 / n,
        "spark.spill_mb": tot["spill"] / 2**20 / n,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.jvm_gc_s": tot["gc_ms"] / 1e3 / n,
        "spark.task_skew": max(longest) / med if med > 0 else 0.0,
        "spark.tasks": tot["tasks"] / n,
    }


_ROWS = ("records read", "number of output rows")


def _kernel_inputs(node: dict, out: set[int]) -> None:
    """Accumulator ids of the row counts that feed each MapInPandas node
    (the OCR kernel) of a plan: the first count on its input's chain."""
    for child in node.get("children", []):
        _kernel_inputs(child, out)
    if node["nodeName"] != "MapInPandas":
        return
    below = node["children"][0] if node.get("children") else None
    while below is not None:
        ids = {m["name"]: m["accumulatorId"] for m in below.get("metrics", [])}
        found = next((ids[n] for n in _ROWS if n in ids), None)
        if found is not None:
            out.add(found)
            return
        below = below["children"][0] if below.get("children") else None


def kernel_input_rows(event_dir: Path, span_ids: set[int]) -> int:
    """Rows that entered the OCR kernel in the SQL executions of the
    Spark jobs submitted under ``span_ids``, as Spark's own SQL metrics
    counted them: one row per page, so a page recomputed counts twice."""
    execs: set[int] = set()
    plans: dict[int, list[dict]] = {}
    updates: dict[int, int] = {}
    for ev in events(event_dir):
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart" and _span_of(ev) in span_ids:
            exec_id = ev["Properties"].get("spark.sql.execution.id")
            if exec_id is not None:
                execs.add(int(exec_id))
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans.setdefault(ev["executionId"], []).append(ev["sparkPlanInfo"])
        elif kind == "SparkListenerTaskEnd":
            for a in ev["Task Info"].get("Accumulables", []):
                if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).isdigit():
                    updates[a["ID"]] = updates.get(a["ID"], 0) + int(a["Update"])
    ids: set[int] = set()
    for e in execs:
        for plan in plans.get(e, []):
            _kernel_inputs(plan, ids)
    return sum(updates.get(i, 0) for i in ids)
