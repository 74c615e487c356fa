"""Stdlib reader for an uncompressed, non-rolling Spark event log (JSON
lines). It keeps only what the per-layer table needs: jobs by job group,
stage intervals, and per-task metrics, including the Python-worker
accumulables of mapInPandas stages."""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

#: task accumulable name -> key in a task's metrics dict
_PY_ACCUMS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class Stage:
    id: int
    start_ms: float | None = None
    end_ms: float | None = None
    tasks: list[dict[str, float]] = field(default_factory=list)  # metrics per task

    def total(self, key: str) -> float:
        return sum(t.get(key, 0.0) for t in self.tasks)

    @property
    def is_python(self) -> bool:
        return any("py_sent_bytes" in t for t in self.tasks)


@dataclass
class EventLog:
    jobs: dict[int, tuple[str | None, list[int]]] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def stages_of(self, group: str) -> list[Stage]:
        """Stages that ran (completed) for the jobs tagged with ``group``."""
        ids = sorted({s for g, ss in self.jobs.values() if g == group for s in ss})
        return [self.stages[i] for i in ids if i in self.stages and self.stages[i].end_ms]

    def job_count(self, group: str) -> int:
        return sum(1 for g, _ in self.jobs.values() if g == group)


def _task_metrics(e: dict) -> dict[str, float]:
    tm = e.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    m = {
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "result_bytes": tm.get("Result Size", 0),
        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
        "shuffle_records": sw.get("Shuffle Records Written", 0),
    }
    for acc in e["Task Info"].get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            m[key] = m.get(key, 0.0) + float(acc.get("Update", 0))
    return m


def read(path: Path) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                log.jobs[e["Job ID"]] = (group, [s["Stage ID"] for s in e["Stage Infos"]])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.start_ms, st.end_ms = info.get("Submission Time"), info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                log.stages.setdefault(sid, Stage(sid)).tasks.append(_task_metrics(e))
    return log


def covered_ms(stages: list[Stage], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] (epoch ms) that some stage interval covers."""
    spans = sorted(
        (max(s.start_ms, lo), min(s.end_ms, hi))
        for s in stages
        if s.start_ms is not None and s.end_ms is not None and s.end_ms > lo and s.start_ms < hi
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
