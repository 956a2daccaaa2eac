"""Spark event-log parser: per-stage executor run and CPU time, GC,
shuffle, spill and Python-worker time, plus job windows.

The harness enables the log (``spark.eventLog.enabled``) in traced runs
only; the file is JSON lines, one listener event per line. A stage is
attributed to a module by the call site in its name
(``collect at …/skar_spark/engine/encode.py:86`` → ``engine.encode``) and
to a harness span by its submission time.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

# "<action> at <file>.py:<line>" — PySpark records the first Python frame
# outside pyspark as the call site of every DataFrame action
_SITE = re.compile(r"^(?P<action>[\w.$]+) at (?P<file>\S+\.py):(?P<line>\d+)$")


def log_files(event_dir: str) -> list[Path]:
    """The event-log files under `event_dir`: a single-file log, or the
    `events_*` parts of a rolling (v2) log."""
    root = Path(event_dir)
    files = [p for p in root.rglob("*") if p.is_file()
             and not p.name.startswith("appstatus")
             and not p.name.endswith(".inprogress")]
    return sorted(files)


def _lines(paths):
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse(paths) -> dict:
    """{"stages": [...], "jobs": [...]} from event-log files.

    Each stage: id, attempt, name, module, file, line, n_tasks, submit_ms,
    complete_ms, run_ms (Σ task executor run time), cpu_ms, gc_ms,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes and py_run_ms
    (Σ "time to run Python workers"). Each job: id, submit_ms, end_ms,
    stage_ids."""
    stages: dict[tuple[int, int], dict] = {}
    jobs: dict[int, dict] = {}

    def stage(sid: int, att: int) -> dict:
        return stages.setdefault((sid, att), {
            "id": sid, "attempt": att, "name": "", "n_tasks": 0,
            "submit_ms": None, "complete_ms": None, "run_ms": 0,
            "cpu_ms": 0.0, "gc_ms": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "py_run_ms": 0.0})

    for e in _lines(paths):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"id": e["Job ID"],
                                 "submit_ms": e.get("Submission Time"),
                                 "end_ms": None,
                                 "stage_ids": e.get("Stage IDs", [])}
        elif ev == "SparkListenerJobEnd":
            j = jobs.setdefault(e["Job ID"], {"id": e["Job ID"],
                                              "submit_ms": None,
                                              "stage_ids": []})
            j["end_ms"] = e.get("Completion Time")
        elif ev in ("SparkListenerStageSubmitted",
                    "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            s = stage(info["Stage ID"], info.get("Stage Attempt ID", 0))
            s["name"] = info.get("Stage Name", s["name"])
            s["submit_ms"] = info.get("Submission Time", s["submit_ms"])
            s["complete_ms"] = info.get("Completion Time", s["complete_ms"])
            if ev == "SparkListenerStageCompleted":
                for a in info.get("Accumulables", []):
                    if a.get("Name") == "time to run Python workers":
                        s["py_run_ms"] = float(a.get("Value", 0))
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            s = stage(e["Stage ID"], e.get("Stage Attempt ID", 0))
            s["n_tasks"] += 1
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            s["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    out = []
    for s in stages.values():
        mt = _SITE.match(s["name"] or "")
        s["file"] = mt.group("file") if mt else None
        s["line"] = int(mt.group("line")) if mt else None
        s["module"] = module_of(s["file"])
        out.append(s)
    out.sort(key=lambda s: (s["id"], s["attempt"]))
    return {"stages": out,
            "jobs": sorted(jobs.values(), key=lambda j: j["id"])}


def module_of(path: str | None) -> str | None:
    """`…/skar_spark/engine/encode.py` → `engine.encode`; files outside
    the package (the harness, Spark's own frames) map to None."""
    if not path or not path.endswith(".py"):
        return None
    parts = path[:-3].split("/")
    if "skar_spark" not in parts:
        return None
    return ".".join(parts[len(parts) - parts[::-1].index("skar_spark"):])


def in_window(item_ms: float | None, t0: float, t1: float) -> bool:
    """Whether an epoch-ms event time lies in [t0, t1] epoch seconds."""
    return item_ms is not None and t0 * 1e3 <= item_ms <= t1 * 1e3


def totals(stages: list[dict]) -> dict:
    return {
        "tasks": sum(s["n_tasks"] for s in stages),
        "run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "cpu_s": sum(s["cpu_ms"] for s in stages) / 1e3,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"]
                                for s in stages) / 1e6,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
    }
