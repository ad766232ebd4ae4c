"""Roll a Spark JSON event log up per job description.

Every job the benchmark submits runs under a ``setJobDescription`` tag;
this reader groups task metrics by that tag and reports, per tag:
jobs, stages, tasks, executor run and CPU time, GC time, shuffle read
and write bytes, spill bytes, task-duration quantiles and the sum of
every SQL metric its tasks updated.  Stages can be narrowed with a
predicate on the names of the SQL metrics their tasks updated (a stage
whose tasks updated "data sent to Python workers" ran a Python worker).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from typing import Callable, Dict, Iterable, List, Optional


def read_events(log_dir: str) -> Iterable[dict]:
    """Events of every (finished) application log in ``log_dir``."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "sql": {}, "task_s": []}


def _sql_updates(task_end: dict) -> Dict[str, int]:
    out: Dict[str, int] = {}
    for acc in (task_end.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Metadata") != "sql":
            continue
        try:
            out[acc["Name"]] = out.get(acc["Name"], 0) + int(acc["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def python_stage(names: set) -> bool:
    return "data sent to Python workers" in names


def rollup(events: Iterable[dict],
           group: Callable[[str], Optional[str]] = lambda desc: desc,
           stage_filter: Optional[Callable[[List[str]], bool]] = None
           ) -> Dict[str, dict]:
    """{group: metrics}.  ``group`` maps a job description to its group
    (None drops the job); ``stage_filter`` gets the names of the SQL
    metrics a stage's tasks updated and decides whether they count."""
    stage_desc: Dict[int, str] = {}
    stage_names: Dict[int, set] = {}
    out: Dict[str, dict] = {}
    tasks: List[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = group((ev.get("Properties") or {}).get(
                "spark.job.description") or "(untagged)")
            if desc is None:
                continue
            out.setdefault(desc, _empty())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            ev["_sql"] = _sql_updates(ev)
            stage_names.setdefault(ev["Stage ID"], set()).update(ev["_sql"])
            tasks.append(ev)
    counted_stages = set()
    for ev in tasks:
        sid = ev["Stage ID"]
        desc = stage_desc.get(sid)
        if desc is None or (stage_filter is not None
                            and not stage_filter(stage_names[sid])):
            continue
        agg = out.setdefault(desc, _empty())
        if (desc, sid) not in counted_stages:
            counted_stages.add((desc, sid))
            agg["stages"] += 1
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        agg["tasks"] += 1
        agg["failed_tasks"] += int(bool(info.get("Failed")))
        agg["task_s"].append(
            (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
        agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        agg["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0))
        agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                       or {}).get("Shuffle Bytes Written", 0)
        agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
        for name, v in ev["_sql"].items():
            agg["sql"][name] = agg["sql"].get(name, 0) + v
    for agg in out.values():
        durations = sorted(agg.pop("task_s"))
        agg["task_s_p50"] = statistics.median(durations) if durations else 0.0
        agg["task_s_max"] = durations[-1] if durations else 0.0
    return out

