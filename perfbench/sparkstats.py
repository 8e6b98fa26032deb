"""Execution-engine numbers per operation, read from outside the engine.

Every operation runs under its own Spark job group. Job counts come from
the status tracker while the run goes on; stage metrics (tasks, shuffle,
spill, input, executor run/CPU/GC time) come from the UI's REST API once
the run is over, the same API ``functions/introspect.py`` reads.
"""

from __future__ import annotations

import json
import urllib.request
from collections import defaultdict

EXEC_FIELDS = (
    "stages",
    "tasks",
    "single_task_stages",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


class JobCounter:
    """Counts the jobs the groups of the current operation have started."""

    def __init__(self, sc) -> None:
        self._tracker = sc.statusTracker()
        self.groups: list[str] = []

    def __call__(self) -> int:
        return sum(len(self._tracker.getJobIdsForGroup(g)) for g in list(self.groups))


def stage_metrics_by_group(sc) -> dict[str, dict[str, float]]:
    """Sum the completed stages' metrics per job group; skipped stages
    (whose shuffle output an earlier job had already written) add nothing."""
    ui = sc.uiWebUrl
    if not ui:
        return {}
    base = f"{ui}/api/v1/applications/{sc.applicationId}"
    jobs = _get_json(f"{base}/jobs")
    stages = _get_json(f"{base}/stages")
    stage_group: dict[int, str] = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            stage_group.setdefault(sid, j.get("jobGroup") or "")
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))
    seen: set[int] = set()
    for s in stages:
        sid = s.get("stageId")
        if s.get("status") != "COMPLETE" or sid in seen or sid not in stage_group:
            continue
        seen.add(sid)
        m = out[stage_group[sid]]
        tasks = int(s.get("numCompleteTasks", s.get("numTasks", 0)))
        m["stages"] += 1
        m["tasks"] += tasks
        m["single_task_stages"] += int(tasks == 1)
        m["shuffle_read_bytes"] += int(s.get("shuffleReadBytes", 0))
        m["shuffle_write_bytes"] += int(s.get("shuffleWriteBytes", 0))
        m["spill_bytes"] += int(s.get("diskBytesSpilled", 0))
        m["input_bytes"] += int(s.get("inputBytes", 0))
        m["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
        m["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
    return dict(out)
