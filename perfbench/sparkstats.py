"""Spark engine counters, read from outside the program.

Jobs, tasks and failed tasks come from the status tracker, filtered by a
job group the benchmark sets around one operation. Shuffle, spill and
input bytes and per-task durations come from the monitoring REST API of
the local UI, which the benchmark enables only on traced runs.
"""

from __future__ import annotations

import json
import statistics
import urllib.request


def group_stage_ids(sc, group: str) -> list[int]:
    st = sc.statusTracker()
    ids: list[int] = []
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        if info is not None:
            ids.extend(info.stageIds)
    return sorted(set(ids))


def tracker_counts(sc, group: str) -> dict[str, float]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for sid in group_stage_ids(sc, group):
        info = st.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.tasks": tasks, "spark.failed_tasks": failed}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode())


def rest_counts(sc, group: str) -> dict[str, float]:
    """Byte counters and task skew for the stages of ``group``.

    ``spark.task_skew`` is the largest, over stages with at least two
    tasks, of the longest task's duration over the median task's.
    """
    base = sc.uiWebUrl
    if not base:
        return {}
    base = base.rstrip("/") + f"/api/v1/applications/{sc.applicationId}"
    wanted = set(group_stage_ids(sc, group))
    out = {
        "spark.shuffle_write_bytes": 0.0,
        "spark.spill_bytes": 0.0,
        "spark.input_bytes": 0.0,
        "spark.task_skew": 0.0,
    }
    # one request: with details the stage list carries every task
    for stage in _get(base + "/stages?status=complete&details=true"):
        if stage["stageId"] not in wanted:
            continue
        out["spark.shuffle_write_bytes"] += stage.get("shuffleWriteBytes", 0)
        out["spark.spill_bytes"] += stage.get("memoryBytesSpilled", 0) + stage.get(
            "diskBytesSpilled", 0
        )
        out["spark.input_bytes"] += stage.get("inputBytes", 0)
        durs = [t["duration"] for t in stage.get("tasks", {}).values() if t.get("duration")]
        if len(durs) >= 2 and statistics.median(durs) > 0:
            out["spark.task_skew"] = max(
                out["spark.task_skew"], max(durs) / statistics.median(durs)
            )
    return out
