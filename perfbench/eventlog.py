"""Reader for Spark's uncompressed JSON event log, aggregated per job group.

The traced run sets a job group around each call into a layer. A job
submitted with no group (a thread the program starts itself does not
inherit the caller's group) is attributed to the span whose wall-clock
window contains its submission time, when such windows are given.

Per group it sums, over the tasks of the group's stages: executor CPU and
run time, task count, shuffle bytes written and read, spill, and the
MapInPandas SQL metrics (time to run / initialize / start Python workers,
bytes sent to and returned from Python workers). Task skew is taken on the
group's busiest stage: its slowest task's run time over its median.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

_PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    exec_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    py_run_s: float = 0.0
    py_init_s: float = 0.0
    py_start_s: float = 0.0
    arrow_to_py_mb: float = 0.0
    arrow_from_py_mb: float = 0.0
    task_skew: float = 0.0
    stage_run_ms: dict[int, list[int]] = field(default_factory=dict, repr=False)


def read_events(path: str) -> Iterator[dict]:
    """Events from one log file, or from a rolling log directory
    (`eventlog_v2_<app>/events_<n>_<app>`, read in `n` order)."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        files = [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def find_log(log_dir: str, app_id: str) -> str:
    """The event log an application wrote into `log_dir`."""
    for name in os.listdir(log_dir):
        if re.fullmatch(rf"(eventlog_v2_)?{re.escape(app_id)}", name):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def aggregate(
    events: Iterable[dict], windows: Iterable[tuple[str, float, float]] = ()
) -> dict[str, GroupStats]:
    """Job group -> stats. `windows` are (group, start_s, end_s) in epoch
    seconds, used to place jobs that carry no group."""
    windows = list(windows)
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def group_of(job: dict) -> str | None:
        g = (job.get("Properties") or {}).get("spark.jobGroup.id")
        if g:
            return g
        t = job["Submission Time"] / 1000.0
        return next((w for w, t0, t1 in windows if t0 <= t <= t1), None)

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = group_of(ev)
            if g is None:
                continue
            out.setdefault(g, GroupStats()).jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None or ev.get("Task Metrics") is None:
                continue
            st, m = out[g], ev["Task Metrics"]
            st.tasks += 1
            st.exec_cpu_s += m["Executor CPU Time"] / 1e9
            st.exec_run_s += m["Executor Run Time"] / 1e3
            st.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            rd = m["Shuffle Read Metrics"]
            st.shuffle_read_mb += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / 2**20
            st.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
            st.stage_run_ms.setdefault(ev["Stage ID"], []).append(m["Executor Run Time"])
            for acc in ev["Task Info"].get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is None:
                    continue
                v = float(acc.get("Update") or 0)
                if key.endswith("_ms"):
                    setattr(st, key[:-3] + "_s", getattr(st, key[:-3] + "_s") + v / 1e3)
                elif key == "py_sent_bytes":
                    st.arrow_to_py_mb += v / 2**20
                else:
                    st.arrow_from_py_mb += v / 2**20
    for st in out.values():
        st.stages = len(st.stage_run_ms)
        if st.stage_run_ms:
            busiest = max(st.stage_run_ms.values(), key=sum)
            st.task_skew = max(busiest) / max(statistics.median(busiest), 1.0)
    return out
