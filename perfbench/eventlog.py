"""Spark event-log reader for the benchmark's traced runs.

Reads Spark 4.1's default layout: a rolling ``eventlog_v2_<app>/``
directory of ``events_<n>_<app>[.zstd]`` files, zstd-compressed by
default (decoded with pyarrow, which the image already has). A
single-file log (rolling turned off) reads the same way.

``summarize`` folds task-end events into per-job-description totals:
task time, CPU time, shuffle and spill bytes, per-stage task-duration
spread, and the Python SQL metrics Spark attaches to the Arrow/pandas
UDF nodes (time to run / start Python workers, bytes sent to and
returned from them, rows the Python nodes emitted). The benchmark's
tracer gives every span its own job description, so each span's
Spark work is one key of the result.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from collections.abc import Iterator

import pyarrow as pa

MB = float(1 << 20)

# plan nodes that run Python: ArrowEvalPython, BatchEvalPython,
# MapInArrow, MapInPandas, FlatMapGroupsInPandas, ...
_PY_NODE = re.compile(r"Python|InArrow|InPandas")
_ROLL_FILE = re.compile(r"^events_(\d+)_")

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _open_text(path: str) -> Iterator[str]:
    if path.endswith(".zstd"):
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
            data = s.read()
        yield from data.decode("utf-8").splitlines()
        return
    if os.path.splitext(path)[1] in (".lz4", ".lzf", ".snappy"):
        raise ValueError(f"unsupported event-log codec: {path}")
    with open(path, encoding="utf-8") as f:
        yield from f


def log_files(app_log: str) -> list[str]:
    """The files of one application's log, in write order."""
    if not os.path.isdir(app_log):
        return [app_log]
    rolled = []
    for name in os.listdir(app_log):
        m = _ROLL_FILE.match(name)
        if m:
            rolled.append((int(m.group(1)), os.path.join(app_log, name)))
    return [p for _, p in sorted(rolled)]


def app_logs(event_dir: str) -> list[str]:
    """Every application log in a ``spark.eventLog.dir``, oldest first
    (local app ids end in the start time in ms)."""
    out = [
        os.path.join(event_dir, n)
        for n in os.listdir(event_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    return sorted(out, key=lambda p: int((re.findall(r"\d+", os.path.basename(p)) or [0])[-1]))


def read_events(app_log: str) -> Iterator[dict]:
    for path in log_files(app_log):
        for line in _open_text(path):
            line = line.strip()
            if line:
                yield json.loads(line)


def _walk_plan(node: dict, py_row_ids: set[int]) -> None:
    if _PY_NODE.search(node.get("nodeName", "")):
        for m in node.get("metrics", ()):
            if m["name"] == "number of output rows":
                py_row_ids.add(int(m["accumulatorId"]))
    for child in node.get("children", ()):
        _walk_plan(child, py_row_ids)


def _new_group() -> dict:
    return {
        "tasks": 0,
        "task_s": 0.0,
        "cpu_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "python_run_s": 0.0,
        "python_start_s": 0.0,
        "sent_mb": 0.0,
        "recv_mb": 0.0,
        "rows_recv": 0,
        # stage id -> task durations (s), for max/median skew
        "stage_tasks": defaultdict(list),
        # (launch ms, finish ms) per task, for utilization
        "windows": [],
    }


def summarize(events) -> dict[str, dict]:
    """Per job description (None for jobs without one): totals over
    every successful task of the jobs that carried it."""
    stage_desc: dict[int, str | None] = {}
    py_row_ids: set[int] = set()
    groups: dict[str | None, dict] = defaultdict(_new_group)
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            for sid in e.get("Stage IDs", ()):
                stage_desc[sid] = desc
        elif "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], py_row_ids)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                continue
            g = groups[stage_desc.get(e["Stage ID"])]
            tm = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (
                sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            ) / MB
            g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            g["stage_tasks"][e["Stage ID"]].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
            g["windows"].append((info["Launch Time"], info["Finish Time"]))
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if name == PY_RUN:
                    g["python_run_s"] += upd / 1e3
                elif name == PY_START:
                    g["python_start_s"] += upd / 1e3
                elif name == PY_SENT:
                    g["sent_mb"] += upd / MB
                elif name == PY_RECV:
                    g["recv_mb"] += upd / MB
                elif name == "number of output rows" and acc.get("ID") in py_row_ids:
                    g["rows_recv"] += upd
    return dict(groups)


def merge(groups: list[dict]) -> dict:
    """Sum several description groups into one."""
    out = _new_group()
    for g in groups:
        for k, v in g.items():
            if k == "stage_tasks":
                for sid, d in v.items():
                    out["stage_tasks"][sid].extend(d)
            elif k == "windows":
                out["windows"].extend(v)
            else:
                out[k] += v
    return out


def heaviest_stage_skew(group: dict) -> float:
    """max / median task duration of the stage with the most task time:
    the stage whose stragglers cost the most wall time."""
    stages = [d for d in group["stage_tasks"].values() if d]
    if not stages:
        return 0.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0
