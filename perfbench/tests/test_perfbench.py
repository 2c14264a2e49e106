"""Tests for the benchmark's own code: input generators, the event-log
reader, the span recorder and the metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

RECORDED = os.path.join(HERE, "data", "eventlog")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- generators -----------------------------------------------------------


def _table(path: str):
    return pq.read_table(path).sort_by("doc_id")


def test_planted_corpus_is_deterministic_per_seed():
    a = workloads.gen_planted_corpus(200, seed=5)
    assert a == workloads.gen_planted_corpus(200, seed=5)
    assert a[0]["text"] != workloads.gen_planted_corpus(200, seed=6)[0]["text"]


def test_planted_corpus_layout():
    docs, ev = workloads.gen_planted_corpus(100, seed=1)
    sources = list(range(0, 100, workloads.FAMILY_EVERY))
    copies = [d for d in docs["doc_id"] if d >= workloads.COPY_BASE]
    assert sorted(d % workloads.COPY_BASE for d in copies) == sorted(sources * workloads.COPIES)
    assert ev["doc_id"] == list(range(0, 100, workloads.CONTAM_EVERY))
    text = dict(zip(docs["doc_id"], docs["text"]))
    for d in copies:
        src, cp = text[d % workloads.COPY_BASE].split(), text[d].split()
        assert len(src) == len(cp) and sum(a != b for a, b in zip(src, cp)) <= 1


@pytest.mark.parametrize("cls", sorted(workloads.WORKLOADS.values(), key=lambda c: c.name))
def test_workload_inputs_are_deterministic_per_seed(cls, tmp_path):
    def small(seed):
        wl = cls(seed)
        wl.n_docs = 40
        wl.n_media = 4
        return wl

    for sub in ("a", "b"):
        small(3).prepare(str(tmp_path / sub))
    small(4).prepare(str(tmp_path / "c"))
    key = small(3).key()
    for part in ("docs",):
        a = _table(str(tmp_path / "a" / key / part))
        assert a.equals(_table(str(tmp_path / "b" / key / part)))
        assert not a.equals(_table(str(tmp_path / "c" / small(4).key() / part)))


def test_cached_input_builds_once(tmp_path):
    calls = []

    def build(out):
        calls.append(out)
        os.makedirs(out)

    p1 = workloads.cached_input(str(tmp_path), "k", build)
    p2 = workloads.cached_input(str(tmp_path), "k", build)
    assert p1 == p2 == str(tmp_path / "k") and len(calls) == 1
    assert not [n for n in os.listdir(tmp_path) if ".tmp-" in n]


# -- event-log reader -----------------------------------------------------


def _task(stage, launch, finish, run_ms, cpu_ns, accs=(), sw=0, local=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Failed": False,
            "Killed": False, "Accumulables": list(accs),
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Local Bytes Read": local, "Remote Bytes Read": 0},
        },
    }


def _write_rolling(tmp_path, events_per_file):
    app = tmp_path / "eventlog_v2_local-1700000000000"
    app.mkdir()
    (app / "appstatus_local-1700000000000").write_text("")
    # written out of order: the reader must order by the file index
    for idx in reversed(range(len(events_per_file))):
        path = app / f"events_{idx + 1}_local-1700000000000"
        path.write_text("".join(json.dumps(e) + "\n" for e in events_per_file[idx]))
    return str(app)


def test_summarize_rolling_log_numbers(tmp_path):
    mb = 1 << 20
    plan = {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "sparkPlanInfo": {
            "nodeName": "WholeStageCodegen (1)",
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
            "children": [{
                "nodeName": "ArrowEvalPython",
                "metrics": [{"name": "number of output rows", "accumulatorId": 9}],
                "children": [],
            }],
        },
    }
    job = {
        "Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
        "Properties": {"spark.job.description": "r:1"},
    }
    py = [
        {"ID": 5, "Name": eventlog.PY_RUN, "Update": "1500"},
        {"ID": 6, "Name": eventlog.PY_SENT, "Update": str(2 * mb)},
        {"ID": 8, "Name": eventlog.PY_RECV, "Update": str(mb)},
        {"ID": 9, "Name": "number of output rows", "Update": "40"},
        {"ID": 7, "Name": "number of output rows", "Update": "999"},
        {"ID": 4, "Name": eventlog.PY_START, "Update": "250"},
    ]
    events = [
        [plan, job,
         _task(0, 0, 1000, 900, 10**8, py, sw=mb),
         _task(0, 0, 3000, 2900, 2 * 10**8, py, sw=mb)],
        [_task(0, 100, 1100, 950, 10**8),
         _task(1, 3000, 3500, 400, 10**8, local=2 * mb, spill=mb),
         {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
         _task(2, 0, 10, 5, 10**6)],
    ]
    groups = eventlog.summarize(eventlog.read_events(_write_rolling(tmp_path, events)))
    g = groups["r:1"]
    assert g["tasks"] == 4
    assert g["task_s"] == pytest.approx(5.15)
    assert g["cpu_s"] == pytest.approx(0.5)
    assert g["python_run_s"] == pytest.approx(3.0)
    assert g["python_start_s"] == pytest.approx(0.5)
    assert g["sent_mb"] == pytest.approx(4.0)
    assert g["recv_mb"] == pytest.approx(2.0)
    assert g["rows_recv"] == 80
    assert g["shuffle_write_mb"] == pytest.approx(2.0)
    assert g["shuffle_read_mb"] == pytest.approx(2.0)
    assert g["spill_mb"] == pytest.approx(1.0)
    # heaviest stage 0: durations 1, 3, 1 s -> max 3 / median 1
    assert eventlog.heaviest_stage_skew(g) == pytest.approx(3.0)
    assert groups[None]["tasks"] == 1
    both = eventlog.merge([g, groups[None]])
    assert both["tasks"] == 5 and len(both["windows"]) == 5


def test_summarize_recorded_spark_log():
    """A log Spark 4.1 wrote (rolling, zstd; the environment event and
    local paths taken out) for: under description "rec:1",
    ``spark.range(0, 1000, 1, 4)`` through an identity ``mapInArrow``
    then ``groupBy(id % 3).count()`` collected; then an undescribed
    ``spark.range(10).count()``."""
    apps = eventlog.app_logs(RECORDED)
    assert len(apps) == 1
    files = eventlog.log_files(apps[0])
    assert files and all(f.endswith(".zstd") for f in files)
    groups = eventlog.summarize(eventlog.read_events(apps[0]))
    g = groups["rec:1"]
    assert g["rows_recv"] == 1000
    assert g["sent_mb"] > 0 and g["recv_mb"] > 0 and g["python_run_s"] > 0
    assert g["shuffle_write_mb"] > 0
    assert g["shuffle_read_mb"] == pytest.approx(g["shuffle_write_mb"])
    # four map tasks, then the reduce side
    assert len(g["stage_tasks"]) >= 2
    assert min(len(d) for d in g["stage_tasks"].values()) >= 1
    assert max(len(d) for d in g["stage_tasks"].values()) == 4
    assert groups[None]["rows_recv"] == 0


# -- tracer ---------------------------------------------------------------


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):  # noqa: N802 - Spark's name
        self.descriptions.append(value)


def test_tracer_self_time_and_descriptions():
    sc = _FakeContext()
    t = Tracer(sc, "r")
    with t.span("root") as root:
        with t.span("a"):
            with t.span("a.1"):
                pass
        with t.span("b"):
            pass
    # fix the clock so the arithmetic is exact
    times = {"root": (0.0, 10.0), "a": (1.0, 4.0), "a.1": (2.0, 3.0), "b": (5.0, 6.0)}
    for s in t.spans:
        s["start"], s["end"] = times[s["name"]]
    assert t.self_time(root) == pytest.approx(6.0)
    assert t.self_time(t.spans[1]) == pytest.approx(2.0)
    assert [s["name"] for s in t.descendants(root["id"])] == ["a", "b", "a.1"]
    assert sc.descriptions == ["r:0", "r:1", "r:2", "r:1", "r:0", "r:3", "r:0", None]


def test_tracer_patched_restores_and_names_by_argument():
    class Table:
        def __init__(self, path):
            self.path = path

        def append(self, df):
            return df

    t = Tracer(_FakeContext(), "r")
    orig = Table.append
    with t.patched([(Table, "append", lambda self, *a: f"append.{self.path}")]):
        assert Table("out").append(1) == 1
        Table("lineage").append(2)
    assert Table.append is orig
    assert [s["name"] for s in t.spans] == ["append.out", "append.lineage"]
    assert t.count("append.out") == 1


# -- metric names ---------------------------------------------------------


def test_metric_names_and_units():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert not set(run.END_TO_END) & set(run.PER_LAYER)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert NAME.match(w["name"])
