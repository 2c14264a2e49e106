#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. The program is the ``ocr_tool_spark``
package next to this directory; the benchmark only calls its public
functions and reads the Spark event log of its own session.

- Inputs come from ``--seed`` (``workloads.py``) and are cached under
  ``perfbench/.work/inputs``; generating them is not set-up.
- Set-up is JVM and session start, input load and two untimed warm-up
  runs, done once per process: a cold set-up costs 30-50 s on a 4-core
  host, so repeating it does not fit the benchmark's time budget.
- The load is a closed loop at ``local[nproc]`` from one Spark driver
  process: the next run starts when the previous action has returned,
  until ``--seconds`` have passed and at least two runs are done.
  ``docs_per_s`` is the median over those runs. Cache and the
  operators' pinned intermediates are released after every run.
- ``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also runs
  the workload once with spans on (``tracing.py``), then the per-layer
  probes, and prints the per-layer metrics from the spans and the
  event log (``eventlog.py``). Layers a workload does not reach read 0.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> {value, unit}). ``attempted`` counts
the timed runs plus the output check; ``failed`` those that raised or
failed a check. The output check reads what the first warm-up run wrote.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the heap is committed and touched at JVM start, so peak RSS does not
# depend on when the collector chose to grow it
DRIVER_MEMORY = "2g"

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_ok": "fraction",
}

PER_LAYER = {
    "stage.task_s": "s",
    "stage.cpu_s": "s",
    "stage.python_wait_frac": "fraction",
    "stage.util": "fraction",
    "stage.skew": "ratio",
    "stage.shuffle_write_mb": "MB",
    "stage.shuffle_read_mb": "MB",
    "stage.spill_mb": "MB",
    "stage.tasks": "count",
    "arrow.sent_mb": "MB",
    "arrow.recv_mb": "MB",
    "arrow.python_run_s": "s",
    "arrow.python_start_s": "s",
    "arrow.rows_recv": "count",
    "html.branch_s": "s",
    "html.kernel_ms_per_mb": "ms/MB",
    "html.text_spans": "count",
    "ocr.branch_s": "s",
    "ocr.kernel_ms_per_page": "ms/page",
    "ocr.pages": "count",
    "ocr.distinct_ref_frac": "fraction",
    "spans.reassemble_s": "s",
    "spans.shuffle_mb": "MB",
    "runner.fingerprint_s": "s",
    "runner.stage_s": "s",
    "runner.batches": "count",
    "runner.commit_batch_s": "s",
    "storage.append_output_s": "s",
    "storage.append_lineage_s": "s",
    "storage.out_mb": "MB",
    "storage.out_files": "count",
    "dedup.pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "fraction",
    "dedup.components_s": "s",
    "decontam.s": "s",
    "pack.s": "s",
    "dataprep.kernel_us_per_doc": "us/doc",
    "trace.coverage": "fraction",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def host_env() -> int:
    """Fit the run to this host and keep its files in the checkout:
    cores from the CPU affinity mask (what ``nproc`` reports), the
    repo root on the Python workers' path, Spark's scratch and temp
    files under ``perfbench/.work``. Returns the core count."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT, os.path.join(ROOT, "tests")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the launcher JVM would otherwise leave perf data under the system tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
    )
    sys.path[:0] = paths[:2]
    return len(os.sched_getaffinity(0))


def start_session(cores: int, event_dir: str):
    from ocr_tool_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # Spark 4.1 defaults: rolling, zstd-compressed logs
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_hwm_mb(pid: int) -> float:
    """Summed ``VmHWM`` of ``pid`` and every process below it (the JVM
    and its Python daemon and workers), in MiB."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, root: dict, groups: dict, cores: int, untraced_s: list[float]) -> dict:
    """Per-layer metrics from the spans and the event-log groups: the
    ``stage.*`` and ``arrow.*`` figures cover the traced full run (span
    ``root`` and everything below it), the rest their own probe spans."""
    from eventlog import heaviest_stage_skew, merge

    def group(span_ids) -> dict:
        return merge([groups[tracer.description(i)] for i in span_ids if tracer.description(i) in groups])

    def probe(name) -> dict:
        ids = [s["id"] for s in tracer.spans if s["name"] == name]
        ids += [d["id"] for i in ids for d in tracer.descendants(i)]
        return group(ids)

    below = tracer.descendants(root["id"])
    full = group([root["id"], *(s["id"] for s in below)])
    wall = root["end"] - root["start"]
    busy_s = sum(f - lo for lo, f in full["windows"]) / 1e3
    return {
        "stage.task_s": full["task_s"],
        "stage.cpu_s": full["cpu_s"],
        "stage.python_wait_frac": full["python_run_s"] / full["task_s"] if full["task_s"] else 0.0,
        "stage.util": busy_s / (cores * wall),
        "stage.skew": heaviest_stage_skew(full),
        "stage.shuffle_write_mb": full["shuffle_write_mb"],
        "stage.shuffle_read_mb": full["shuffle_read_mb"],
        "stage.spill_mb": full["spill_mb"],
        "stage.tasks": float(full["tasks"]),
        "arrow.sent_mb": full["sent_mb"],
        "arrow.recv_mb": full["recv_mb"],
        "arrow.python_run_s": full["python_run_s"],
        "arrow.python_start_s": full["python_start_s"],
        "arrow.rows_recv": float(full["rows_recv"]),
        "html.branch_s": tracer.total("probe.html"),
        "html.text_spans": float(probe("probe.html")["rows_recv"]),
        "ocr.branch_s": tracer.total("probe.ocr"),
        "ocr.pages": float(probe("probe.ocr")["rows_recv"]),
        "spans.reassemble_s": tracer.total("probe.reassemble"),
        "spans.shuffle_mb": probe("probe.reassemble")["shuffle_write_mb"],
        "runner.fingerprint_s": tracer.total("runner.input_fingerprint"),
        "runner.stage_s": tracer.total("runner.stage_input"),
        "runner.batches": float(tracer.count("storage.append_output")),
        "storage.append_output_s": tracer.total("storage.append_output"),
        "storage.append_lineage_s": tracer.total("storage.append_lineage"),
        "dedup.pairs_s": tracer.total("probe.pairs"),
        "dedup.components_s": tracer.total("probe.components"),
        "decontam.s": tracer.total("probe.decontam"),
        "pack.s": tracer.total("probe.pack"),
        "trace.coverage": sum(tracer.self_time(s) for s in below) / wall,
        "trace.overhead_s": wall - statistics.median(untraced_s) if untraced_s else 0.0,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_tool_spark")):
        print(f"perfbench: no ocr_tool_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = host_env()
    wl = workloads.WORKLOADS[args.workload](args.seed)
    wl.prepare(os.path.join(WORK, "inputs"))

    tag = f"{os.getpid()}-{time.time_ns()}"
    event_dir = os.path.join(WORK, "eventlog", tag)
    runs_dir = os.path.join(WORK, "runs", tag)
    os.makedirs(event_dir)
    os.makedirs(runs_dir)
    try:
        return measure(args, wl, cores, event_dir, runs_dir)
    finally:
        shutil.rmtree(event_dir, ignore_errors=True)
        shutil.rmtree(runs_dir, ignore_errors=True)


@dataclass
class Outcome:
    setup_s: float
    walls: list[float]
    peak_rss_mb: float
    attempted: int
    failed: int
    checks_passed: int
    checks_made: int
    trace: tuple | None


def measure(args, wl, cores: int, event_dir: str, runs_dir: str) -> int:
    t0 = time.perf_counter()
    spark = start_session(cores, event_dir)
    try:
        o = drive(args, wl, spark, t0, runs_dir)
    finally:
        stop_jvm(spark)
    layers = None if o.trace is None else finish_layers(*o.trace, event_dir, cores, o.walls)

    e2e = {
        "docs_per_s": statistics.median(wl.docs_total / w for w in o.walls) if o.walls else 0.0,
        "setup_s": o.setup_s,
        "peak_rss_mb": o.peak_rss_mb,
        "output_ok": o.checks_passed / o.checks_made,
    }
    metrics, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)

    print(f"# {wl.name} seed={wl.seed} local[{cores}] docs={wl.docs_total} "
          f"runs={len(o.walls)} ops_failed={o.failed}/{o.attempted}")
    for k, v in {**e2e, **(layers or {})}.items():
        print(f"#   {k:28s} {v:14.4f} {END_TO_END.get(k) or PER_LAYER[k]}")
    print(json.dumps({
        "correct": o.failed == 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def drive(args, wl, spark, t0: float, runs_dir: str) -> Outcome:
    """Set-up, the closed loop, the output check and (``--trace 1``) the
    traced run, all in the live session started at ``t0``."""
    from pyspark import SparkContext

    t1 = time.perf_counter()
    wl.load(spark)
    t2 = time.perf_counter()
    # the first warm-up run writes the output the check reads; the
    # second brings the JIT close enough to steady state that the first
    # timed run is not an outlier
    warm_out = os.path.join(runs_dir, "warm")
    wl.run(spark, warm_out)
    spark.catalog.clearCache()
    wl.run(spark)
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - t0
    log(f"setup: {setup_s:.2f} s (session {t1 - t0:.2f}, load {t2 - t1:.2f})")

    # at least two timed runs: with runs this long, whether a second one
    # fits the window would otherwise decide the median
    walls = []
    attempted = failed = 0
    deadline = time.perf_counter() + args.seconds
    while attempted < 2 or time.perf_counter() < deadline:
        attempted += 1
        spark.catalog.clearCache()
        start = time.perf_counter()
        try:
            wl.run(spark)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        finally:
            spark.catalog.clearCache()
        walls.append(time.perf_counter() - start)
    log(f"timed runs: {[round(w, 2) for w in walls]}")
    peak_rss = tree_hwm_mb(SparkContext._gateway.proc.pid)  # noqa: SLF001

    attempted += 1
    try:
        passed, made = wl.check(warm_out)
    except Exception:
        traceback.print_exc()
        passed, made = 0, 1
    if passed < made:
        failed += 1
    log(f"output check: {passed}/{made}")

    return Outcome(
        setup_s, walls, peak_rss, attempted, failed, passed, made,
        traced(wl, spark, runs_dir) if args.trace else None,
    )


def traced(wl, spark, runs_dir: str):
    """One traced run of the workload, then the layer probes. Returns
    what ``finish_layers`` needs once the event log is complete."""
    from tracing import Tracer

    tracer = Tracer(spark.sparkContext, f"pb{os.getpid()}")
    spark.catalog.clearCache()
    with tracer.patched(wl.trace_targets()), tracer.span("run") as root:
        wl.run(spark, tracer=tracer)
    spark.catalog.clearCache()
    extra = wl.probes(spark, tracer, os.path.join(runs_dir, "probe"))
    spark.catalog.clearCache()
    extra.update(wl.kernel_probes())
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces", f"{wl.key()}.json"))
    return tracer, root, extra


def finish_layers(tracer, root, extra, event_dir, cores, walls) -> dict:
    import eventlog

    app = eventlog.app_logs(event_dir)[-1]
    groups = eventlog.summarize(eventlog.read_events(app))
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(layer_metrics(tracer, root, groups, cores, walls))
    out.update(extra)
    return out


if __name__ == "__main__":
    sys.exit(main())
