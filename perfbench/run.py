"""NWDAF engine benchmark.

    python3 perfbench/run.py --workload push_paced --seed 1 --seconds 30 --trace 0

Runs one workload against the package's public entry points, checks the
outputs, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}.  `--trace 0` reports the
end-to-end metrics; `--trace 1` reruns with spans, job counts and the
timing subclasses switched on and reports the per-layer metrics instead.
Everything the run writes stays under perfbench/.work and perfbench/.data
of the checkout.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import sys
import time

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s",
    "op_p50_s": "s",
    "cold_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {  # name -> unit; a layer a workload does not use reports 0
    "session.get_spark_s": "s",
    "subscriptions.add_s": "s",
    "subscriptions.load_s": "s",
    "http_shim.notify_ms_p50": "ms",
    "http_shim.notify_ms_max": "ms",
    "http_shim.accepted": "count",
    "http_shim.rejected_400": "count",
    "http_shim.rejected_403": "count",
    "generator.late_ms_max": "ms",
    "ingest.batches": "count",
    "ingest.rows_per_batch_p50": "count",
    "ingest.trigger_ms_p50": "ms",
    "ingest.addBatch_ms_p50": "ms",
    "ingest.queryPlanning_ms_p50": "ms",
    "ingest.walCommit_ms_p50": "ms",
    "ingest.commitOffsets_ms_p50": "ms",
    "ingest.latestOffset_ms_p50": "ms",
    "ingest.getBatch_ms_p50": "ms",
    "ingest.phase_coverage": "ratio",
    "ingest.callback_ms_p50": "ms",
    "ingest.outside_callback_ms_p50": "ms",
    "ingest.backlog_files_max": "count",
    "nef.normalize_s": "s",
    "nef.records_out": "count",
    "nef.records_dropped": "count",
    "sinks.flight_ms_p50": "ms",
    "sinks.flight_records": "count",
    "sinks.flight_messages": "count",
    "ws_egress.batch_ms_p50": "ms",
    "ws_egress.broadcasts": "count",
    "ws_egress.frames_sent": "count",
    "ws_egress.broadcast_us_p50": "us",
    "catalog.load_calls": "count",
    "catalog.load_ms_p50": "ms",
    "catalog.load_jobs": "count",
    "queries.build_s_p50": "s",
    "queries.build_jobs": "count",
    "queries.plan_s_p50": "s",
    "queries.cold_build_s": "s",
    "queries.cold_build_jobs": "count",
    "queries.exec_s_p50": "s",
    "queries.exec_jobs": "count",
    "queries.exec_stages": "count",
    "queries.exec_tasks": "count",
    "queries.failed_tasks": "count",
    "queries.phase_coverage": "ratio",
    "self_s.session": "s",
    "self_s.subscriptions": "s",
    "self_s.ingest": "s",
    "self_s.sinks": "s",
    "self_s.ws_egress": "s",
    "self_s.nef": "s",
    "self_s.catalog": "s",
    "self_s.queries": "s",
    "trace.setup_s": "s",
    "trace.op_p50_s": "s",
    "trace.cold_s": "s",
}

WORKLOADS = ("push_paced", "query_mix")


class Run:
    """What one invocation knows: its arguments, its work directory, and
    the outcome the workload fills in."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.traced)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(msg)


def _prepare_env(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the checkout,
    and size the session for a small shared host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the library's heap knob; its 8g default is sized for a dedicated host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell')
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for var in ("SPARK_GRAFT_CACHE", "SPARK_GRAFT_COLD_FANOUT"):
        os.environ.pop(var, None)  # the library's default posture
    import tempfile

    tempfile.tempdir = tmp


def _tree(pid: int) -> list[int]:
    """pid and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process, the JVM and
    the JVM's Python workers: the system under test's process tree."""
    total_kb = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def shutdown_spark() -> None:
    """Stop the session, then the JVM and its workers, and wait for them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    pids = [p for p in _tree(os.getpid()) if p != os.getpid()]
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="NWDAF engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:  # the program under test must come from this checkout
        pkg = importlib.import_module("pei_nwdaf_data_ingestion_spark.session")
        importlib.import_module("pyspark")
        if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"package found outside the checkout: {pkg.__file__}")
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    run = Run(args, work)
    module = importlib.import_module(args.workload)
    t0 = time.monotonic()
    try:
        module.run(run)
        run.e2e["peak_rss_mb"] = peak_rss_mb()
    finally:
        t1 = time.monotonic()
        shutdown_spark()
    print(f"perfbench: workload {t1 - t0:.1f} s, shutdown {time.monotonic() - t1:.1f} s",
          file=sys.stderr)
    if run.traced:
        os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(
            HERE, ".work", "traces", f"{args.workload}-{args.seed}.json"))
        for layer, secs in run.tracer.self_seconds().items():
            if f"self_s.{layer}" in run.layers:
                run.layers[f"self_s.{layer}"] = secs
        for k in ("setup_s", "op_p50_s", "cold_s"):
            run.layers[f"trace.{k}"] = run.e2e[k]
        names = PER_LAYER
        values = run.layers
    else:
        names = END_TO_END
        values = run.e2e
    shutil.rmtree(work, ignore_errors=True)
    line = result_line(run, names, values)
    for p in run.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(line, flush=True)
    return 0


def result_line(run: Run, names: dict, values: dict) -> str:
    """The last stdout line: strict JSON whatever the workload left behind.
    A metric without a finite value reads 0 and fails the run."""
    metrics = {}
    for name, unit in names.items():
        v = values.get(name)
        try:
            v = float(v)
        except (TypeError, ValueError):
            v = math.nan
        if not math.isfinite(v):
            run.fail(f"metric {name} has no finite value")
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}
    return json.dumps({"correct": run.failed == 0, "attempted": max(1, run.attempted),
                       "failed": run.failed, "metrics": metrics}, allow_nan=False)


if __name__ == "__main__":
    sys.exit(main())
