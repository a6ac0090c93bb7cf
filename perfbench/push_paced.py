"""push_paced: open-loop NEF notifications through the whole ingest path.

The pipeline is composed from the shipped pieces exactly as a deployment
would: NotifyHTTPShim (known ids from a real SubscriptionStore) spools
each accepted POST; build_ingest_stream normalizes it; one foreachBatch
callback publishes to Arrow Flight (the Kafka stand-in, a real gRPC
socket) and then fans out to WebSocket subscribers, the reference's
publish-then-broadcast order.  The load generator is a separate process
(loadgen.py) that POSTs on a fixed schedule and times each notification
from its due time to the arrival of its last record at a subscriber.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time

import loadgen
from stats import check_coverage, p50

from pei_nwdaf_data_ingestion_spark.pipeline.nef import (
    NOTIFICATION,
    SUBSCRIPTION,
    normalize_notifications,
)
from pei_nwdaf_data_ingestion_spark.pipeline.subscriptions import SubscriptionStore
from pei_nwdaf_data_ingestion_spark.session import get_spark
from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NotifyHTTPShim
from pei_nwdaf_data_ingestion_spark.streaming.ingest import build_ingest_stream
from pei_nwdaf_data_ingestion_spark.streaming.sinks import FlightSpoolServer, flight_foreach_batch
from pei_nwdaf_data_ingestion_spark.streaming.ws_egress import WsEgress, ws_fanout_foreach_batch

WARM_SETUPS = 2  # setup_s: median of this many set-ups after the JVM launch
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")


class TimedWsEgress(WsEgress):
    """WsEgress that counts and times every broadcast (traced run only)."""

    def __init__(self, tracer) -> None:
        super().__init__()
        self.tracer = tracer
        self.broadcasts = 0
        self.frames_sent = 0

    def broadcast(self, notif_id: str, message: dict) -> int:
        with self.tracer.span("ws_egress.broadcast"):
            sent = super().broadcast(notif_id, message)
        self.broadcasts += 1
        self.frames_sent += sent
        return sent


class Pipeline:
    """One running instance of the ingest path and its set-up timings."""

    def __init__(self, run, rep: int) -> None:
        tr, d = run.tracer, os.path.join(run.work, f"rep{rep}")
        self.spool = os.path.join(d, "spool")
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = get_spark()
        t1 = time.perf_counter()
        with tr.span("subscriptions.add"):
            store = SubscriptionStore(self.spark, os.path.join(d, "subscriptions"))
            for sub in loadgen.SUBSCRIPTIONS:
                store.add(dict(sub))
        t2 = time.perf_counter()
        with tr.span("subscriptions.load"):
            subs = store.load()
            self.ids = [r["notif_id"] for r in subs.select("notif_id").collect()]
        t3 = time.perf_counter()
        self.shim = NotifyHTTPShim(self.spool, self.ids)
        self.shim_address = self.shim.start()
        self.flight = FlightSpoolServer()
        self.egress = TimedWsEgress(tr) if run.traced else WsEgress()
        self.egress.start()
        publish = flight_foreach_batch(self.flight.location)
        fan_out = ws_fanout_foreach_batch(self.egress)

        def on_batch(batch, epoch_id):
            with tr.span("ingest.callback", op=epoch_id):
                with tr.span("sinks.flight"):
                    publish(batch, epoch_id)
                with tr.span("ws_egress.batch"):
                    fan_out(batch, epoch_id)

        self.query = (
            build_ingest_stream(self.spark, self.spool, subs)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(d, "checkpoint"))
            .start()
        )
        host, port = self.egress.address
        for notif_id in self.ids:  # a subscriber can connect and register
            sub = loadgen.WsSubscriber(host, port, notif_id)
            _wait(lambda n=notif_id: self.egress.connections(n) >= 1, 10, "WS connect")
            sub.close()
        t4 = time.perf_counter()
        self.timings = {"setup": t4 - t0, "session": t1 - t0,
                        "add": t2 - t1, "load": t3 - t2}

    def close(self) -> None:
        self.query.stop()
        self.shim.stop()
        self.flight.close()
        self.egress.stop()


def _wait(cond, timeout: float, what: str) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.01)


def _backlog_monitor(pipe: Pipeline, stop: threading.Event, out: list) -> None:
    """Sample spooled-but-unconsumed files: a growing backlog means the
    offered rate is above what the stream sustains."""
    while not stop.wait(0.25):
        spooled = sum(1 for f in os.listdir(pipe.spool) if f.endswith(".json"))
        prog = pipe.query.lastProgress
        end = prog["sources"][0].get("endOffset") if prog and prog["sources"] else None
        # the file source's offset renders as "{'logOffset': N}"
        m = re.search(r"logOffset\D+(\d+)", str(end))
        out.append(spooled - (int(m.group(1)) + 1 if m else 0))


def _drive(run, pipe: Pipeline) -> dict:
    """Start the generator process, release it once its subscribers are
    registered, and return its result."""
    shim_host, shim_port = pipe.shim_address
    ws_host, ws_port = pipe.egress.address
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
         "--seed", str(run.seed), "--seconds", str(run.seconds),
         "--shim", f"{shim_host}:{shim_port}", "--ws", f"{ws_host}:{ws_port}"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        if gen.stdout.readline().strip() != "READY":
            raise RuntimeError("load generator failed to start")
        _wait(lambda: all(pipe.egress.connections(n) >= 1 for n in pipe.ids), 10,
              "generator subscribers")
        stop, backlog = threading.Event(), [0]
        mon = threading.Thread(target=_backlog_monitor, args=(pipe, stop, backlog))
        if run.traced:
            mon.start()
        try:
            gen.stdin.write("GO\n")
            gen.stdin.flush()
            out, _ = gen.communicate(timeout=run.seconds + loadgen.DRAIN_S + 60)
        finally:
            stop.set()
            if mon.is_alive():
                mon.join()
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited {gen.returncode}")
        result = json.loads(out.strip().splitlines()[-1])
        result["backlog_max"] = max(backlog)
        return result
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()


def _flight_records(run, flight: FlightSpoolServer) -> tuple[list[dict], int]:
    """Every record received at Flight, and the number of messages."""
    recs, messages = [], 0
    for tables in list(flight.tables.values()):
        for row in (r for t in tables for r in t.to_pylist()):
            messages += 1
            batch = json.loads(row["payload"])
            if len(batch) != row["n_records"]:
                run.fail(f"Flight message of {row['notifId']}: n_records "
                         f"{row['n_records']} but {len(batch)} records")
            recs.extend({**r, "notifId": row["notifId"]} for r in batch)
    return recs, messages


def _check(run, sends: list[dict], gen: dict, flight_recs: list[dict]) -> list[float]:
    """Compare every response and every received record with the model;
    returns the notify-to-WS latency of each valid notification in order
    (None where it failed)."""
    ws_at: dict[tuple, list] = {}
    for f in gen["frames"]:
        ws_at.setdefault(loadgen.record_key(f["data"] or {}), []).append(f)
    at_flight: dict[tuple, list] = {}
    for r in flight_recs:
        at_flight.setdefault(loadgen.record_key(r), []).append(r)
    latencies, known = [], set()
    for i, (send, post) in enumerate(zip(sends, gen["posts"])):
        model = loadgen.expected(json.loads(send["body"]))
        run.attempted += 1
        if post["status"] != model["status"]:
            run.fail(f"POST {i}: status {post['status']}, expected {model['status']}")
            if model["status"] == 204:
                latencies.append(None)
            continue
        if model["status"] != 204:
            continue
        ok, last = True, 0.0
        for want in model["records"]:
            key = loadgen.record_key(want)
            known.add(key)
            got_f, got_w = at_flight.get(key, []), ws_at.get(key, [])
            if len(got_f) != 1 or not loadgen.record_matches(got_f[0], want):
                ok = False
            if len(got_w) != 1 or not loadgen.record_matches(got_w[0]["data"], want):
                ok = False
            else:
                last = max(last, got_w[0]["t"])
        if not ok:
            run.fail(f"POST {i}: records missing, duplicated or wrong at Flight/WS")
        latencies.append(last - send["due"] if ok else None)
    extra = sum(len(v) for k, v in at_flight.items() if k not in known)
    extra += sum(len(v) for k, v in ws_at.items() if k not in known)
    if extra:
        run.fail(f"{extra} records at Flight/WS that no notification should produce", extra)
    return latencies


def _normalize_batch(run, pipe: Pipeline, sends: list[dict]) -> None:
    """nef layer: normalize_notifications as one batch call over the same
    accepted bodies, reconciled with the model."""
    accepted = [json.loads(s["body"]) for s in sends
                if loadgen.expected(json.loads(s["body"]))["status"] == 204]
    path = os.path.join(run.work, "normalize_input.json")
    with open(path, "w") as f:
        f.writelines(json.dumps(b) + "\n" for b in accepted)
    spark = pipe.spark
    subs = spark.createDataFrame([dict(s) for s in loadgen.SUBSCRIPTIONS], SUBSCRIPTION)
    t0 = time.perf_counter()
    with run.tracer.span("nef.normalize"):
        out = normalize_notifications(spark.read.schema(NOTIFICATION).json(path), subs)
        n_out = out.count()
    run.layers["nef.normalize_s"] = time.perf_counter() - t0
    models = [loadgen.expected(b) for b in accepted]
    want_out = sum(len(m["records"]) for m in models)
    want_drop = sum(m["dropped"] for m in models)
    n_drop = sum(m["infos"] for m in models) - n_out
    run.layers["nef.records_out"] = n_out
    run.layers["nef.records_dropped"] = n_drop
    run.attempted += 1
    if (n_out, n_drop) != (want_out, want_drop):
        run.fail(f"batch normalize: {n_out} out / {n_drop} dropped, model "
                 f"{want_out} / {want_drop}")


def run(run) -> None:
    pipe = Pipeline(run, 0)  # the first set-up launches the JVM: not part of setup_s
    first, setups = pipe.timings["setup"], []
    _warm_up(run, pipe)
    for rep in range(1, 1 + WARM_SETUPS):
        pipe.close()
        pipe.spark.stop()
        pipe = Pipeline(run, rep)
        setups.append(pipe.timings)
    run.e2e["setup_s"] = p50(t["setup"] for t in setups)
    print(f"perfbench: set-ups s {first:.2f} (JVM launch), then " + " ".join(
        f"{t['setup']:.2f}" for t in setups), file=sys.stderr)
    try:
        _measure(run, pipe, setups)
    finally:
        pipe.close()


def _warm_up(run, pipe: Pipeline) -> None:
    """Run one notification through the first pipeline and wait for its
    micro-batch, so the measured pipeline meets a JVM whose batch path has
    run once.  The body comes from a seed the measured run never uses."""
    host, port = pipe.shim_address
    t0 = time.perf_counter()
    body = loadgen.push_paced(-1 - run.seed, 1)[0]["body"]  # always a valid one
    status, _ = loadgen._post(host, port, body)
    if status != 204:
        raise RuntimeError(f"warm-up notification answered {status}")
    pipe.query.processAllAvailable()
    print(f"perfbench: warm-up {time.perf_counter() - t0:.2f} s", file=sys.stderr)


def _measure(run, pipe: Pipeline, setups: list[dict]) -> None:
    sends = loadgen.push_paced(run.seed, run.seconds)
    t_start = time.perf_counter()
    gen = _drive(run, pipe)
    flight_recs, messages = _flight_records(run, pipe.flight)
    latencies = _check(run, sends, gen, flight_recs)
    print("perfbench: notify-to-WS s " + " ".join(
        "-" if x is None else f"{x:.3f}" for x in latencies), file=sys.stderr)
    warm = [x for x in latencies[1:] if x is not None]
    run.e2e["op_p50_s"] = p50(warm)
    run.e2e["cold_s"] = latencies[0] if latencies and latencies[0] is not None else 0.0
    if not run.traced:
        return
    L = run.layers
    L["session.get_spark_s"] = p50(t["session"] for t in setups)
    L["subscriptions.add_s"] = p50(t["add"] for t in setups)
    L["subscriptions.load_s"] = p50(t["load"] for t in setups)
    posts = gen["posts"]
    L["http_shim.notify_ms_p50"] = p50(p["post_ms"] for p in posts)
    L["http_shim.notify_ms_max"] = max(p["post_ms"] for p in posts)
    for key, status in (("accepted", 204), ("rejected_400", 400), ("rejected_403", 403)):
        L[f"http_shim.{key}"] = sum(p["status"] == status for p in posts)
    L["generator.late_ms_max"] = max(p["late_ms"] for p in posts)
    L["ingest.backlog_files_max"] = gen["backlog_max"]
    # the last records reach WS inside their batch, before its progress is
    # reported: let the stream finish before reading the progress log
    pipe.query.processAllAvailable()
    _wait(lambda: sum(p["numInputRows"] > 0 for p in pipe.query.recentProgress)
          >= L["http_shim.accepted"], 10, "the last batch's progress")
    batches = [p for p in pipe.query.recentProgress if p["numInputRows"] > 0]
    L["ingest.batches"] = len(batches)
    L["ingest.rows_per_batch_p50"] = p50(p["numInputRows"] for p in batches)
    L["ingest.trigger_ms_p50"] = p50(p["durationMs"]["triggerExecution"] for p in batches)
    for ph in PHASES:
        L[f"ingest.{ph}_ms_p50"] = p50(p["durationMs"].get(ph, 0) for p in batches)
    L["ingest.phase_coverage"] = check_coverage("ingest.phase_coverage", p50(
        sum(p["durationMs"].get(ph, 0) for ph in PHASES) / p["durationMs"]["triggerExecution"]
        for p in batches))
    # per-batch spans of the measured pipeline only, not the warm-up's
    tr = run.tracer
    callback = {s["op"]: s["end"] - s["start"] for s in tr.spans
                if s["name"] == "ingest.callback" and s["start"] >= t_start}
    L["ingest.callback_ms_p50"] = p50(v * 1e3 for v in callback.values())
    L["ingest.outside_callback_ms_p50"] = p50(
        p["durationMs"]["addBatch"] - callback[p["batchId"]] * 1e3
        for p in batches if p["batchId"] in callback)
    L["sinks.flight_ms_p50"] = p50(d * 1e3 for d in tr.durations("sinks.flight", t_start))
    L["sinks.flight_records"] = len(flight_recs)
    L["sinks.flight_messages"] = messages
    L["ws_egress.batch_ms_p50"] = p50(d * 1e3 for d in tr.durations("ws_egress.batch", t_start))
    L["ws_egress.broadcasts"] = pipe.egress.broadcasts
    L["ws_egress.frames_sent"] = pipe.egress.frames_sent
    L["ws_egress.broadcast_us_p50"] = p50(
        d * 1e6 for d in tr.durations("ws_egress.broadcast", t_start))
    _normalize_batch(run, pipe, sends)
