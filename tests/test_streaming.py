"""Structured Streaming ingest tests: the streaming path shares
pipeline/nef.py with batch, so stream output must equal batch output on the
same payloads; cross-batch state (discovered fields) accumulates like the
reference's module-level set (receiver.py:45-46,394-410)."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from pei_nwdaf_data_ingestion_spark.pipeline.nef import (
    NOTIFICATION,
    SUBSCRIPTION,
    normalize_notifications,
)
from pei_nwdaf_data_ingestion_spark.pipeline.subscriptions import SubscriptionStore
from pei_nwdaf_data_ingestion_spark.streaming.ingest import (
    build_ingest_stream,
    run_to_memory,
    write_notifications_json,
)
from tests.test_reference_fidelity import COMM_NOTIF, MOBILITY_NOTIF, PERF_NOTIF, SUB


def _canon(rows):
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        out.append(json.dumps(d, sort_keys=True, default=str))
    return sorted(out)


def test_stream_matches_batch(spark):
    """Each payload becomes its own micro-batch (maxFilesPerTrigger=1);
    streaming output == batch output of the same transform."""
    payloads = [PERF_NOTIF, MOBILITY_NOTIF, COMM_NOTIF]
    subs = spark.createDataFrame([SUB], SUBSCRIPTION)
    with tempfile.TemporaryDirectory(prefix="nef_stream_") as d:
        write_notifications_json(payloads, d)
        stream = build_ingest_stream(spark, d, subs)
        assert stream.isStreaming
        run_to_memory(stream, "nef_stream_out")
        got = spark.table("nef_stream_out").drop("ts_unix").collect()

        batch_df = spark.createDataFrame(payloads, NOTIFICATION)
        want = normalize_notifications(batch_df, subs).drop("ts_unix").collect()

    # ts_unix dropped: the streaming fallback is the spool file's mtime and
    # the batch one current_timestamp (the fallback has its own test below)
    assert _canon(got) == _canon(want)
    assert len(got) == 3


def _spool(spool, name: str, payload: dict, mtime: int | None = None) -> None:
    """Atomically place one notification file in the stream's spool (write
    aside, then rename), optionally with a given modification time."""
    tmp = spool.parent / (name + ".tmp")
    tmp.write_text(json.dumps(payload) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, spool / name)


def _plan_node_names(plan) -> list[str]:
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _plan_node_names(children.apply(i))
    return names


def _start_collecting(stream, checkpoint: str, out: list):
    return (
        stream.writeStream.foreachBatch(lambda batch, _: out.extend(batch.collect()))
        .option("checkpointLocation", checkpoint)
        .start()
    )


def test_ingest_plan_stays_compiled_and_join_free(spark, tmp_path):
    """Every NEF micro-batch reuses the generated code of the first (no
    per-batch literal reaches whole-stage codegen) and runs without a join,
    an exchange or adaptive query stages: the subscription context is a
    literal map lookup.  It reads its input once: one scan and no union,
    every event family's records come out of one explode."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    subs = spark.createDataFrame([SUB], SUBSCRIPTION)
    spool = tmp_path / "spool"
    spool.mkdir()
    got: list = []
    q = _start_collecting(
        build_ingest_stream(spark, str(spool), subs), str(tmp_path / "ckpt"), got
    )
    try:
        counts = []
        for i, payload in enumerate([PERF_NOTIF, MOBILITY_NOTIF, COMM_NOTIF, PERF_NOTIF]):
            _spool(spool, f"notif_{i}.json", payload)
            q.processAllAvailable()
            counts.append(compiles.getCount())
        names = _plan_node_names(q._jsq.streamingQuery().lastExecution().executedPlan())
    finally:
        q.stop()
    assert len(got) == 4
    assert counts[1:] == [counts[0]] * 3, counts
    shuffling = [n for n in names if "Join" in n or "Exchange" in n or n == "AdaptiveSparkPlan"]
    assert not shuffling, names
    scans = [n for n in names if n.startswith("Scan")]
    assert len(scans) == 1 and "Union" not in names, names


def test_stream_fallback_is_the_spool_receive_time(spark, tmp_path):
    """In a stream, an info without a usable event time gets the time the
    shim accepted the POST: the spool file's modification time, in seconds
    (the reference's now(), receiver.py:128)."""
    received = 1_700_000_123
    perf = json.loads(json.dumps(PERF_NOTIF))
    perf["eventNotifs"][0]["perfDataInfos"][0]["timeStamp"] = "not-a-date"
    mob = json.loads(json.dumps(MOBILITY_NOTIF))
    mob["eventNotifs"][0]["ueMobilityInfos"][0]["ueTrajs"] = []
    spool = tmp_path / "spool"
    spool.mkdir()
    _spool(spool, "notif_0.json", perf, mtime=received)
    _spool(spool, "notif_1.json", mob, mtime=received)
    subs = spark.createDataFrame([SUB], SUBSCRIPTION)
    run_to_memory(build_ingest_stream(spark, str(spool), subs), "nef_fallback_out")
    rows = spark.table("nef_fallback_out").collect()
    assert sorted((r["event"], r["ts_unix"]) for r in rows) == [
        ("PERF_DATA", received),
        ("UE_MOBILITY", received),
    ]


def test_stream_reads_the_subscription_snapshot_it_was_built_with(spark, tmp_path):
    """The running stream holds the subscription dimension as read when it
    was built: a subscription added later is in the store but gets no
    records through until the stream is restarted."""
    store = SubscriptionStore(spark, str(tmp_path / "subs"))
    store.add(dict(SUB))
    late = dict(SUB, notif_id="late-notif")
    spool, ckpt = tmp_path / "spool", str(tmp_path / "ckpt")
    spool.mkdir()
    got: list = []
    q = _start_collecting(build_ingest_stream(spark, str(spool), store.load()), ckpt, got)
    try:
        _spool(spool, "notif_0.json", PERF_NOTIF)
        q.processAllAvailable()
        store.add(late)
        _spool(spool, "notif_1.json", dict(PERF_NOTIF, notifId="late-notif"))
        q.processAllAvailable()
    finally:
        q.stop()
    assert "late-notif" in {s["notif_id"] for s in store.list()}
    assert len(got) == 1 and got[0]["dnn"] == "internet"

    # restarted from its checkpoint, the stream reads the store again
    _spool(spool, "notif_2.json", dict(PERF_NOTIF, notifId="late-notif"))
    q = _start_collecting(build_ingest_stream(spark, str(spool), store.load()), ckpt, got)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == 2


def test_flight_then_ws_delivers_each_record_once(spark, tmp_path):
    """push_paced's composition: each payload is one spool file through
    build_ingest_stream(spark, spool, store.load()) into one foreachBatch
    that publishes to Flight and then fans out to WS.  Each non-empty
    micro-batch reaches Flight as one message per notif_id under its epoch
    (an unknown notifId's empty batch puts nothing), each subscriber gets
    each of its records as one frame, and Flight, WS and the batch
    normalize of the same files hold the same records, once each.  A put
    to a closed server raises from the sink call."""
    from collections import Counter

    from pyarrow import flight

    from pei_nwdaf_data_ingestion_spark.streaming.sinks import (
        FlightSpoolServer,
        flight_foreach_batch,
    )
    from pei_nwdaf_data_ingestion_spark.streaming.ws_egress import (
        WsEgress,
        ws_fanout_foreach_batch,
    )
    from tests.test_ws_egress import WsClient, _wait

    store = SubscriptionStore(spark, str(tmp_path / "subs"))
    store.add(dict(SUB))
    store.add(dict(SUB, notif_id="n2", dnn="ims"))
    multi = dict(PERF_NOTIF, eventNotifs=[
        en for n in (PERF_NOTIF, MOBILITY_NOTIF, COMM_NOTIF) for en in n["eventNotifs"]
    ])
    payloads = [multi, dict(PERF_NOTIF, notifId="n2"), dict(PERF_NOTIF, notifId="ghost")]
    spool = tmp_path / "spool"
    spool.mkdir()
    with FlightSpoolServer() as srv, WsEgress() as egress:
        publish = flight_foreach_batch(srv.location)
        fan_out = ws_fanout_foreach_batch(egress)

        def on_batch(batch, epoch_id):
            publish(batch, epoch_id)
            fan_out(batch, epoch_id)

        host, port = egress.address
        clients = [WsClient(host, port, s["notif_id"]) for s in store.list()]
        q = None
        try:
            _wait(lambda: all(egress.connections(s["notif_id"]) for s in store.list()))
            q = (
                build_ingest_stream(spark, str(spool), store.load())
                .writeStream.foreachBatch(on_batch)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .start()
            )
            for i, payload in enumerate(payloads):
                _spool(spool, f"notif_{i}.json", payload)
                q.processAllAvailable()
            frames = []
            for c in clients:
                while True:
                    try:
                        frames.append(c.recv_json(timeout=0.5))
                    except OSError:  # socket.timeout: no frame left
                        break
        finally:
            if q is not None:
                q.stop()
            for c in clients:
                c.close()
        tables = {path: [t.to_pylist() for t in ts] for path, ts in srv.tables.items()}
        location = srv.location
    batch = spark.read.schema(NOTIFICATION).json(str(spool))
    with pytest.raises(flight.FlightError):
        flight_foreach_batch(location)(batch, 9)
    want = [json.loads(r) for r in normalize_notifications(batch, store.load()).toJSON().collect()]

    assert sorted(tables) == ["notifId/epoch=0", "notifId/epoch=1"]
    flight_recs = []
    for path, puts in tables.items():
        assert len(puts) == 1 and len(puts[0]) == 1, path  # one put, one key
        row = puts[0][0]
        payload = json.loads(row["payload"])
        assert row["n_records"] == len(payload)
        ts = [r["ts_unix"] for r in payload]
        assert ts == sorted(ts)  # one sorted array per key
        flight_recs += [dict(r, notifId=row["notifId"]) for r in payload]

    def bag(recs):
        return Counter(json.dumps(r, sort_keys=True) for r in recs)

    assert len(want) == 4
    assert all(f["type"] == "data_ingested" for f in frames)
    assert bag(flight_recs) == bag(f["data"] for f in frames) == bag(want)


@pytest.mark.parametrize(
    "subs, offending",
    [
        ([SUB, dict(SUB, dnn="other")], "test-notif-001"),
        ([SUB, dict(SUB, notif_id=None)], "null notif_id"),
    ],
)
def test_malformed_subscription_dimension_fails_loudly(spark, subs, offending):
    """A duplicate or null notif_id in the dimension raises at the call
    site instead of fanning each record out once per duplicate row."""
    notifs = spark.createDataFrame([PERF_NOTIF], NOTIFICATION)
    with pytest.raises(ValueError, match=offending):
        normalize_notifications(notifs, spark.createDataFrame(subs, SUBSCRIPTION))


def test_streaming_windowed_ingest_matches_batch(spark):
    """The stream_ingest_pipeline query (watermark + tumbling window) must
    produce exactly the batch win_tumbling_1h result on the same data - no
    rows lost to the watermark when the stream is drained with availableNow."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    # RAW_QUERIES: the registered rows-only spelling appends the driver-
    # facing result_digest column; the dual compares raw tuples
    got = registry.RAW_QUERIES["stream_ingest_pipeline"](spark, sf)
    want = registry.QUERIES["win_tumbling_1h"](spark, sf)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    # append mode emits a window only once the watermark passes its end:
    # the trailing (still-open) windows are correctly withheld at stream end
    assert g <= w
    missing = w - g
    max_start = max(r[0] for r in w)
    assert all(r[0] == max_start for r in missing), missing


def test_stream_late_drop_drops(spark):
    """Late rows (second micro-batch behind the watermark) must NOT appear:
    output counts < full batch counts."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    out = registry.QUERIES["stream_late_drop"](spark, sf)
    kept = out.agg(F.sum("n")).collect()[0][0]
    total = spark.read.parquet(f"{sf}/events.parquet").count()
    assert kept < total


def test_stream_dedup_restores_original_counts(spark):
    from pei_nwdaf_data_ingestion_spark import registry
    from pei_nwdaf_data_ingestion_spark.catalog import load

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        (r["event_type"], r["n_unique"])
        for r in registry.QUERIES["stream_dedup"](spark, sf).collect()
    }
    want = {
        (r["event_type"], r["n"])
        for r in load(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_udf_parse_matches_native(spark):
    """udf_scalar_parse (pandas UDF) must equal ref_unit_parse (native
    expressions) - the self-oracle for the UDF extension point."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    udf_out = registry.QUERIES["udf_scalar_parse"](spark, sf).collect()
    native = registry.QUERIES["ref_unit_parse"](spark, sf).collect()
    assert sorted(map(tuple, udf_out)) == sorted(map(tuple, native))


def test_stream_stateful_counts_accumulates_across_batches(spark):
    """applyInPandasWithState: per-key GroupState survives micro-batch
    boundaries, so the final update per key equals the batch aggregate over
    ALL events (the operator forces two micro-batches internally)."""
    import math

    from pei_nwdaf_data_ingestion_spark import registry
    from pei_nwdaf_data_ingestion_spark.catalog import load

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["n_events"], r["value_sum"])
        for r in registry.QUERIES["stream_stateful_counts"](spark, sf).collect()
    }
    want = {
        (r["user_id"], r["n"], math.floor(r["s"] * 100.0 + 0.5) / 100.0)
        for r in load(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_session_window_matches_batch_sessionization(spark):
    """session_window on the stream must carve the same sessions as the
    batch lag/flag/running-sum formulation (win_session_gap): same
    (user_id, n_events) multiset."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in registry.QUERIES["stream_session_window"](spark, sf).collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"])
        for r in registry.QUERIES["win_session_gap"](spark, sf).collect()
    )
    assert got == want


def test_session_window_exact_gap_boundary_pair(spark, tmp_path):
    """Pins the session boundary rule at the exact-gap delta forever
    (VERDICT r3 #6): user 1 has two events exactly 30:00 apart -> ONE
    session (session_window merges at exactly gap); user 2 has two events
    30:01 apart -> TWO sessions.  Both the streaming session_window and
    the batch lag/flag dual must produce these counts, on second-
    granularity timestamps (the reference's unit, receiver.py:78-84)."""
    import datetime as dt

    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    base = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    rows = [
        (1, 1, base, 0.0, "click"),
        (2, 1, base + dt.timedelta(minutes=30), 1.0, "click"),
        (3, 2, base, 2.0, "click"),
        (4, 2, base + dt.timedelta(minutes=30, seconds=1), 3.0, "click"),
    ]
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double, event_type string"
    )
    sf_dir = str(tmp_path / "boundary")
    (tmp_path / "boundary").mkdir()
    sdf.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in registry.QUERIES["stream_session_window"](spark, sf_dir).collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"])
        for r in registry.QUERIES["win_session_gap"](spark, sf_dir).collect()
    )
    assert got == want
    assert got == [(1, 2), (2, 1), (2, 1)]


def test_checkpoint_restart_processes_each_file_once(spark, tmp_path):
    """Exactly-once on the source side: a stream restarted from its
    checkpoint must process only files that arrived while it was down -
    nothing from before the stop is replayed into foreachBatch."""
    from pei_nwdaf_data_ingestion_spark.catalog import load

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events").select("event_id", "user_id", "value")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.parquet(f"{src}/batch1")

    seen: list[int] = []

    def run_once():
        def fb(batch, epoch_id):
            seen.extend(r["event_id"] for r in batch.select("event_id").collect())

        q = (
            spark.readStream.schema(ev.schema)
            .parquet(f"{src}/*")
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first_ids = {r["event_id"] for r in first.collect()}
    assert set(seen) == first_ids and len(seen) == len(first_ids)

    second.coalesce(1).write.parquet(f"{src}/batch2")
    run_once()  # restart from checkpoint: only batch2 is new
    all_ids = first_ids | {r["event_id"] for r in second.collect()}
    assert set(seen) == all_ids
    assert len(seen) == len(all_ids)  # nothing replayed twice


def test_session_window_skewed_key_matches_batch(spark, tmp_path):
    """Skew probe (VERDICT r2 #6 / round-1 item 8): one user holds ~50% of
    all events; the streaming session_window and the batch lag/flag/
    running-sum dual must still carve identical sessions, and a pure-Python
    sessionizer over the hot key must agree with both.  Session boundary
    rule (verified empirically against Spark's session_window): an event
    landing EXACTLY `gap` after the previous one MERGES into the session;
    a new session opens only when the delta strictly exceeds the gap."""
    import datetime as dt

    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    gap_min = 30
    base = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    rows = []
    eid = 0

    def emit(user, minutes):
        nonlocal eid
        rows.append(
            (eid, user, base + dt.timedelta(minutes=minutes), float(eid % 7), "click")
        )
        eid += 1

    # hot user 1: 500 events, a deterministic mix of intra-session gaps
    # (2-7 min) and boundary probes (30/40/50 min).  The exactly-30-min
    # steps MERGE (inclusive boundary); only the 40/50-min steps break.
    m = 0.0
    hot_breaks = 0
    for i in range(500):
        step = 2 + (i % 6)  # 2..7 minutes
        if i % 25 == 24:
            step = gap_min + (i % 3) * 10  # 30 merges; 40/50 -> new session
            if step > gap_min:
                hot_breaks += 1
        m += step
        emit(1, m)
    # 50 cold users x 10 events each, one mid-stream session break
    for u in range(2, 52):
        m = u * 3.0
        for i in range(10):
            m += 40.0 if i == 5 else 4.0
            emit(u, m)
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double, event_type string"
    )
    sf_dir = str(tmp_path / "skewfix")
    (tmp_path / "skewfix").mkdir()
    sdf.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    got = sorted(
        (r["user_id"], r["n_events"])
        for r in registry.QUERIES["stream_session_window"](spark, sf_dir).collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"])
        for r in registry.QUERIES["win_session_gap"](spark, sf_dir).collect()
    )
    assert got == want
    # independent oracle on the hot key: only the strictly->gap steps opened
    # a new session, so the hot user has hot_breaks+1 sessions of 500 events
    hot = [(u, n) for u, n in got if u == 1]
    assert len(hot) == hot_breaks + 1
    assert sum(n for _, n in hot) == 500
    # and the skewed key must not have collapsed the batch plan to a global
    # (unpartitioned) window
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        registry.QUERIES["win_session_gap"](spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    assert "PartitionBy: []" not in plan


def test_stream_windowed_topk_matches_batch_rank(spark):
    """The streamed windowed counts + batch rank must equal ranking the
    batch tumbling aggregate directly; every window emits at most 3 rows
    and ranks are 1..k without gaps."""
    from pyspark.sql import Window as W

    from pei_nwdaf_data_ingestion_spark import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    got = sorted(
        (r["hour_start"], r["rank"], r["event_type"], r["n"])
        for r in registry.QUERIES["stream_windowed_topk"](spark, SF_DIR).collect()
    )
    batch = registry.QUERIES["win_tumbling_1h"](spark, SF_DIR)
    w = W.partitionBy("hour_start").orderBy(F.desc("n"), "event_type")
    want = sorted(
        (r["hour_start"], r["rank"], r["event_type"], r["n"])
        for r in batch.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("hour_start", "rank", "event_type", "n")
        .collect()
    )
    assert got == want
    per_window: dict = {}
    for hour, rank, _, _ in got:
        per_window.setdefault(hour, []).append(rank)
    for hour, ranks in per_window.items():
        assert ranks == list(range(1, len(ranks) + 1)), hour
        assert len(ranks) <= 3


def test_stream_static_enrich_matches_batch_join(spark):
    """Stream-static broadcast enrichment drained to completion must equal
    the same join+agg run in batch."""
    from pei_nwdaf_data_ingestion_spark import registry
    from pei_nwdaf_data_ingestion_spark.catalog import load
    from tests.conftest import SF_DIR

    registry.load_all()
    got = sorted(
        (r["c_mktsegment"], r["event_type"], r["n"], r["value_sum"])
        for r in registry.QUERIES["stream_static_enrich"](spark, SF_DIR).collect()
    )
    ev = load(spark, SF_DIR, "events")
    cust = load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    from pei_nwdaf_data_ingestion_spark.functions import pround

    want = sorted(
        (r["c_mktsegment"], r["event_type"], r["n"], r["value_sum"])
        for r in ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), pround(F.sum("value"), 2).alias("value_sum"))
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_stream_minhash_dedup_matches_batch_dual(spark):
    """Ingest-time MinHash dedup must award each band bucket to the same
    document the batch rule would (first arrival = min doc_id under the
    single-file deterministic source): identical (doc_id, n_band_wins)
    multiset, and every document present exactly once."""
    from pei_nwdaf_data_ingestion_spark import registry
    from pei_nwdaf_data_ingestion_spark.catalog import load
    from pei_nwdaf_data_ingestion_spark.queries.llm import minhash_band_cols

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    out = registry.QUERIES["stream_minhash_dedup"](spark, sf).toPandas()
    docs = load(spark, sf, "documents")
    assert len(out) == docs.count()
    assert len(set(out.doc_id)) == len(out)

    # batch dual: min doc_id wins each (band_id, sig) bucket
    banded = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    ).select("doc_id", *minhash_band_cols())
    wins: dict[int, int] = {}
    for b in range(4):
        for r in (
            banded.groupBy(F.col(f"band{b}").alias("sig"))
            .agg(F.min("doc_id").alias("winner"))
            .collect()
        ):
            wins[r["winner"]] = wins.get(r["winner"], 0) + 1
    want = sorted((d, wins.get(d, 0)) for d in out.doc_id)
    got = sorted(zip(out.doc_id, out.n_band_wins))
    assert got == want
    # near-dup flag consistent with the win count
    assert all(
        (n < 4) == flag for _, n, flag in out[["doc_id", "n_band_wins", "is_near_dup"]].itertuples(index=False)
    )


def test_stream_attribution_state_matches_batch_window(spark):
    """The stateful streaming attribution must credit exactly the purchases
    the batch union+window query credits (same click, same lag), with the
    time-split micro-batches proving state survives the batch boundary."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["purchase_id"], r["user_id"], r["attributed_click_id"], r["lag_us"])
        for r in registry.QUERIES["stream_attribution_state"](spark, sf).collect()
    )
    want = sorted(
        (r["purchase_id"], r["user_id"], r["attributed_click_id"], r["lag_us"])
        for r in registry.QUERIES["events_attribution_lasttouch"](spark, sf).collect()
        if r["attributed_click_id"] is not None
    )
    assert got == want and len(got) > 0


def test_stream_inactivity_flush_matches_watermark_rule(spark):
    """EventTimeTimeout semantics recomputed in batch over the exact
    micro-batch schedule the query runs (data batch 1, data batch 2, final
    no-data batch): no timeout can fire in batch 1 (watermark still 0); a
    group with NO batch-2 data flushes in batch 2 if its batch-1 timeout
    precedes wm1 = max(b1 ts) - 10 min; every surviving group flushes in
    the final no-data batch if its timeout precedes wm_final = max(all ts)
    - 10 min.  Totals must equal the group's event totals at flush time."""
    import math
    from collections import defaultdict

    from pei_nwdaf_data_ingestion_spark import registry
    from pei_nwdaf_data_ingestion_spark.catalog import load

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["user_id"], r["day"], r["n_events"], r["value_sum"])
        for r in registry.QUERIES["stream_inactivity_flush"](spark, sf).collect()
    )

    ev = load(spark, sf, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        "value",
    )
    rows = ev.collect()
    med = sorted(r["us"] for r in rows)[len(rows) // 2 - (len(rows) + 1) % 2]
    # percentile_approx(0.5) picks the lower-middle element for even n;
    # recompute the exact same split the query wrote
    b1 = [r for r in rows if r["us"] < med]
    gap_ms = 30 * 60 * 1000
    wm1_ms = max(r["us"] for r in b1) // 1000 - 10 * 60 * 1000
    wmf_ms = max(r["us"] for r in rows) // 1000 - 10 * 60 * 1000

    g1 = defaultdict(lambda: [0, 0.0, 0])  # batch-1 totals per group
    ga = defaultdict(lambda: [0, 0.0, 0])  # all-data totals per group
    for r in rows:
        tgt = [ga] if r["us"] >= med else [g1, ga]
        for d in tgt:
            g = d[(r["user_id"], r["day"])]
            g[0] += 1
            g[1] += r["value"]
            g[2] = max(g[2], r["us"] // 1000)
    want = []
    for key, (n_all, s_all, last_all) in ga.items():
        in_b2 = key not in g1 or ga[key][0] > g1[key][0]
        if not in_b2 and g1[key][2] + gap_ms < wm1_ms:
            n, s, _ = g1[key]  # flushed in batch 2 with batch-1 totals
        elif last_all + gap_ms < wmf_ms:
            n, s = n_all, s_all  # flushed in the final no-data batch
        else:
            continue  # still active at end of stream: never emitted
        want.append((key[0], key[1], n, math.floor(s * 100.0 + 0.5) / 100.0))
    assert got == sorted(want) and len(got) > 0


def test_stream_cdc_upsert_matches_batch_lastwins(spark):
    """The foreachBatch CDC merge's final state table must equal the batch
    last-write-wins upsert row-for-row; the two time-split micro-batches
    prove the merge preserves batch-1 winners and replaces superseded
    ones."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["ts_ms"])
        for r in registry.QUERIES["stream_cdc_upsert"](spark, sf).collect()
    )
    want = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["ts_ms"])
        for r in registry.QUERIES["ref_upsert_lastwins"](spark, sf).collect()
    )
    assert got == want and len(got) > 0


def test_stream_sliding_hll_within_sketch_tolerance(spark):
    """Streaming HLL distinct-user counts per sliding window must sit
    within the configured rsd band of the exact batch countDistinct."""
    from pyspark.sql import functions as F

    from pei_nwdaf_data_ingestion_spark import registry
    from pei_nwdaf_data_ingestion_spark.catalog import load

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        (r["win_start"], r["event_type"]): r["n_users_approx"]
        for r in registry.QUERIES["stream_sliding_hll"](spark, sf).collect()
    }
    exact = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in load(spark, sf, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
        )
        .collect()
    }
    assert set(got) == set(exact) and len(got) > 0
    for k, approx in got.items():
        assert abs(approx - exact[k]) <= max(2, 0.1 * exact[k]), (k, approx, exact[k])


def test_stream_ohlc_bars_equal_batch_resample(spark):
    """Streaming OHLC bars must equal time_resample_ohlc on the same data
    bar-for-bar: min/max-struct accumulators merge associatively across
    micro-batches, so stream == batch exactly (the stream_session_window
    batch-dual pattern)."""
    import pandas as pd

    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    cols = [
        "event_type",
        "day",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "n_events",
        "volume_cents",
    ]
    s = (
        registry.QUERIES["stream_ohlc_bars"](spark, sf)
        .toPandas()[cols]
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    b = (
        registry.QUERIES["time_resample_ohlc"](spark, sf)
        .toPandas()[cols]
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    assert len(s) > 0
    pd.testing.assert_frame_equal(s, b.astype(s.dtypes.to_dict()))


def test_stream_countmin_equals_batch_sketch(spark):
    """Counter addition is associative+commutative, so the sketch built
    across micro-batches must equal the batch-built sketch EXACTLY -
    same top-10 estimates, same overcounts."""
    import pandas as pd

    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    cols = ["user_id", "exact_n", "est_n", "overcount"]
    s = (
        registry.QUERIES["stream_countmin_merge"](spark, sf)
        .toPandas()[cols]
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    b = (
        registry.QUERIES["agg_countmin_topk"](spark, sf)
        .toPandas()[cols]
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert len(s) == 10
    pd.testing.assert_frame_equal(s, b.astype(s.dtypes.to_dict()))
    assert (s.overcount >= 0).all()


# ---------------------------------------------------------------------------
# micro-batch-boundary invariance properties (VERDICT r6 item 5)
# ---------------------------------------------------------------------------

_CUT_SETS = [(0.25,), (0.75,), (0.25, 0.75)]


def _cut_id(c):
    return "cuts" + "-".join(str(x) for x in c)


@pytest.mark.parametrize(
    "cuts", [(0.75, 0.25), (0.5, 1.0)], ids=["descending", "out_of_range"]
)
def test_write_time_batches_rejects_bad_cuts(spark, tmp_path, cuts):
    """A bad cut set raises ValueError (not an assert, which `python -O`
    strips) before anything is written."""
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        _write_time_batches,
    )

    df = spark.range(4).withColumnRenamed("id", "ts_us")
    with pytest.raises(ValueError, match="cuts"):
        _write_time_batches(df, str(tmp_path / "batches"), "ts_us", cuts)
    assert not os.path.exists(tmp_path / "batches")


@pytest.mark.parametrize("cuts", _CUT_SETS, ids=_cut_id)
def test_stream_attribution_invariant_under_batch_boundaries(spark, cuts):
    """Watermark/ordering correctness as a PROPERTY: the attributed set
    must not depend on WHERE the time-ordered micro-batch boundaries fall
    (1/4, 3/4, or a 3-batch split) - state carries whatever the split, and
    in-batch event-time ordering + cross-batch chronology reconstruct one
    global order.  The baseline is the default median split every other
    test uses."""
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        stream_attribution_state,
    )

    sf = "/root/testdata/sf0.001"
    base = sorted(
        (r["purchase_id"], r["user_id"], r["attributed_click_id"], r["lag_us"])
        for r in stream_attribution_state(spark, sf).collect()
    )
    assert len(base) > 0
    got = sorted(
        (r["purchase_id"], r["user_id"], r["attributed_click_id"], r["lag_us"])
        for r in stream_attribution_state(spark, sf, cuts=cuts).collect()
    )
    assert got == base, f"attribution depends on batch boundaries {cuts}"


@pytest.mark.parametrize("cuts", _CUT_SETS, ids=_cut_id)
def test_stream_cdc_upsert_invariant_under_batch_boundaries(spark, cuts):
    """The CDC merge is an argmax over (ts, event_id) per key - associative
    and commutative - so the FINAL state table must be identical for any
    partition of the change stream into micro-batches."""
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        stream_cdc_upsert,
    )

    sf = "/root/testdata/sf0.001"
    base = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["ts_ms"])
        for r in stream_cdc_upsert(spark, sf).collect()
    )
    assert len(base) > 0
    got = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["ts_ms"])
        for r in stream_cdc_upsert(spark, sf, cuts=cuts).collect()
    )
    assert got == base, f"CDC final table depends on batch boundaries {cuts}"


@pytest.mark.parametrize("cuts", _CUT_SETS, ids=_cut_id)
def test_stream_inactivity_flush_exactly_once_accounting(spark, cuts):
    """Inactivity-flush emissions MAY legitimately split when a boundary
    lets a timer fire mid-group (that is the semantics of event-time
    timeouts, not a bug), so the boundary-invariant property is the
    EXACTLY-ONCE LEDGER: summed across all emissions of a (user, day)
    group, every event is counted at most once, and groups whose last
    event precedes end-of-stream - (watermark + gap) are counted exactly
    once - no loss, no double count, for ANY boundary placement."""
    import math
    from collections import defaultdict

    from pei_nwdaf_data_ingestion_spark.catalog import load
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        stream_inactivity_flush,
    )

    sf = "/root/testdata/sf0.001"
    emitted_n = defaultdict(int)
    emitted_s = defaultdict(float)
    for r in stream_inactivity_flush(spark, sf, cuts=cuts).collect():
        emitted_n[(r["user_id"], r["day"])] += r["n_events"]
        emitted_s[(r["user_id"], r["day"])] += r["value_sum"]
    assert emitted_n, "no group ever flushed"

    ev = load(spark, sf, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        "value",
    )
    exact_n = defaultdict(int)
    exact_s = defaultdict(float)
    last_us = defaultdict(int)
    max_us = 0
    for r in ev.collect():
        k = (r["user_id"], r["day"])
        exact_n[k] += 1
        exact_s[k] += r["value"]
        last_us[k] = max(last_us[k], r["us"])
        max_us = max(max_us, r["us"])
    settle_us = max_us - (10 + 30) * 60 * 1_000_000  # watermark + gap
    n_settled = 0
    for k, n in emitted_n.items():
        assert n <= exact_n[k], f"{k} double-counted: {n} > {exact_n[k]}"
    for k, n in exact_n.items():
        if last_us[k] < settle_us:
            n_settled += 1
            assert emitted_n.get(k) == n, (
                f"settled group {k} lost events: {emitted_n.get(k)} != {n}"
            )
            # value ledger: emissions partition the group's events, so the
            # per-emission roundings accumulate at most 0.005 per emission
            assert abs(emitted_s[k] - exact_s[k]) <= 0.01 * max(
                1, emitted_n[k]
            ) + 1e-9 or math.isclose(emitted_s[k], exact_s[k], rel_tol=1e-6)
    assert n_settled > 0, "property vacuous: no settled groups"


def _phased_copy(staging: str, live: str, half: str) -> None:
    """Deliver one pre-built micro-batch (a half=bN dir) into the live
    source directory, preserving the mtime ladder the file source orders
    replay by."""
    import shutil

    src = os.path.join(staging, half)
    dst = os.path.join(live, half)
    shutil.copytree(src, dst, copy_function=shutil.copy2)


def test_cdc_upsert_recovers_from_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart exactly-once for the CDC merge (VERDICT r7 item 7):
    run the IDENTICAL _cdc_merge_fn through (a) one uninterrupted stream
    over both micro-batches, and (b) a stream STOPPED after batch 1 (the
    second batch had not arrived), then restarted against the SAME
    checkpoint + state table once batch 2 lands.  The restarted run must
    not replay batch 1 (source offsets come from the checkpoint) and the
    final state tables must be identical.  Also asserts merge IDEMPOTENCE
    - re-applying an already-merged batch is a no-op - which is what makes
    foreachBatch's crash-window replay (committed sink, uncommitted
    offset) still yield exactly-once RESULTS."""
    from pei_nwdaf_data_ingestion_spark.catalog import load
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        _cdc_merge_fn,
        _write_time_batches,
    )

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    staging = str(tmp_path / "staging")
    _write_time_batches(ev, staging, "ts_us", (0.5,))

    def run(src_dir: str, state_dir: str, ckpt: str) -> None:
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src_dir, "half=*"))
            .writeStream.foreachBatch(_cdc_merge_fn(spark, state_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def state_rows(state_dir: str) -> set:
        return {
            (r["user_id"], r["event_id"], r["event_type"], r["ts_us"])
            for r in spark.read.parquet(state_dir).collect()
        }

    # (a) uninterrupted reference: both batches present from the start
    full_src = str(tmp_path / "full_src")
    os.makedirs(full_src)
    _phased_copy(staging, full_src, "half=b0")
    _phased_copy(staging, full_src, "half=b1")
    full_state = str(tmp_path / "full_state")
    run(full_src, full_state, str(tmp_path / "full_ckpt"))
    reference = state_rows(full_state)
    assert reference, "reference run produced no state"

    # (b) phased: batch 1 only, stream terminates (= the process dies
    # between batches), then batch 2 arrives and a NEW stream resumes
    # from the same checkpoint
    live = str(tmp_path / "live_src")
    os.makedirs(live)
    _phased_copy(staging, live, "half=b0")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    run(live, state, ckpt)
    after_b1 = state_rows(state)
    assert after_b1, "batch 1 produced no state"

    # crash-window replay: the merge re-applied to already-merged rows
    # must change nothing (idempotence = exactly-once results under
    # foreachBatch's at-least-once contract)
    b0 = spark.read.schema(ev.schema).parquet(os.path.join(live, "half=b0"))
    _cdc_merge_fn(spark, state)(b0, 0)
    assert state_rows(state) == after_b1

    _phased_copy(staging, live, "half=b1")
    run(live, state, ckpt)  # restart: checkpoint skips batch 1
    assert state_rows(state) == reference


def test_inactivity_flush_recovers_from_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart for applyInPandasWithState (VERDICT r7 item 7): the
    inactivity-flush operator's keyed state AND watermark live in the
    checkpoint, so a stream stopped after batch 1 and restarted once
    batch 2 arrives must emit, across both runs combined, exactly the
    uninterrupted run's rows (same groups, same counts, same sums) - a
    durable parquet sink accumulates emissions across the restart."""
    from pei_nwdaf_data_ingestion_spark.catalog import load
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        _apply_inactivity_flush,
        _write_time_batches,
    )

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("ts"),
        "value",
    )
    staging = str(tmp_path / "staging")
    _write_time_batches(ev, staging, F.unix_micros("ts"), (0.5,))

    def run(src_dir: str, sink: str, ckpt: str) -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src_dir, "half=*"))
            .withWatermark("ts", "10 minutes")
        )
        q = (
            _apply_inactivity_flush(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def emitted(sink: str) -> dict:
        out = {}
        for r in spark.read.parquet(sink).collect():
            k = (r["user_id"], r["day"])
            n, s = out.get(k, (0, 0.0))
            out[k] = (n + r["n_events"], round(s + r["value_sum"], 2))
        return out

    # uninterrupted reference
    full_src = str(tmp_path / "full_src")
    os.makedirs(full_src)
    _phased_copy(staging, full_src, "half=b0")
    _phased_copy(staging, full_src, "half=b1")
    full_sink = str(tmp_path / "full_sink")
    run(full_src, full_sink, str(tmp_path / "full_ckpt"))
    reference = emitted(full_sink)
    assert reference, "reference run never flushed"

    # phased with restart from the same checkpoint + sink
    live = str(tmp_path / "live_src")
    os.makedirs(live)
    _phased_copy(staging, live, "half=b0")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    run(live, sink, ckpt)
    _phased_copy(staging, live, "half=b1")
    run(live, sink, ckpt)
    assert emitted(sink) == reference


def test_stream_media_decode_matches_batch_dual(spark):
    """The streaming decode is the SAME stateless mapInPandas stages as the
    batch path, so the drained result must equal multimodal_decode's full
    batch output row-for-row (r10 streaming dual of the real decode)."""
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    # RAW_QUERIES: the registered rows-only spelling appends the driver-
    # facing result_digest column; the dual compares raw values
    got = sorted(
        map(
            tuple,
            registry.RAW_QUERIES["stream_media_decode"](spark, sf).collect(),
        )
    )
    want = sorted(
        map(tuple, registry.QUERIES["multimodal_decode"](spark, sf).collect())
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# ingest_throughput: the streaming block of BENCH_full.json
# ---------------------------------------------------------------------------

_STORE_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_RATE = {"wall_sec": None, "rec_per_sec": None, "rec_per_sec_per_core": None}
_KNOBS = {"spark.sql.shuffle.partitions": None, "maxFilesPerTrigger": None}
# every key bench.stdout_line and BENCH_full.json read
_TPUT_TREE = {
    "rows": None,
    "n_batches": None,
    **_RATE,
    "batch_ms_p50": None,
    "batch_ms_max": None,
    "cores": None,
    "stateful_tuned": {
        "rows": None,
        "n_batches": None,
        **_RATE,
        "batch_ms_p50": None,
        "knobs": _KNOBS,
        "note": None,
    },
    "stateful_highk": {
        "rows": None,
        "state_keys": None,
        "wall_sec_hdfs": None,
        "wall_sec_rocksdb": None,
        "rec_per_sec_hdfs": None,
        "rec_per_sec_rocksdb": None,
        "knobs": _KNOBS,
        "note": None,
    },
    "passthrough": {"rows": None, **_RATE, "note": None},
}


def _key_tree(d: dict) -> dict:
    return {k: _key_tree(v) if isinstance(v, dict) else None for k, v in d.items()}


@pytest.mark.parametrize(
    "arrived_store", [None, _ROCKSDB], ids=["store_unset", "store_rocksdb"]
)
def test_ingest_throughput_payload_and_conf_restore(spark, arrived_store):
    """The telemetry payload keeps bench's key tree and its counts follow
    the rig (2 files -> 2 one-file batches, 1 four-file batch, 8x rows in
    the pass-through leg), and the legs hand the session back with its
    shuffle width and state-store provider as they arrived - RocksDB set,
    or the provider unset."""
    from pei_nwdaf_data_ingestion_spark.catalog import load
    from pei_nwdaf_data_ingestion_spark.queries.streaming_queries import (
        ingest_throughput,
    )

    sf = "/root/testdata/sf0.001"
    prior = spark.conf.get(_STORE_KEY, None)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if arrived_store is None:
            spark.conf.unset(_STORE_KEY)
        else:
            spark.conf.set(_STORE_KEY, arrived_store)
        tel = ingest_throughput(spark, sf, n_batches=2)
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts
        assert spark.conf.get(_STORE_KEY, None) == arrived_store
    finally:
        if prior is None:
            spark.conf.unset(_STORE_KEY)
        else:
            spark.conf.set(_STORE_KEY, prior)

    assert _key_tree(tel) == _TPUT_TREE
    rows = load(spark, sf, "events").count()
    assert tel["rows"] == tel["stateful_tuned"]["rows"] == rows
    assert tel["stateful_highk"]["rows"] == rows
    assert tel["n_batches"] == 2
    assert tel["stateful_tuned"]["n_batches"] == 1
    assert tel["passthrough"]["rows"] == 8 * rows
    assert tel["stateful_tuned"]["knobs"] == {
        "spark.sql.shuffle.partitions": 4,
        "maxFilesPerTrigger": 4,
    }
    assert tel["stateful_highk"]["knobs"] == {
        "spark.sql.shuffle.partitions": 8,
        "maxFilesPerTrigger": 4,
    }
