"""Streaming + UDF/UDTF declared queries (rows-only per SURVEY.md 2.10 -
streaming state and Python-UDF paths have no clean single-statement SQL
dual; the driver records rows-only checks and pytest asserts semantics).

Each streaming query drives a bounded Structured Streaming job to
completion synchronously (availableNow trigger) and returns the result as
a DataFrame: streaming.ingest.run_to_memory drains into a memory table and
returns it, except stream_cdc_upsert, whose foreachBatch merge writes a
parquet state table.  Sources are one parquet copy of the fixture per app
(_stream_source) or time-ordered micro-batch files (_write_time_batches),
read with the schema of the frame that wrote them.  ingest_throughput is
bench telemetry, not a query: its legs share one noop drain (_noop_drain),
one aggregation (_hourly_agg) and one scoped conf setter (_scoped_conf).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import time

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import artifacts
from ..catalog import load
from ..functions import pround
from ..registry import query
from ..streaming.ingest import run_to_memory

def _stream_source(spark: SparkSession, sf: str, name: str, source) -> DataFrame:
    """File-source stream over the frame `source()` returns, written once
    per (application, sf, name) as one parquet file in a scratch dir.  The
    written copy depends only on the fixture, so every streaming query
    reads the same dir with a declared schema: no legacy-parquet session
    conf, no per-call schema job or file copy."""

    def build() -> tuple[str, T.StructType]:
        d = artifacts.scratch_dir(f"{name}_stream_")
        df = source()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        return d, df.schema

    d, schema = artifacts.memo(spark, sf, "stream_src", build, name)
    return spark.readStream.schema(schema).parquet(d)


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    """File-source stream over the events fixture (production source is
    Kafka with identical downstream plans; the file source just needs a
    directory of normal-timestamp parquet: the fixture's TIMESTAMP(NANOS)
    file is rewritten once with a plain TimestampType column)."""
    return _stream_source(
        spark, sf, "events", lambda: load(spark, sf, "events")  # nanos->micros
    )


def _write_time_batches(df: DataFrame, dest: str, order_col, cuts) -> DataFrame:
    """Materialize `df` as len(cuts)+1 TIME-ORDERED parquet micro-batches
    under `dest` (partition dirs half=b0..bN, one file each) and return the
    stream that replays them, read with `df`'s own schema: rows are split
    at the given quantiles of `order_col`, and file mtimes ladder
    oldest-first so the file source (maxFilesPerTrigger=1) replays them as
    chronological micro-batches.  `cuts` parameterizes WHERE the batch
    boundaries fall - the ordering-invariance property tests (VERDICT r6
    item 5) drive the same stateful query with several cut sets and assert
    the drained result does not depend on them."""
    # explicit raise, not assert: `python -O` strips asserts
    if not cuts or list(cuts) != sorted(cuts) or not all(0.0 < c < 1.0 for c in cuts):
        raise ValueError(f"cuts must be non-empty, ascending and in (0,1): {cuts!r}")
    col = F.col(order_col) if isinstance(order_col, str) else order_col
    qnames = [f"q{i}" for i in range(len(cuts))]
    qs = df.agg(
        *[
            F.percentile_approx(col, float(c), 10000).alias(q)
            for c, q in zip(cuts, qnames)
        ]
    )
    half = F.when(col < F.col(qnames[0]), "b0")
    for i, q in enumerate(qnames[1:], start=1):
        half = half.when(col < F.col(q), f"b{i}")
    half = half.otherwise(f"b{len(cuts)}")
    (
        df.crossJoin(F.broadcast(qs))
        .withColumn("half", half)
        .drop(*qnames)
        .coalesce(1)
        .write.partitionBy("half")
        .parquet(dest, mode="overwrite")
    )
    now = time.time()
    n = len(cuts) + 1
    for i in range(n):
        d = os.path.join(dest, f"half=b{i}")
        if not os.path.isdir(d):  # a quantile cut may leave a batch empty
            continue
        age = 100.0 * (n - 1 - i)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - age, now - age))
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(dest, "half=*"))
    )


def _hourly_agg(stream: DataFrame, key) -> DataFrame:
    """The ingest-pipeline aggregation: 10-minute watermark, 1-hour
    tumbling window `w`, per-`key` event count and rounded value sum."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), key)
        .agg(F.count("*").alias("n"), pround(F.sum("value"), 2).alias("value_sum"))
    )


def _noop_drain(stream: DataFrame) -> tuple[float, list[int]]:
    """Drain a bounded stream into the noop sink (availableNow); return the
    wall seconds and the sorted trigger ms of the batches that read rows,
    from the engine's own progress events."""
    t0 = time.perf_counter()
    q = (
        stream.writeStream.outputMode("append")
        .format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    lat = sorted(
        p["durationMs"]["triggerExecution"]
        for p in q.recentProgress
        if p["numInputRows"] > 0
    )
    return wall, lat


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set `settings` on the session for the block, then put back each
    key's prior value, or unset a key that had none."""
    prior = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _rate(rows: int, wall: float, cores: int = 1) -> float | None:
    """Records per second (per core), or None for a zero wall or core count."""
    return round(rows / wall / cores, 1) if wall > 0 and cores else None


def _leg(rows: int, wall: float, cores: int) -> dict:
    """A telemetry leg's rows, wall seconds and records/s (overall and per
    core)."""
    return {
        "rows": rows,
        "wall_sec": round(wall, 4),
        "rec_per_sec": _rate(rows, wall),
        "rec_per_sec_per_core": _rate(rows, wall, cores),
    }


_PARTS = "spark.sql.shuffle.partitions"
_STORE = "spark.sql.streaming.stateStore.providerClass"
_STATE_STORES = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
}


def ingest_throughput(
    spark: SparkSession, sf: str, n_batches: int = 8
) -> dict:
    """Streaming-tier throughput telemetry (VERDICT r10 item 6): drive the
    ingest-pipeline shape (watermark + 1h tumbling window + per-type agg -
    stream_ingest_pipeline's exact plan, `_hourly_agg`) over the sf events
    split into `n_batches` files with maxFilesPerTrigger=1, so Structured
    Streaming replays it as n_batches real micro-batches, and report
    records/s plus per-batch trigger latency from the engine's own progress
    events.  Every leg drains through `_noop_drain`, in the order baseline,
    tuned, hdfs, rocksdb, passthrough.

    This is TELEMETRY, not a declared query: bench.py records the result
    in BENCH_full.json's `streaming` block next to the reference kernel's
    144k rec/s/core line (BASELINE.md) - noting that the reference number
    is a pass-through normalize loop while this one pays event-time
    watermark state + windowed aggregation + sink commit per batch."""
    ev = load(spark, sf, "events")
    n_rows = ev.count()
    cores = spark.sparkContext.defaultParallelism
    # tuned leg (VERDICT r11 item 4): the baseline is commit-bound - the
    # session-default 32 shuffle partitions mean 32 state-store commits
    # per micro-batch for ~120 (window, type) groups, and 1-file triggers
    # sit below the per-batch planning floor.  Its two production levers:
    # shuffle partitions sized to the state cardinality (measured r12:
    # 32 -> 8 -> 4 parts = 10.7k -> 26k -> 30k rec/s) and 4 files per
    # trigger (2 micro-batches amortize the fixed plan+commit cost).
    # RocksDB measured SLOWER here (20k vs 26k at 8 parts): its native-store
    # overhead only pays off when state exceeds heap.
    tuned_parts, tuned_mfpt = 4, 4
    # high-cardinality legs (VERDICT r12 item 7): the same plan keyed by
    # event_id % 100_000 (>= 1e5 state entries, the dedup-shaped worst
    # case) timed under BOTH state store providers, re-justifying the store
    # choice where the HDFS-backed store's in-heap posture could flip; 8
    # shuffle partitions (100k entries across 4 stores would serialize the
    # commit).  Each leg PINS its provider (ADVICE r13): a session that
    # arrived with RocksDB set must not time the 'hdfs' leg under it.
    hk_parts = 8
    highk = (F.col("event_id") % 100_000).alias("k")
    runs = [
        ("baseline", 1, "event_type", {}),
        ("tuned", tuned_mfpt, "event_type", {_PARTS: str(tuned_parts)}),
    ] + [
        (store, tuned_mfpt, highk, {_PARTS: str(hk_parts), _STORE: cls})
        for store, cls in _STATE_STORES.items()
    ]
    legs = {}
    with tempfile.TemporaryDirectory(prefix="ingest_tput_") as d:
        ev.repartition(n_batches).write.mode("overwrite").parquet(d)
        for leg, mfpt, key, conf in runs:
            with _scoped_conf(spark, conf):
                src = (
                    spark.readStream.schema(ev.schema)
                    .option("maxFilesPerTrigger", mfpt)
                    .parquet(d)
                )
                legs[leg] = _noop_drain(_hourly_agg(src, key))
    # pass-through leg (the apples-to-apples line against the reference's
    # stateless per-record normalize loop): ONE availableNow batch of a
    # stateless normalize chain (timestamp render, case fold, unit scale,
    # JSON tag extract, validity filter) - no watermark, state or shuffle.
    # The events are replicated 8x: at fixture scale Structured Streaming's
    # 1-2 s fixed start/commit cost would otherwise BE the measurement.
    rep = 8
    with tempfile.TemporaryDirectory(prefix="ingest_tput_pt_") as d2:
        ev.crossJoin(
            spark.range(rep).select(F.col("id").alias("_rep"))
        ).drop("_rep").repartition(n_batches).write.mode("overwrite").parquet(
            d2
        )
        norm = (
            spark.readStream.schema(ev.schema)
            .parquet(d2)
            .select(
                "event_id",
                F.unix_millis(F.col("ts")).alias("ts_ms"),
                F.upper("event_type").alias("event_type"),
                (F.col("value") * 100).cast("long").alias("value_cents"),
                F.get_json_object("props", "$.k").cast("long").alias("tag_k"),
            )
            .filter(F.col("event_type").isNotNull())
        )
        wall_pt, _ = _noop_drain(norm)
    wall, lat = legs["baseline"]
    wall_tuned, lat_t = legs["tuned"]
    wall_hdfs = round(legs["hdfs"][0], 4)
    wall_rocksdb = round(legs["rocksdb"][0], 4)
    return {
        **_leg(n_rows, wall, cores),
        "n_batches": len(lat),
        "batch_ms_p50": lat[len(lat) // 2] if lat else None,
        "batch_ms_max": lat[-1] if lat else None,
        "cores": cores,
        "stateful_tuned": {
            **_leg(n_rows, wall_tuned, cores),
            "n_batches": len(lat_t),
            "batch_ms_p50": lat_t[len(lat_t) // 2] if lat_t else None,
            "knobs": {_PARTS: tuned_parts, "maxFilesPerTrigger": tuned_mfpt},
            "note": (
                "same watermark+window+agg plan and the same "
                f"{n_rows}-row rig as the baseline block; state width "
                "sized to state cardinality (4 stores, not the session "
                "32) and 4-file triggers amortizing the per-batch "
                "plan+commit floor; RocksDB measured slower at this "
                "state size and stays off"
            ),
        },
        "stateful_highk": {
            "rows": n_rows,
            "state_keys": "~1e5 (window x event_id % 100000)",
            "wall_sec_hdfs": wall_hdfs,
            "wall_sec_rocksdb": wall_rocksdb,
            "rec_per_sec_hdfs": _rate(n_rows, wall_hdfs),
            "rec_per_sec_rocksdb": _rate(n_rows, wall_rocksdb),
            "knobs": {_PARTS: hk_parts, "maxFilesPerTrigger": tuned_mfpt},
            "note": (
                "same watermark+window plan keyed by event_id % 100000 "
                "(>= 1e5 state entries, the dedup-shaped regime) timed "
                "under BOTH providers on the same rig - the store choice "
                "re-justified at the cardinality where the in-heap "
                "HDFS-backed posture could flip (VERDICT r12 item 7)"
            ),
        },
        "passthrough": {
            **_leg(n_rows * rep, wall_pt, cores),
            "note": (
                f"stateless normalize chain over the events replicated "
                f"{rep}x, one availableNow batch, noop sink - the shape "
                f"comparable to the reference kernel"
            ),
        },
    }


@query("stream_ingest_pipeline")
def stream_ingest_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The ingest pipeline shape (3.1) on a stream: event-time watermark +
    tumbling window + per-type agg, drained with availableNow.  Matches
    win_tumbling_1h output on the same data (asserted in tests)."""
    agg = _hourly_agg(_events_stream(spark, sf), "event_type").select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "value_sum",
    )
    return run_to_memory(agg, "stream_ingest_out")


@query("stream_dedup")
def stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup: the stream unioned with itself (every record twice)
    -> dropDuplicatesWithinWatermark on event_id -> counts equal the
    original stream's."""
    ev = _events_stream(spark, sf)
    doubled = ev.unionAll(ev)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return run_to_memory(deduped, "stream_dedup_out", output_mode="complete")


@query("stream_late_drop")
def stream_late_drop(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark late-data drop: two micro-batches (recent half first, old
    half second via file mtimes + maxFilesPerTrigger=1); after batch 1 the
    watermark passes the old rows' event times, so batch 2 contributes
    nothing - output counts < total counts (asserted in tests)."""
    ev = load(spark, sf, "events")
    with tempfile.TemporaryDirectory(prefix="late_drop_") as tmp:
        # split at the median ts WITHOUT a driver-side collect: the 1-row
        # median aggregate is cross-joined in and drives a partitioned write,
        # so both halves land in one job under half=b1 / half=b2
        med = ev.agg(F.expr("percentile_approx(ts, 0.5)").alias("med"))
        (
            ev.crossJoin(F.broadcast(med))
            .withColumn(
                "half", F.when(F.col("ts") >= F.col("med"), "b1").otherwise("b2")
            )
            .drop("med")
            .coalesce(1)
            .write.partitionBy("half")
            .parquet(tmp, mode="overwrite")
        )
        recent_path = os.path.join(tmp, "half=b1")
        old_path = os.path.join(tmp, "half=b2")
        # a degenerate/constant-ts fixture can put every row on one side of
        # the median, in which case partitionBy never creates the other dir
        # (explicit raise, not assert: `python -O` strips asserts)
        if not (os.path.isdir(recent_path) and os.path.isdir(old_path)):
            raise RuntimeError(
                "late-drop demo expects events.ts to straddle its median; "
                "a missing half=b1/half=b2 dir means the fixture's ts column "
                "is (near-)constant"
            )
        now = time.time()
        for d, mtime in ((recent_path, now - 60), (old_path, now)):
            for fn in os.listdir(d):
                p = os.path.join(d, fn)
                os.utime(p, (mtime, mtime))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(tmp, "half=*"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                "event_type",
                "n",
            )
        )
        return run_to_memory(agg, "stream_late_out")


@query("stream_session_window")
def stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based session windows on a stream (session_window + watermark):
    per-user sessions close after 30 idle minutes.  The batch dual
    win_session_gap derives the same sessions via lag/flag/running-sum -
    session counts per user must agree (asserted in tests)."""
    ev = _events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    # complete mode: append would hold back sessions still inside the
    # watermark when the bounded stream ends (the last hour of data)
    return run_to_memory(agg, "stream_session_out", output_mode="complete")


@query("stream_stateful_counts")
def stream_stateful_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState - the
    Spark dual of the reference's cross-request mutable state
    (receiver.py:45-46: a module dict surviving across callbacks).  Per-key
    running (count, sum) held in GroupState across TWO forced micro-batches
    (maxFilesPerTrigger=1); each batch emits the running totals, so the
    final row per key equals the batch groupBy aggregate (asserted in
    tests).  At scale state lives in the state store (RocksDB), partitioned
    by key - no driver bottleneck."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = load(spark, sf, "events").select("event_id", "user_id", "value")
    with tempfile.TemporaryDirectory(prefix="stateful_") as tmp:
        # two files -> two micro-batches, split by event_id parity; ONE
        # partitioned write job instead of two filtered writes
        (
            ev.withColumn(
                "half", F.when(F.col("event_id") % 2 == 0, "b1").otherwise("b2")
            )
            .coalesce(1)
            .write.partitionBy("half")
            .parquet(tmp, mode="overwrite")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(tmp, "half=*"))
        )

        def update(key, pdfs, state):
            # worker-side closure: only pandas + stdlib (the consumer's
            # workers can't import this package)
            import warnings

            # pyspark's state serializer pads every output batch with a
            # 0-row object-dtype frame before pd.concat
            # (serializers.py:1684-1696), which pandas 2.x deprecation-warns
            # about and pandas 3.x will change; filter it in the worker so
            # runs are warning-free (the concat result is unaffected: the
            # padding frame is empty whenever data rows >= state rows).
            warnings.filterwarnings(
                "ignore",
                message="The behavior of DataFrame concatenation with empty",
                category=FutureWarning,
            )
            (user,) = key
            n, s = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                s += float(pdf["value"].sum())
            state.update((n, s))
            import math

            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "n_events": [n],
                    "value_sum": [math.floor(s * 100.0 + 0.5) / 100.0],
                }
            )

        out = stream.groupBy("user_id").applyInPandasWithState(
            update,
            "user_id long, n_events long, value_sum double",
            "n long, s double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
        # keep the LAST update per key = totals across all micro-batches
        return (
            run_to_memory(out, "stream_stateful_out", output_mode="update")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("value_sum", "n_events").alias("value_sum"),
            )
        )


def _click_purchase_join(spark: SparkSession, sf: str, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases within [click_ts,
    click_ts + 1 hour], both sides watermarked 30 minutes - the shared body
    of stream_stream_join (`how="inner"`) and its left-outer twin."""
    clicks = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
    )


@query("stream_stream_join")
def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream inner join: clicks joined to purchases by
    the same user within [click_ts, click_ts + 1 hour].  Both sides carry
    watermarks and the join condition time-bounds state retention, so each
    side's buffered rows are evicted once the other side's watermark passes
    click_ts + 1h - bounded state at any scale (the unbounded-state
    cross-stream join is rejected by Spark in append mode).  The batch dual
    join_interval_overlap shares the semantics; row counts are asserted
    against a static self-join in tests."""
    return run_to_memory(
        _click_purchase_join(spark, sf, "inner"), "stream_stream_join_out"
    )


@query("stream_stream_join_outer")
def stream_stream_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click, with its
    same-user purchase inside [click_ts, click_ts + 1h] when one exists,
    else a null-padded row.  The outer row for an unmatched click is
    emitted only once BOTH watermarks pass click_ts + 1h (Spark must
    prove no future purchase can match before it fabricates the null), so
    state stays bounded exactly as in the inner variant - the null
    emission is the one extra capability, and it is watermark-gated.

    Bounded-stream caveat (inherent to availableNow): clicks whose
    eviction horizon lies beyond the final watermark (the last
    ~1h30m of event time) end the run still buffered, so their outer
    rows never emit.  Tests assert the inner rows equal
    stream_stream_join's and that null-padded rows exist and are
    click-unique."""
    joined = _click_purchase_join(spark, sf, "leftOuter").withColumn(
        "matched", F.col("purchase_id").isNotNull()
    )
    return run_to_memory(joined, "stream_stream_join_outer_out")


@query(
    "udf_scalar_parse",
    oracle="""
    SELECT p_partkey,
           printf('%.2f %s', floor((p_retailprice) * 100.0 + 0.5) / 100.0,
                  ['bps', 'Kbps', 'Mbps', 'Gbps', 'Tbps'][(p_partkey % 5) + 1])
             AS raw_bitrate,
           floor(((floor((p_retailprice) * 100.0 + 0.5) / 100.0) *
                 [1e-6, 1e-3, 1.0, 1e3, 1e6][(p_partkey % 5) + 1]) * 1000000.0 + 0.5) / 1000000.0
             AS mbps
    FROM part
    """,
)
def udf_scalar_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Vectorized Pandas UDF bitrate parse - produces output identical to
    the native-expression ref_unit_parse (same oracle; also cross-checked
    against the native plan in tests).  Demonstrates the Arrow-batched slow
    path used only when column expressions can't express the semantics."""
    import re

    units = {"bps": 1e-6, "Kbps": 1e-3, "Mbps": 1.0, "Gbps": 1e3, "Tbps": 1e6}
    pat = re.compile(r"^\s*([0-9]+(?:\.[0-9]+)?)\s*(bps|Kbps|Mbps|Gbps|Tbps)\s*$")

    @F.pandas_udf(T.DoubleType())
    def parse_mbps(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            m = pat.match(v)
            if not m:
                return None
            # same floor-based rounding formula as the native pround()
            import math

            return math.floor(float(m.group(1)) * units[m.group(2)] * 1e6 + 0.5) / 1e6

        return s.map(one)

    p = load(spark, sf, "part")
    unit_arr = F.array(*[F.lit(u) for u in ["bps", "Kbps", "Mbps", "Gbps", "Tbps"]])
    raw = F.format_string(
        "%.2f %s",
        pround("p_retailprice", 2),
        F.element_at(unit_arr, (F.col("p_partkey") % 5 + 1).cast("int")),
    )
    return p.select(
        "p_partkey",
        raw.alias("raw_bitrate"),
        parse_mbps(raw).alias("mbps"),
    )


@query(
    "udtf_normalize",
    oracle="""
    SELECT event_id, upper(event_type) AS event,
           'user-' || CAST(user_id AS VARCHAR) AS tag_user,
           floor((value * 2) * 100.0 + 0.5) / 100.0 AS metric_value
    FROM events
    WHERE event_type <> 'error'
    """,
)
def udtf_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """UDTF-shaped normalizer via mapInPandas: each input row maps to 0-or-1
    record rows (the reference's normalizer contract, receiver.py:199-203),
    here over events with the 'error' type dropped.  Arrow-batched; the
    production normalizers are pure column expressions (pipeline/nef.py) -
    this demonstrates the extension point for logic Spark can't express."""
    ev = load(spark, sf, "events")
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event", T.StringType()),
            T.StructField("tag_user", T.StringType()),
            T.StructField("metric_value", T.DoubleType()),
        ]
    )

    def normalize(batches):
        import numpy as np

        for pdf in batches:
            # notna() mirrors SQL's three-valued `event_type <> 'error'`
            # (NULL is not dispatchable - the reference normalizer drops
            # it; plain pandas != would KEEP NaN rows - NULL sweep, r8)
            keep = pdf[pdf["event_type"].notna() & (pdf["event_type"] != "error")]
            yield pd.DataFrame(
                {
                    "event_id": keep["event_id"],
                    "event": keep["event_type"].str.upper(),
                    "tag_user": "user-" + keep["user_id"].astype(str),
                    # same floor-based half-up formula as functions.pround
                    # (np round is banker's and disagrees at .5 boundaries)
                    "metric_value": np.floor(keep["value"] * 2 * 100.0 + 0.5) / 100.0,
                }
            )

    return ev.mapInPandas(normalize, out_schema)


@query("stream_windowed_topk")
def stream_windowed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Trending-items pattern: per 1-hour tumbling window, the top-3 event
    types by count.  Ranking inside a streaming agg is not incrementally
    expressible in append mode (a later row can reorder the top-k), so the
    streaming stage emits the windowed counts (complete mode) and the
    rank is a batch window over the drained result - the standard
    two-stage spelling (same split Kafka Streams/Flink users apply).
    State = one count per (window, type): bounded by watermark x type
    cardinality at any scale."""
    from pyspark.sql import Window as W

    ev = _events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
        )
    )
    w = W.partitionBy("hour_start").orderBy(F.desc("n"), "event_type")
    return (
        run_to_memory(agg, "stream_windowed_topk_out", output_mode="complete")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


@query("stream_static_enrich")
def stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the (batch)
    customer dimension - Spark re-plans the static side per micro-batch,
    and a broadcast-sized dim makes the join shuffle-free on the stream
    side (the reference's subscription-context enrichment,
    receiver.py:363-374, as a join; pipeline/nef.py serves the NEF
    schema's tiny subscription dimension as a literal map lookup instead).
    Aggregated per (market segment, event type) so the drained output is
    small and deterministic."""
    ev = _events_stream(spark, sf)
    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .withWatermark("ts", "1 hour")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), pround(F.sum("value"), 2).alias("value_sum"))
    )
    return run_to_memory(agg, "stream_static_enrich_out", output_mode="complete")


def _documents_stream(spark: SparkSession, sf: str) -> DataFrame:
    """File-source stream over the documents fixture with a SYNTHETIC
    ingest timestamp (base epoch + doc_id seconds - documents carry no
    event time; a real corpus pipeline has the fetch/receive time here).
    Prepared once per (application, sf) like _events_stream."""
    return _stream_source(
        spark, sf, "documents",
        lambda: load(spark, sf, "documents").select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id")).alias(
                "ingest_ts"
            ),
        ),
    )


@query("stream_minhash_dedup")
def stream_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time corpus near-dup dedup (VERDICT r5 item 5) - the MinHash
    banding of dedup_minhash_lsh applied INSIDE the stream, the way a
    training-data pipeline drops near-duplicate documents as they arrive
    rather than in a nightly batch (reference posture: the ingest pipeline
    IS streaming, receiver.py:354-458).

    Plan: per-document band signatures (llm.minhash_band_cols - the SAME
    columns the batch LSH join buckets on) -> explode to (band_id, sig)
    rows -> dropDuplicatesWithinWatermark on the band bucket, so only the
    FIRST document to claim each bucket keeps that band -> drain ->
    per-doc win count.  A document winning all 4 bands is new content; one
    losing any band collided with an earlier document (the streaming
    analogue of being an LSH candidate pair).  State is one row per live
    band bucket, expired by the watermark - bounded at any scale, and the
    dedup shuffle is on the band key exactly like the batch join.

    Batch-dual equality (first-arrival = min doc_id under the single-file
    deterministic source) is asserted in tests/test_streaming.py."""
    docs = _documents_stream(spark, sf)
    from .llm import _MH_BANDS, minhash_band_cols

    toks = docs.select(
        "doc_id",
        "ingest_ts",
        F.array_distinct(F.split("text", " ")).alias("tokens"),
    )
    banded = toks.select("doc_id", "ingest_ts", *minhash_band_cols())
    buckets = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.col(f"band{b}").alias("sig"),
            )
            for b in range(_MH_BANDS)
        ]
    )
    ex = banded.select(
        "doc_id", "ingest_ts", F.explode(buckets).alias("bs")
    ).select("doc_id", "ingest_ts", "bs.band_id", "bs.sig")
    kept = ex.withWatermark("ingest_ts", "24 hours").dropDuplicatesWithinWatermark(
        ["band_id", "sig"]
    )
    won = run_to_memory(kept, "stream_minhash_dedup_out").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_band_wins")
    )
    # every document appears in the output (losing all bands = 0 wins)
    all_docs = load(spark, sf, "documents").select("doc_id")
    return (
        all_docs.join(won, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_band_wins", F.lit(0)).cast("long").alias("n_band_wins"),
        )
        .withColumn("is_near_dup", F.col("n_band_wins") < _MH_BANDS)
    )


@query("stream_attribution_state")
def stream_attribution_state(
    spark: SparkSession, sf: str, *, cuts=(0.5,)
) -> DataFrame:
    """Last-touch attribution as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState): per-user state = the most recent click seen
    so far; each purchase is attributed at arrival time if that click is
    within 7 days.  The stream is split into two time-ordered micro-batches
    (early half first via file mtimes), so attribution state provably
    SURVIVES the batch boundary - a click in batch 1 credits a purchase in
    batch 2.  This is the streaming dual of events_attribution_lasttouch's
    union+window spelling, and equality of the attributed set is asserted
    in tests/test_streaming.py.

    Scale posture: state is one (click_id, click_ts) pair per live user in
    the state store (RocksDB at scale), partitioned by user_id - the same
    shuffle key as the batch window, with O(users) state instead of a
    sort."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        load(spark, sf, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )
    with tempfile.TemporaryDirectory(prefix="attrib_state_") as tmp:
        # file source picks oldest mtime first: earlier quantile batches
        # are strictly older, so they replay as earlier micro-batches
        stream = _write_time_batches(ev, tmp, "ts_us", cuts)

        seven_days_us = 7 * 24 * 3600 * 1_000_000

        def update(key, pdfs, state):
            # worker-side closure: pandas + stdlib only
            import warnings

            warnings.filterwarnings(
                "ignore",
                message="The behavior of DataFrame concatenation with empty",
                category=FutureWarning,
            )
            (user,) = key
            cid, cts = state.get if state.exists else (None, None)
            out_pid, out_cid, out_lag = [], [], []
            for pdf in pdfs:
                # event-time order within the group; micro-batch order
                # (enforced by file mtimes) provides cross-batch order
                for row in pdf.sort_values(["ts_us", "event_id"]).itertuples():
                    if row.event_type == "click":
                        cid, cts = int(row.event_id), int(row.ts_us)
                    elif cts is not None and row.ts_us - cts <= seven_days_us:
                        out_pid.append(int(row.event_id))
                        out_cid.append(cid)
                        out_lag.append(int(row.ts_us) - cts)
            if cid is not None:
                state.update((cid, cts))
            yield pd.DataFrame(
                {
                    "purchase_id": out_pid,
                    "user_id": [user] * len(out_pid),
                    "attributed_click_id": out_cid,
                    "lag_us": out_lag,
                }
            )

        out = stream.groupBy("user_id").applyInPandasWithState(
            update,
            "purchase_id long, user_id long, attributed_click_id long, lag_us long",
            "cid long, cts long",
            "append",
            GroupStateTimeout.NoTimeout,
        )
        return run_to_memory(out, "stream_attribution_out")


def _apply_inactivity_flush(stream: DataFrame) -> DataFrame:
    """The inactivity-flush stateful operator on an already-watermarked
    (user_id, day, ts, value) stream - split from stream_inactivity_flush
    so the checkpoint-recovery test (tests/test_streaming.py, VERDICT r7
    item 7) drives the IDENTICAL operator through a kill-and-restart
    schedule; the declared query wraps it with the fixture batching rig."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def flush(key, pdfs, state):
        import math
        import warnings

        warnings.filterwarnings(
            "ignore",
            message="The behavior of DataFrame concatenation with empty",
            category=FutureWarning,
        )
        user, day = key
        if state.hasTimedOut:
            n, s, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "day": [day],
                    "n_events": [n],
                    "value_sum": [math.floor(s * 100.0 + 0.5) / 100.0],
                }
            )
            return
        n, s, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last_ms = max(
                last_ms, int(pdf["ts"].astype("int64").max()) // 1_000_000
            )  # pandas datetime64 int64 is NANOseconds -> milliseconds
        state.update((n, s, last_ms))
        # event-time timeout: last event + 30 min (milliseconds)
        state.setTimeoutTimestamp(last_ms + 30 * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [], "day": [], "n_events": [], "value_sum": []}
        )

    return stream.groupBy("user_id", "day").applyInPandasWithState(
        flush,
        "user_id long, day string, n_events long, value_sum double",
        "n long, s double, last_ms long",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


@query("stream_inactivity_flush")
def stream_inactivity_flush(
    spark: SparkSession, sf: str, *, cuts=(0.5,)
) -> DataFrame:
    """Event-time STATE TIMEOUT (the streaming semantics no other declared
    query exercises): per-(user, day) running totals held in GroupState
    with an EventTimeTimeout of last_event + 30 min; a group is emitted
    ONLY when the watermark overtakes its timeout - the classic
    inactivity flush, where results leave the operator because time
    passed, not because data arrived.  Two time-ordered micro-batches
    (early half first, file mtimes) plus the final no-data batch
    availableNow runs to evaluate remaining timers: day-groups with no
    batch-2 data flush in batch 2 once the batch-1 watermark overtakes
    them; every surviving group flushes in the final batch iff its last
    event + gap precedes the end-of-stream watermark; only groups active
    in the stream's last 40 minutes are never emitted.  The batch dual in
    tests/test_streaming.py recomputes this exact three-batch schedule.

    At scale: state is one (n, sum, last_ts) per live (user, day) in the
    state store, evicted BY THE TIMEOUT itself - the watermark bounds
    state exactly as it bounds stream-stream join buffers."""
    ev = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("ts"),
        "value",
    )
    with tempfile.TemporaryDirectory(prefix="inactivity_") as tmp:
        stream = _write_time_batches(
            ev, tmp, F.unix_micros("ts"), cuts
        ).withWatermark("ts", "10 minutes")
        return run_to_memory(
            _apply_inactivity_flush(stream), "stream_inactivity_out"
        )


def _cdc_merge_fn(spark: SparkSession, state_dir: str):
    """The per-micro-batch CDC merge (last-write-wins argmax into a
    persistent parquet state table) - split from stream_cdc_upsert so the
    checkpoint-recovery test drives the IDENTICAL merge through a
    kill-and-restart schedule.  The merge is IDEMPOTENT (re-merging an
    already-applied batch is a no-op), which is what upgrades
    foreachBatch's at-least-once replay to exactly-once results."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        winners = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if os.path.isdir(state_dir):
            current = spark.read.parquet(state_dir)
            winners = (
                current.unionByName(winners)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        merged = winners.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(state_dir)

    return merge


@query("stream_cdc_upsert")
def stream_cdc_upsert(spark: SparkSession, sf: str, *, cuts=(0.5,)) -> DataFrame:
    """CDC-style keyed upsert materialization: a change stream merged into
    a persistent last-write-wins state table via foreachBatch, the
    lakehouse `MERGE INTO` loop (reference posture: registry.py:76-88
    INSERT OR REPLACE applied per notification; here it is applied per
    MICRO-BATCH).  The stream is split into two time-ordered micro-batches
    (median split, file mtimes - same rig as stream_attribution_state), so
    the merge provably carries state across the batch boundary: a user
    whose latest event is in batch 1 must survive batch 2's merge
    untouched, one updated in batch 2 must be replaced.  Each merge is
    argmax-per-key over (current state UNION batch winners) - the
    read-modify-write every CDC sink performs; the state table is
    localCheckpoint-materialized before the overwrite so the write never
    scans the files it replaces.

    Scale posture: per batch the work is ONE window shuffle over
    |batch| + |changed keys| rows, not the full table - at a real
    deployment the state table is Delta/Iceberg and the same merge is
    MERGE INTO with file-level pruning on the key ranges the batch
    touches.  The final table equals ref_upsert_lastwins' batch result
    exactly (asserted in tests/test_streaming.py)."""
    ev = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    with tempfile.TemporaryDirectory(prefix="cdc_upsert_") as tmp:
        src = os.path.join(tmp, "src")
        state_dir = os.path.join(tmp, "state")
        stream = _write_time_batches(ev, src, "ts_us", cuts)
        q = (
            stream.writeStream.foreachBatch(_cdc_merge_fn(spark, state_dir))
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        final = spark.read.parquet(state_dir).select(
            "user_id",
            "event_id",
            "event_type",
            (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
        )
        # materialize into Spark block storage before the
        # TemporaryDirectory (and the parquet files) vanish
        return final.localCheckpoint(eager=True)


@query("stream_sliding_hll")
def stream_sliding_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window approximate distinct users on a stream: 2-hour
    windows sliding by 1 hour, approx_count_distinct(user_id) per
    (window, event_type) - the sketch-based cardinality shape a real-time
    dashboard runs (exact streaming distinct would need unbounded keyed
    state; the HLL sketch is fixed-size per window and merges across
    partitions AND across micro-batches, which is the whole point).
    Watermark bounds window state exactly as in stream_ingest_pipeline;
    the batch dual with exact countDistinct is asserted within sketch
    tolerance in tests/test_streaming.py."""
    ev = _events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_users_approx",
        )
    )
    # complete mode: append would hold back the final windows still inside
    # the watermark when the bounded stream ends (stream_session_window's
    # rationale)
    return run_to_memory(agg, "stream_sliding_hll_out", output_mode="complete")


@query("stream_ohlc_bars")
def stream_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming OHLC bar builder: per (event_type, 1-day tumbling window)
    open/high/low/close in integer cents, the ingest-time counterpart of
    time_resample_ohlc (analytics_ops.py) - a real market-data /
    metrics-rollup pipeline computes bars AS data arrives, not in a
    nightly batch.  Open/close ride as min/max over the struct
    (ts, event_id, cents) - structs compare lexicographically, min/max
    are classic algebraic accumulators, so the bar state is ONE struct
    pair + 3 longs per open window regardless of event volume (bounded
    by watermark x type cardinality), and every accumulator merges
    associatively across micro-batches - the property that makes the
    streaming result EQUAL the batch query on the same data, asserted as
    batch-dual equality in tests/test_streaming.py.  Complete-mode drain
    like stream_windowed_topk; at scale the sink is Kafka/Delta with
    append mode once the watermark closes each day."""
    ev = _events_stream(spark, sf)
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    e = ev.select(
        "event_type",
        "ts",
        F.struct("ts", "event_id", cents.alias("cents")).alias("k"),
        cents.alias("cents"),
    )
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min("k").alias("first_k"),
            F.max("k").alias("last_k"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.count("*").alias("n_events"),
            F.sum("cents").alias("volume_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.col("first_k.cents").alias("open_cents"),
            "high_cents",
            "low_cents",
            F.col("last_k.cents").alias("close_cents"),
            "n_events",
            "volume_cents",
        )
    )
    return run_to_memory(agg, "stream_ohlc_bars_out", output_mode="complete")


@query(
    "udaf_seasonal_dow",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) % 7 AS dow,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events
      -- a valueless event contributes nothing to a value profile; the
      -- explicit filter keeps pandas count == SQL count(*) (NULL sweep r8)
      WHERE value IS NOT NULL),
    d AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sc
      FROM c GROUP BY 1, 2),
    t AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(sc) AS BIGINT) AS tc
      FROM d GROUP BY 1)
    SELECT d.event_type, d.dow, d.n,
           CAST((d.sc * 1000000) // d.n AS BIGINT) AS mean_cents_micro,
           CAST((((d.sc * 1000000) // d.n) * 1000)
                // ((t.tc * 1000000) // t.nt) AS BIGINT) AS seasonal_milli
    -- null-safe join: a NULL event_type is a real stratum and the Spark
    -- side's groupBy keeps it (NULL sweep, round 8)
    FROM d JOIN t ON d.event_type IS NOT DISTINCT FROM t.event_type
    """,
)
def udaf_seasonal_dow(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map applyInPandas operator - the third Python extension
    API next to udf_scalar_parse (scalar pandas_udf) and udtf_normalize
    (mapInPandas): each event type's FULL history arrives as one pandas
    frame and returns its day-of-week seasonal profile (per-dow mean
    value and the seasonal index vs the type's overall mean, the
    classical decomposition's seasonal component).  Arithmetic inside
    the UDF is PYTHON-INT floor division on exact cent sums - the same
    two-step micro/milli division the oracle spells - so the Python path
    is hash-identical to the SQL path, demonstrating that even the
    escape hatch can hold the engine's exactness discipline.  The
    grouped-map pattern is the right tool when per-group logic needs a
    whole-group view (model fits, per-entity solvers) that window
    functions can't express; its scale contract is that a GROUP must fit
    one executor's memory - here groups are event types, and at 100 TB
    the grouping key would be (type, month) or similar to bound them.
    One shuffle (the groupBy), Arrow-batched both ways.  Native
    equivalent exists (two hash aggs + broadcast join) - this query is
    the API-surface demonstration, cross-checked by the oracle."""
    ev = load(spark, sf, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        (F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long") % 7).alias(
            "dow"
        ),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("dow", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("mean_cents_micro", T.LongType()),
            T.StructField("seasonal_milli", T.LongType()),
        ]
    )

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        et = pdf["event_type"].iloc[0]
        nt = int(len(pdf))
        tc = int(pdf["cents"].sum())
        overall_micro = (tc * 1_000_000) // nt
        g = pdf.groupby("dow")["cents"].agg(["count", "sum"]).reset_index()
        rows = []
        for _, r in g.iterrows():
            n, sc = int(r["count"]), int(r["sum"])
            mean_micro = (sc * 1_000_000) // n
            rows.append(
                {
                    "event_type": et,
                    "dow": int(r["dow"]),
                    "n": n,
                    "mean_cents_micro": mean_micro,
                    "seasonal_milli": (mean_micro * 1000) // overall_micro,
                }
            )
        return pd.DataFrame(rows)

    return base.groupBy("event_type").applyInPandas(profile, out_schema)


@query("stream_countmin_merge")
def stream_countmin_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch built INCREMENTALLY over the event stream: each
    micro-batch's (hash_row, bucket) counts merge into the running
    sketch by plain addition - the mergeability that makes CM the
    sketch you ship at 100 TB (agg_countmin_topk's docstring), here
    demonstrated end-to-end in Structured Streaming: the streaming
    aggregation state IS the sketch (<= 4 x 128 counters regardless of
    stream volume), and because counter addition is associative and
    commutative, the drained sketch equals the batch-built one
    EXACTLY - asserted as batch-dual equality of the final top-10
    estimates in tests/test_streaming.py.  Complete-mode drain + the
    same broadcast probe stage as the batch operator (two-stage
    spelling, as stream_windowed_topk)."""
    from .analytics_ops import _CM_DEPTH, _CM_WIDTH

    ev = _events_stream(spark, sf)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r"), F.col("user_id"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % _CM_WIDTH
    )
    quad = ev.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))).alias("r")
    )
    agg = quad.select("r", bucket.alias("bucket")).groupBy("r", "bucket").agg(
        F.count("*").alias("cnt")
    )
    sketch = run_to_memory(agg, "stream_countmin_out", output_mode="complete")
    # probe stage (batch): exact top-10 users vs their sketch estimates
    ev_b = load(spark, sf, "events")
    exact = (
        ev_b.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(10)
    )
    probes = F.broadcast(
        exact.select(
            "user_id",
            "exact_n",
            F.explode(F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))).alias("r"),
        ).select("user_id", "exact_n", "r", bucket.alias("bucket"))
    )
    return (
        probes.join(sketch, ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
    )


@query("stream_media_decode")
def stream_media_decode(spark: SparkSession, sf: str) -> DataFrame:
    """The REAL media decode running INSIDE Structured Streaming - the
    ingest-time posture of multimodal_decode (r10: the reference ingests
    continuously, receiver.py:354-458, and a media-corpus pipeline decodes
    on arrival, not in a nightly batch): documents stream in, blobs are
    synthesized (the stand-in for a binary Kafka payload or object-store
    pointer fetch), and the SAME mapInPandas stages the batch path uses -
    synthesize_media_assets + decode_media_stats, stateless, so they run
    unchanged on an unbounded stream - reduce each container to its typed
    integer stats inside each micro-batch.  No state, no watermark: decode
    is embarrassingly parallel, exactly the operator whose streaming and
    batch plans should be THE SAME CODE (the streaming=batch library rule,
    README).  Batch-dual equality against multimodal_decode's full result
    is asserted in tests/test_streaming.py."""
    from ..pipeline.multimodal import decode_media_stats, synthesize_media_assets

    docs = _documents_stream(spark, sf).select("doc_id")
    stats = decode_media_stats(synthesize_media_assets(docs))
    return run_to_memory(stats, "stream_media_decode_out")
