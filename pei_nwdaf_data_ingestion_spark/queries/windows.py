"""Window functions: ranking, analytic, running/range frames, time windows,
sessionization.  All [EXT] per SURVEY.md section 2.5/2.7.

Determinism: every window ORDER BY ends in a unique key (event_id /
o_orderkey / c_custkey) so rank/lag results are stable across engines.

Scale: one hash shuffle per distinct partitioning; queries below partition on
user_id / segment keys whose per-key state is small (top-k heap, running
accumulator), so they stream through sorted partitions without spill at any
SF.  Time windows go through date_trunc-style bucketing (a pure map-side
expression) + hash agg, never a window-function sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import pround
from ..registry import query


@query(
    "win_rank_topk",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn
    FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer)
    WHERE rn <= 3
    """,
)
def win_rank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K per group via row_number.  At scale Spark rewrites rn<=k into a
    per-partition top-k (WindowGroupLimit) before the shuffle."""
    c = load(spark, sf, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


@query(
    "win_ntile",
    oracle="""
    SELECT tile, count(*) AS n, floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS tile_total,
           floor((min(o_totalprice)) * 100.0 + 0.5) / 100.0 AS tile_min
    FROM (SELECT o_totalprice,
                 ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS tile
          FROM orders)
    GROUP BY tile
    """,
)
def win_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """ntile(4) without the global single-partition sort that
    `ntile() OVER (ORDER BY ...)` plans (Exchange SinglePartition + one-task
    total sort - the one construct that cannot survive a 100x scale-up).

    Distributed-rank plan: range-shuffle on the (unique) sort key so ranges
    are ordered by partition id -> local row_number within each range ->
    per-range row counts (P rows) turned into prefix offsets by a tiny
    self-join, broadcast back -> global rank = offset + local rank -> exact
    ntile arithmetic on the rank (first n%4 tiles get one extra row, same as
    the SQL function).  Every stage is bounded by |rows|/P per task; the
    offset table is P rows regardless of data size.  Output stays
    hash-identical to the DuckDB oracle because the sort key is unique.

    Cross-branch pid consistency is STRUCTURAL: functions.global_rank
    lazily localCheckpoints the pid-tagged range frame, so the counts/
    offsets branch and the rank join scan the one materialized RDD.
    (The earlier deterministic-bound-sampling argument is insufficient
    under AQE: runtime coalescing can hand the two planned copies of the
    range exchange different input layouts - observed as a corrupted
    distributed rank at sf0.1 in round 6, now pinned by the repeated
    scale probes in tools/driver_sim.py <ids> runs.)"""
    from ..functions import global_rank, ntile_expr

    o = load(spark, sf, "orders")
    total = o.agg(F.count("*").alias("n_total"))
    ranked = (
        global_rank(o, ["o_totalprice", "o_orderkey"], out="rn")
        .crossJoin(F.broadcast(total))
        .withColumn("tile", ntile_expr("rn", "n_total", 4))
    )
    return (
        ranked.groupBy(F.col("tile").cast("long").alias("tile"))
        .agg(
            F.count("*").alias("n"),
            pround(F.sum("o_totalprice"), 2).alias("tile_total"),
            pround(F.min("o_totalprice"), 2).alias("tile_min"),
        )
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    """Event deltas - the trajectory/comms 'first element vs next' pattern of
    the reference (receiver.py:158,189) generalized to lag/lead."""
    ev = load(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    return ev.select(
        "event_id",
        "user_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT event_id, user_id,
           floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0 + 0.5) / 100.0 AS running_value
    FROM events
    """,
)
def win_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        pround(F.sum("value").over(w), 2).alias("running_value"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           floor((sum(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(epoch_ms(ts) / 1000) AS BIGINT)
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)) * 100.0 + 0.5) / 100.0 AS hour_value
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 1-hour value-range frame ordered on epoch seconds (both
    engines see identical BIGINT sort keys, so frames match exactly)."""
    ev = load(spark, sf, "events")
    secs = F.floor(F.unix_millis("ts") / 1000).cast("long")
    w = W.partitionBy("user_id").orderBy(secs.alias("s")).rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        pround(F.sum("value").over(w), 2).alias("hour_value"),
    )


@query(
    "win_tumbling_1h",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, count(*) AS n, floor((sum(value)) * 100.0 + 0.5) / 100.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def win_tumbling_1h(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling event-time window via F.window - identical semantics in
    batch and Structured Streaming (the streaming variant adds a watermark,
    see streaming_queries.stream_ingest_pipeline)."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), pround(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


@query(
    "win_sliding",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                      - to_minutes(CAST(k.k * 15 AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS value_sum
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    GROUP BY 1, 2
    """,
)
def win_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window (1h length, 15min slide): each event lands in exactly
    4 overlapping windows; Spark expands via the `window` generator.  The
    SQL dual makes the expansion explicit: the containing window starts are
    bucket(ts, 15min) - k*15min for k in 0..3 (every k always qualifies
    because slide divides length), so a cross join against k reproduces the
    generator exactly."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), pround(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


@query(
    "win_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           floor((percent_rank() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
           floor((cume_dist() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS cume,
           rank() OVER w AS rnk
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Relative-rank analytics (percent_rank / cume_dist / rank); ordering
    includes the unique c_custkey so ties are impossible and both engines
    rank identically (SURVEY.md 7.4)."""
    c = load(spark, sf, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).cast("long").alias("rnk"),
    )


@query(
    "win_session_gap",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id, count(*) AS n_events,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS session_value,
           min(epoch_ms(ts)) AS session_start_ms,
           max(epoch_ms(ts)) AS session_end_ms
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def win_session_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag + gap-flag + running sum -
    the batch dual of session_window(ts, '30 minutes') (streaming path in
    streaming/ingest.py)."""
    ev = load(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ms = F.unix_millis("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            # strict > : session_window MERGES an event landing exactly `gap`
            # after the previous one (verified empirically against Spark's
            # session_window in tests/test_streaming.py) - a new session opens
            # only when the delta strictly exceeds the gap
            F.lag("ts").over(w).isNull() | ((ms - F.lag(ms).over(w)) > 1800000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        pround(F.sum("value"), 2).alias("session_value"),
        F.min(ms).alias("session_start_ms"),
        F.max(ms).alias("session_end_ms"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
           nth_value(o_orderkey, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """first_value / last_value / nth_value.  last_value and nth_value pin
    an explicit unbounded frame - the default frame ends at CURRENT ROW,
    which silently turns last_value into 'current value' (a classic window
    trap both engines share).  Unique-key ordering per 7.4."""
    o = load(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_key"),
    )
