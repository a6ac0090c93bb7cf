"""NEF notification normalization - the reference's core dataflow
(receiver.py:89-203,354-445) as one declarative DataFrame transform.

Input: a DataFrame of raw TS 29.591 event-exposure notifications
(one row per POST /nef/notify callback body) plus the subscription
dimension.  Output: the normalized record relation

    ts_unix:long, event:string,
    snssai_sst:int, snssai_sd:string, dnn:string,
    ueIpv4Addr/ueIpv6Addr/appId/supi/gpsi/interGroupId:string,   (tags)
    <typed metric columns>, trajectory/comms:array<struct>        (metrics)

Tags are typed nullable columns (not a map) so parquet stats / pruning /
predicate pushdown work on them at 100TB (SURVEY.md 1.4).

The whole path is: subscription-map lookup -> double explode -> per-type
select -> union - a single static DAG replacing the reference's per-record
dict dispatch (receiver.py:199-203).  It has no join and no exchange: the
tiny subscription dimension is collected once, when the plan is built, into
a literal map (the reference's in-memory registry cache, registry.py:22-109),
so a micro-batch plans and runs without adaptive query stages.  Used
identically by batch tests and the Structured Streaming ingest
(streaming/ingest.py), so stream/batch semantics cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .normalize import (
    any_tag_present,
    nz,
    parse_bitrate_mbps,
    parse_iso8601_unix_seconds,
    tag_ip_precedence,
)

# --- input schemas (FIXTURES.md A.2-A.4; nesting per receiver.py:92-98,141-187) ---

TAI = T.StructType([T.StructField("tac", T.StringType())])
NCGI = T.StructType([T.StructField("nrCellId", T.StringType())])
NR_LOCATION = T.StructType(
    [T.StructField("tai", TAI), T.StructField("ncgi", NCGI)]
)
LOCATION = T.StructType([T.StructField("nrLocation", NR_LOCATION)])

PERF_DATA_INFO = T.StructType(
    [
        T.StructField("ueIpAddr", T.StructType(
            [T.StructField("ipv4Addr", T.StringType()), T.StructField("ipv6Addr", T.StringType())]
        )),
        T.StructField("appId", T.StringType()),
        T.StructField("supi", T.StringType()),
        T.StructField("gpsi", T.StringType()),
        T.StructField("interGroupId", T.StringType()),
        T.StructField("timeStamp", T.StringType()),
        T.StructField("perfData", T.StructType(
            [
                T.StructField("thrputUl", T.StringType()),
                T.StructField("thrputDl", T.StringType()),
                T.StructField("maxThrputUl", T.StringType()),
                T.StructField("minThrputUl", T.StringType()),
                T.StructField("maxThrputDl", T.StringType()),
                T.StructField("minThrputDl", T.StringType()),
                T.StructField("pdb", T.LongType()),
                T.StructField("pdbDl", T.LongType()),
                T.StructField("maxPdbUl", T.LongType()),
                T.StructField("maxPdbDl", T.LongType()),
                T.StructField("plr", T.LongType()),
                T.StructField("plrDl", T.LongType()),
                T.StructField("maxPlrUl", T.LongType()),
                T.StructField("maxPlrDl", T.LongType()),
            ]
        )),
    ]
)

UE_TRAJ = T.StructType(
    [T.StructField("ts", T.StringType()), T.StructField("location", LOCATION)]
)
UE_MOBILITY_INFO = T.StructType(
    [
        T.StructField("supi", T.StringType()),
        T.StructField("gpsi", T.StringType()),
        T.StructField("interGroupId", T.StringType()),
        T.StructField("ueTrajs", T.ArrayType(UE_TRAJ)),
    ]
)

COMM = T.StructType(
    [
        T.StructField("startTime", T.StringType()),
        T.StructField("endTime", T.StringType()),
        T.StructField("ulVol", T.LongType()),
        T.StructField("dlVol", T.LongType()),
    ]
)
UE_COMM_INFO = T.StructType(
    [
        T.StructField("supi", T.StringType()),
        T.StructField("gpsi", T.StringType()),
        T.StructField("interGroupId", T.StringType()),
        T.StructField("comms", T.ArrayType(COMM)),
    ]
)

EVENT_NOTIF = T.StructType(
    [
        T.StructField("event", T.StringType()),
        T.StructField("timeStamp", T.StringType()),
        T.StructField("perfDataInfos", T.ArrayType(PERF_DATA_INFO)),
        T.StructField("ueMobilityInfos", T.ArrayType(UE_MOBILITY_INFO)),
        T.StructField("ueCommInfos", T.ArrayType(UE_COMM_INFO)),
    ]
)

NOTIFICATION = T.StructType(
    [
        T.StructField("notifId", T.StringType()),
        T.StructField("eventNotifs", T.ArrayType(EVENT_NOTIF)),
    ]
)

SUBSCRIPTION = T.StructType(
    [
        T.StructField("notif_id", T.StringType()),
        T.StructField("snssai", T.StructType(
            [T.StructField("sst", T.IntegerType()), T.StructField("sd", T.StringType())]
        )),
        T.StructField("dnn", T.StringType()),
        T.StructField("events", T.ArrayType(T.StringType())),
        T.StructField("nef_sub_id", T.StringType()),
        T.StructField("nef_url", T.StringType()),
        T.StructField("created_at", T.LongType()),
    ]
)

# PERF_DATA metric column maps - reference receiver.py:106-125.
_BITRATE_MAP = {
    "thrputUl": "thrputUl_mbps",
    "thrputDl": "thrputDl_mbps",
    "maxThrputUl": "maxThrputUl_mbps",
    "minThrputUl": "minThrputUl_mbps",
    "maxThrputDl": "maxThrputDl_mbps",
    "minThrputDl": "minThrputDl_mbps",
}
_INT_MAP = {
    "pdb": "pdb_ms",
    "pdbDl": "pdbDl_ms",
    "maxPdbUl": "maxPdbUl_ms",
    "maxPdbDl": "maxPdbDl_ms",
    "plr": "plr_per_thousand",
    "plrDl": "plrDl_per_thousand",
    "maxPlrUl": "maxPlrUl_per_thousand",
    "maxPlrDl": "maxPlrDl_per_thousand",
}

TRAJECTORY_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("tac", T.StringType()),
            T.StructField("nrCellId", T.StringType()),
        ]
    )
)
COMMS_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("startTime", T.LongType()),
            T.StructField("endTime", T.LongType()),
            T.StructField("ulVol", T.LongType()),
            T.StructField("dlVol", T.LongType()),
        ]
    )
)


# subscription context per notif_id: the registry cache entry the reference
# reads per notification (receiver.py:367-374)
CONTEXT_MAP_T = T.MapType(
    T.StringType(),
    T.StructType(
        [
            T.StructField("sst", T.IntegerType()),
            T.StructField("sd", T.StringType()),
            T.StructField("dnn", T.StringType()),
        ]
    ),
)


def _null(dt: T.DataType) -> Column:
    return F.lit(None).cast(dt)


def _context_map(subscriptions: DataFrame) -> Column:
    """The subscription dimension as a literal `map<notif_id, struct<sst,
    sd, dnn>>`, collected once.  sst is kept when `is not None` (0 is a
    legal slice type); sd/dnn are truthiness-guarded strings
    (receiver.py:368-374).  A null or duplicate notif_id raises ValueError:
    a join would silently ignore a null id and emit every record once per
    duplicate row."""
    rows = subscriptions.select(
        F.col("notif_id"),
        F.col("snssai.sst").alias("sst"),
        nz(F.col("snssai.sd")).alias("sd"),
        nz(F.col("dnn")).alias("dnn"),
    ).collect()
    seen: set[str] = set()
    entries: list[Column] = []
    for r in rows:
        notif_id = r["notif_id"]
        if notif_id is None:
            raise ValueError("normalize_notifications: a subscription row has a null notif_id")
        if notif_id in seen:
            raise ValueError(
                f"normalize_notifications: duplicate subscription notif_id {notif_id!r}"
            )
        seen.add(notif_id)
        entries += [
            F.lit(notif_id),
            F.struct(
                F.lit(r["sst"]).cast(T.IntegerType()).alias("sst"),
                F.lit(r["sd"]).cast(T.StringType()).alias("sd"),
                F.lit(r["dnn"]).cast(T.StringType()).alias("dnn"),
            ),
        ]
    return F.create_map(*entries).cast(CONTEXT_MAP_T)


def normalize_notifications(
    notifications: DataFrame,
    subscriptions: DataFrame,
    fallback_ts: Column | None = None,
) -> DataFrame:
    """The full 3.1 data path, minus sinks.

    Steps (reference receiver.py:354-445 -> Spark):
      2. drop missing notifId           -> filter isNotNull   (:358-361)
      3. unknown notifId drops out      -> map lookup is null  (:363-365)
      4. context tags from subscription -> map value fields    (:367-374)
      5. eventNotifs[] x infos[]        -> explode + explode   (:377-387)
         per-type dispatch              -> one filtered branch per type, union
      -. tagless records dropped        -> any_tag_present filter (:386-389)

    `subscriptions` is collected once, here, into a literal map, so the
    plan holds a snapshot of the dimension taken when it is built: restart
    the stream to pick up subscription changes.  A null or duplicate
    notif_id raises ValueError.

    `fallback_ts` (unix seconds) replaces the reference's now() fallback
    (receiver.py:128).  It may be any column of `notifications`, e.g. the
    streaming path's spool-file receive time; it defaults to
    current_timestamp(), and tests pass a literal.
    """
    if fallback_ts is None:
        fallback_ts = F.unix_timestamp(F.current_timestamp())

    ctx_map = _context_map(subscriptions)
    base = (
        notifications.filter(F.col("notifId").isNotNull())
        .select(
            "notifId",
            F.try_element_at(ctx_map, F.col("notifId")).alias("ctx"),
            fallback_ts.alias("fallback_ts"),
            "eventNotifs",
        )
        .filter(F.col("ctx").isNotNull())
        .select(
            "notifId",
            F.col("ctx.sst").alias("ctx_sst"),
            F.col("ctx.sd").alias("ctx_sd"),
            F.col("ctx.dnn").alias("ctx_dnn"),
            "fallback_ts",
            F.explode("eventNotifs").alias("en"),
        )
    )
    fallback = F.col("fallback_ts")

    ctx = [
        F.col("ctx_sst").alias("snssai_sst"),
        F.col("ctx_sd").alias("snssai_sd"),
        F.col("ctx_dnn").alias("dnn"),
    ]

    # --- PERF_DATA branch (receiver.py:89-135) ---
    pd_rows = base.filter(F.col("en.event") == "PERF_DATA").select(
        "notifId", "ctx_sst", "ctx_sd", "ctx_dnn", "fallback_ts",
        F.col("en.timeStamp").alias("en_ts"),
        F.explode("en.perfDataInfos").alias("info"),
    )
    ip4_tag, ip6_tag = tag_ip_precedence(
        F.col("info.ueIpAddr.ipv4Addr"), F.col("info.ueIpAddr.ipv6Addr")
    )
    perf_metrics = [
        parse_bitrate_mbps(F.col(f"info.perfData.{src}")).alias(dst)
        for src, dst in _BITRATE_MAP.items()
    ] + [
        F.col(f"info.perfData.{src}").cast("long").alias(dst)
        for src, dst in _INT_MAP.items()
    ]
    perf = pd_rows.select(
        F.col("notifId"),
        F.coalesce(
            parse_iso8601_unix_seconds(F.col("info.timeStamp")), fallback
        ).alias("ts_unix"),
        F.lit("PERF_DATA").alias("event"),
        *ctx,
        # ipv4 wins over ipv6 (receiver.py:92-96); empty strings are absent
        ip4_tag.alias("ueIpv4Addr"),
        ip6_tag.alias("ueIpv6Addr"),
        nz(F.col("info.appId")).alias("appId"),
        # the reference's _normalize_perf_data tags ONLY ueIp/appId
        # (receiver.py:89-98): supi/gpsi/interGroupId present in the payload
        # are NOT identity tags for PERF_DATA and must stay null, or the
        # 'no UE identifier' drop rule diverges
        _null(T.StringType()).alias("supi"),
        _null(T.StringType()).alias("gpsi"),
        _null(T.StringType()).alias("interGroupId"),
        *perf_metrics,
        _null(TRAJECTORY_T).alias("trajectory"),
        _null(COMMS_T).alias("comms"),
    )

    # --- UE_MOBILITY branch (receiver.py:138-165) ---
    mob_rows = base.filter(F.col("en.event") == "UE_MOBILITY").select(
        "notifId", "ctx_sst", "ctx_sd", "ctx_dnn", "fallback_ts",
        F.explode("en.ueMobilityInfos").alias("info"),
    )
    traj = F.transform(
        F.col("info.ueTrajs"),
        lambda p: F.struct(
            parse_iso8601_unix_seconds(p["ts"]).alias("ts"),
            p["location"]["nrLocation"]["tai"]["tac"].alias("tac"),
            p["location"]["nrLocation"]["ncgi"]["nrCellId"].alias("nrCellId"),
        ),
    )
    mob = mob_rows.select(
        F.col("notifId"),
        # event-time = first trajectory point's ts, else fallback (:158)
        # try_element_at: ANSI mode errors on out-of-bounds (empty ueTrajs is
        # a legal payload, test_receiver.py:434-451)
        F.coalesce(F.try_element_at(traj, F.lit(1))["ts"], fallback).alias("ts_unix"),
        F.lit("UE_MOBILITY").alias("event"),
        *ctx,
        _null(T.StringType()).alias("ueIpv4Addr"),
        _null(T.StringType()).alias("ueIpv6Addr"),
        _null(T.StringType()).alias("appId"),
        nz(F.col("info.supi")).alias("supi"),
        nz(F.col("info.gpsi")).alias("gpsi"),
        # _normalize_ue_mobility tags only supi/gpsi (receiver.py:138-143):
        # interGroupId is not an identity tag for UE_MOBILITY
        _null(T.StringType()).alias("interGroupId"),
        *[_null(T.DoubleType()).alias(dst) for dst in _BITRATE_MAP.values()],
        *[_null(T.LongType()).alias(dst) for dst in _INT_MAP.values()],
        F.coalesce(traj, F.array().cast(TRAJECTORY_T)).alias("trajectory"),
        _null(COMMS_T).alias("comms"),
    )

    # --- UE_COMM branch (receiver.py:168-196) ---
    comm_rows = base.filter(F.col("en.event") == "UE_COMM").select(
        "notifId", "ctx_sst", "ctx_sd", "ctx_dnn", "fallback_ts",
        F.explode("en.ueCommInfos").alias("info"),
    )
    comms = F.transform(
        F.col("info.comms"),
        lambda c: F.struct(
            parse_iso8601_unix_seconds(c["startTime"]).alias("startTime"),
            parse_iso8601_unix_seconds(c["endTime"]).alias("endTime"),
            c["ulVol"].alias("ulVol"),
            c["dlVol"].alias("dlVol"),
        ),
    )
    comm = comm_rows.select(
        F.col("notifId"),
        # event-time = first comm's endTime, else fallback (:189)
        F.coalesce(F.try_element_at(comms, F.lit(1))["endTime"], fallback).alias("ts_unix"),
        F.lit("UE_COMM").alias("event"),
        *ctx,
        _null(T.StringType()).alias("ueIpv4Addr"),
        _null(T.StringType()).alias("ueIpv6Addr"),
        _null(T.StringType()).alias("appId"),
        # UE_COMM tags supi/interGroupId/gpsi, truthiness-guarded
        # (receiver.py:168-176)
        nz(F.col("info.supi")).alias("supi"),
        nz(F.col("info.gpsi")).alias("gpsi"),
        nz(F.col("info.interGroupId")).alias("interGroupId"),
        *[_null(T.DoubleType()).alias(dst) for dst in _BITRATE_MAP.values()],
        *[_null(T.LongType()).alias(dst) for dst in _INT_MAP.values()],
        _null(TRAJECTORY_T).alias("trajectory"),
        F.coalesce(comms, F.array().cast(COMMS_T)).alias("comms"),
    )

    # union of the three typed branches; unsupported event types simply have
    # no branch (= dropped, receiver.py:380-382)
    records = perf.unionByName(mob).unionByName(comm)

    # drop records with no identity tags (receiver.py:100-101,...,386-389)
    tag_cols = [
        F.col(c)
        for c in ["snssai_sst", "snssai_sd", "dnn", "ueIpv4Addr", "ueIpv6Addr",
                  "appId", "supi", "gpsi", "interGroupId"]
    ]
    return records.filter(any_tag_present(*tag_cols))
