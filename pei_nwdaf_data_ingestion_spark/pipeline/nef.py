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

The whole path is: subscription-map lookup -> explode eventNotifs -> one
explode over each eventNotif's records, every family at once -> one
projection - a single static DAG replacing the reference's per-record dict
dispatch (receiver.py:199-203).  It reads its input once, with no union,
no join and no exchange: the tiny subscription dimension is collected once,
when the plan is built, into a literal map (the reference's in-memory
registry cache, registry.py:22-109), so a micro-batch plans and runs
without adaptive query stages.  Used identically by batch tests and the
Structured Streaming ingest (streaming/ingest.py), so stream/batch
semantics cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .normalize import (
    KNOWN_TAG_FIELDS,
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


# event family -> its info array in an eventNotif; any other event type is
# skipped (receiver.py:380-382)
_FAMILIES = {
    "PERF_DATA": ("perfDataInfos", PERF_DATA_INFO),
    "UE_MOBILITY": ("ueMobilityInfos", UE_MOBILITY_INFO),
    "UE_COMM": ("ueCommInfos", UE_COMM_INFO),
}
# one info before normalization: its family as a tag, and one slot per
# family of which only its own is set
_RECORD_T = T.StructType(
    [T.StructField("event", T.StringType(), False)]
    + [T.StructField(family, info_t) for family, (_, info_t) in _FAMILIES.items()]
)


def _family_records(family: str) -> Column:
    """The infos of the exploded eventNotif `en` as `_RECORD_T` records when
    `en` is of `family`, else an empty array.  The lambda only wraps: the
    parsing runs in the projection after the explode."""
    infos, _ = _FAMILIES[family]

    def wrap(info: Column) -> Column:
        return F.struct(
            F.lit(family).alias("event"),
            *[(info if f == family else _null(t)).alias(f)
              for f, (_, t) in _FAMILIES.items()],
        )

    return F.when(
        F.col("en.event") == family, F.transform(F.col(f"en.{infos}"), wrap)
    ).otherwise(F.array().cast(T.ArrayType(_RECORD_T, False)))


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
         per-type dispatch              -> each eventNotif's infos of its own
                                           family, tagged; the projection
                                           reads the record's family slot
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
    rows = (
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
        # one explode over each eventNotif's records, all families at once
        .select(
            "notifId", "ctx_sst", "ctx_sd", "ctx_dnn", "fallback_ts",
            F.explode(F.flatten(F.array(*map(_family_records, _FAMILIES)))).alias("rec"),
        )
    )
    event = F.col("rec.event")
    perf, mob, comm = (F.col("rec")[family] for family in _FAMILIES)

    # each family's metric and tag columns read its own info slot, which is
    # null on the other families' records
    ip4_tag, ip6_tag = tag_ip_precedence(
        perf["ueIpAddr"]["ipv4Addr"], perf["ueIpAddr"]["ipv6Addr"]
    )
    traj = F.transform(
        mob["ueTrajs"],
        lambda p: F.struct(
            parse_iso8601_unix_seconds(p["ts"]).alias("ts"),
            p["location"]["nrLocation"]["tai"]["tac"].alias("tac"),
            p["location"]["nrLocation"]["ncgi"]["nrCellId"].alias("nrCellId"),
        ),
    )
    comms = F.transform(
        comm["comms"],
        lambda c: F.struct(
            parse_iso8601_unix_seconds(c["startTime"]).alias("startTime"),
            parse_iso8601_unix_seconds(c["endTime"]).alias("endTime"),
            c["ulVol"].alias("ulVol"),
            c["dlVol"].alias("dlVol"),
        ),
    )
    # try_element_at: ANSI mode errors on out-of-bounds (empty ueTrajs /
    # comms is a legal payload, test_receiver.py:434-451)
    event_ts = F.coalesce(
        # PERF_DATA: the info's own timeStamp (receiver.py:128)
        parse_iso8601_unix_seconds(perf["timeStamp"]),
        # UE_MOBILITY: the first trajectory point's ts (:158)
        parse_iso8601_unix_seconds(F.try_element_at(mob["ueTrajs"], F.lit(1))["ts"]),
        # UE_COMM: the first comm's endTime (:189)
        parse_iso8601_unix_seconds(F.try_element_at(comm["comms"], F.lit(1))["endTime"]),
    )
    records = rows.select(
        F.col("notifId"),
        F.coalesce(event_ts, F.col("fallback_ts")).alias("ts_unix"),
        event.alias("event"),
        F.col("ctx_sst").alias("snssai_sst"),
        F.col("ctx_sd").alias("snssai_sd"),
        F.col("ctx_dnn").alias("dnn"),
        # ipv4 wins over ipv6 (receiver.py:92-96); empty strings are absent
        ip4_tag.alias("ueIpv4Addr"),
        ip6_tag.alias("ueIpv6Addr"),
        nz(perf["appId"]).alias("appId"),
        # PERF_DATA tags ONLY ueIp/appId (receiver.py:89-98): supi/gpsi/
        # interGroupId in its payload are NOT identity tags and stay null, or
        # the 'no UE identifier' drop rule diverges.  UE_MOBILITY tags only
        # supi/gpsi (:138-143); UE_COMM tags supi/gpsi/interGroupId (:168-176)
        F.coalesce(nz(mob["supi"]), nz(comm["supi"])).alias("supi"),
        F.coalesce(nz(mob["gpsi"]), nz(comm["gpsi"])).alias("gpsi"),
        nz(comm["interGroupId"]).alias("interGroupId"),
        *[parse_bitrate_mbps(perf["perfData"][src]).alias(dst)
          for src, dst in _BITRATE_MAP.items()],
        *[perf["perfData"][src].cast("long").alias(dst) for src, dst in _INT_MAP.items()],
        F.when(event == "UE_MOBILITY", F.coalesce(traj, F.array().cast(TRAJECTORY_T)))
        .alias("trajectory"),
        F.when(event == "UE_COMM", F.coalesce(comms, F.array().cast(COMMS_T)))
        .alias("comms"),
    )

    # drop records with no identity tags (receiver.py:100-101,...,386-389)
    return records.filter(any_tag_present(*[F.col(c) for c in KNOWN_TAG_FIELDS]))
