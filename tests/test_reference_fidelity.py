"""Reference-fidelity tests (SURVEY.md 7.5 contract): the normalized output
of pipeline/nef.py on the reference's own golden payloads
(/root/reference/tests/test_receiver.py, reproduced in FIXTURES.md A) must
match the reference's asserted records - same tag precedence, unit math,
drop rules, timestamp fallback order, upsert semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pei_nwdaf_data_ingestion_spark.pipeline.nef import (
    NOTIFICATION,
    SUBSCRIPTION,
    normalize_notifications,
)
from pei_nwdaf_data_ingestion_spark.pipeline.normalize import (
    parse_bitrate_mbps,
    parse_iso8601_unix_seconds,
)

# FIXTURES.md A.1 (reference tests/test_receiver.py:43-51)
SUB = {
    "notif_id": "test-notif-001",
    "snssai": {"sst": 1, "sd": "000001"},
    "dnn": "internet",
    "events": ["PERF_DATA", "UE_MOBILITY"],
    "nef_sub_id": "nef-sub-abc",
    "nef_url": "http://nef:8090/nnef-event-exposure/v1/subscriptions",
    "created_at": 1000000,
}

# FIXTURES.md A.2 (reference tests/test_receiver.py:204-221)
PERF_NOTIF = {
    "notifId": "test-notif-001",
    "eventNotifs": [
        {
            "event": "PERF_DATA",
            "timeStamp": "2026-04-20T10:15:00Z",
            "perfDataInfos": [
                {
                    "ueIpAddr": {"ipv4Addr": "10.0.1.10"},
                    "appId": "app-test",
                    "timeStamp": "2026-04-20T10:15:00Z",
                    "perfData": {
                        "thrputUl": "11.74 Mbps",
                        "thrputDl": "87.57 Mbps",
                        "pdb": 18,
                        "plr": 17,
                    },
                }
            ],
        }
    ],
}

# FIXTURES.md A.3 (reference tests/test_receiver.py:240-265)
MOBILITY_NOTIF = {
    "notifId": "test-notif-001",
    "eventNotifs": [
        {
            "event": "UE_MOBILITY",
            "ueMobilityInfos": [
                {
                    "supi": "imsi-001011234567890",
                    "ueTrajs": [
                        {
                            "ts": "2026-04-20T10:14:50Z",
                            "location": {
                                "nrLocation": {
                                    "tai": {"tac": "000001"},
                                    "ncgi": {"nrCellId": "000000001"},
                                }
                            },
                        },
                        {
                            "ts": "2026-04-20T10:15:00Z",
                            "location": {
                                "nrLocation": {
                                    "tai": {"tac": "000002"},
                                    "ncgi": {"nrCellId": "000000002"},
                                }
                            },
                        },
                    ],
                }
            ],
        }
    ],
}

# FIXTURES.md A.4 (reference tests/test_receiver.py:279-294)
COMM_NOTIF = {
    "notifId": "test-notif-001",
    "eventNotifs": [
        {
            "event": "UE_COMM",
            "ueCommInfos": [
                {
                    "supi": "imsi-001011234567890",
                    "comms": [
                        {
                            "startTime": "2026-04-20T10:00:00Z",
                            "endTime": "2026-04-20T10:15:00Z",
                            "ulVol": 1048576,
                            "dlVol": 52428800,
                        }
                    ],
                }
            ],
        }
    ],
}

FALLBACK = 1700000000


def _normalize(spark, payloads, subs=None):
    notif_df = spark.createDataFrame(payloads, NOTIFICATION)
    subs_df = spark.createDataFrame(subs if subs is not None else [SUB], SUBSCRIPTION)
    return normalize_notifications(notif_df, subs_df, fallback_ts=F.lit(FALLBACK))


def test_perf_data_golden(spark):
    """Golden PERF_DATA record (reference tests/test_receiver.py:226-237)."""
    rows = _normalize(spark, [PERF_NOTIF]).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["ts_unix"] == 1776680100  # golden epoch (test_receiver.py:86-87)
    assert r["event"] == "PERF_DATA"
    assert r["snssai_sst"] == 1
    assert r["snssai_sd"] == "000001"
    assert r["dnn"] == "internet"
    assert r["ueIpv4Addr"] == "10.0.1.10"
    assert r["ueIpv6Addr"] is None
    assert r["appId"] == "app-test"
    assert r["thrputUl_mbps"] == pytest.approx(11.74)
    assert r["thrputDl_mbps"] == pytest.approx(87.57)
    assert r["pdb_ms"] == 18
    assert r["plr_per_thousand"] == 17
    # absent source fields stay null (sparse columns, receiver.py:106-125)
    assert r["maxThrputUl_mbps"] is None
    assert r["pdbDl_ms"] is None


def test_ue_mobility_golden(spark):
    """Golden UE_MOBILITY record (reference tests/test_receiver.py:270-276):
    event-time = FIRST trajectory point, trajectory structs preserved."""
    rows = _normalize(spark, [MOBILITY_NOTIF]).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["ts_unix"] == 1776680090
    assert r["event"] == "UE_MOBILITY"
    assert r["supi"] == "imsi-001011234567890"
    traj = [t.asDict() for t in r["trajectory"]]
    assert traj == [
        {"ts": 1776680090, "tac": "000001", "nrCellId": "000000001"},
        {"ts": 1776680100, "tac": "000002", "nrCellId": "000000002"},
    ]


def test_ue_comm_golden(spark):
    """Golden UE_COMM record (reference tests/test_receiver.py:299-304):
    event-time = first comm's endTime, volumes preserved."""
    rows = _normalize(spark, [COMM_NOTIF]).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["ts_unix"] == 1776680100
    assert r["event"] == "UE_COMM"
    comms = [c.asDict() for c in r["comms"]]
    assert comms == [
        {
            "startTime": 1776679200,  # 2026-04-20T10:00:00Z
            "endTime": 1776680100,
            "ulVol": 1048576,
            "dlVol": 52428800,
        }
    ]


# the normalized record schema (column names, types, order, nullability)
RECORD_SCHEMA_DDL = (
    "notifId STRING, ts_unix BIGINT NOT NULL, event STRING NOT NULL, "
    "snssai_sst INT, snssai_sd STRING, dnn STRING, "
    "ueIpv4Addr STRING, ueIpv6Addr STRING, appId STRING, "
    "supi STRING, gpsi STRING, interGroupId STRING, "
    "thrputUl_mbps DOUBLE, thrputDl_mbps DOUBLE, maxThrputUl_mbps DOUBLE, "
    "minThrputUl_mbps DOUBLE, maxThrputDl_mbps DOUBLE, minThrputDl_mbps DOUBLE, "
    "pdb_ms BIGINT, pdbDl_ms BIGINT, maxPdbUl_ms BIGINT, maxPdbDl_ms BIGINT, "
    "plr_per_thousand BIGINT, plrDl_per_thousand BIGINT, "
    "maxPlrUl_per_thousand BIGINT, maxPlrDl_per_thousand BIGINT, "
    "trajectory ARRAY<STRUCT<ts: BIGINT, tac: STRING, nrCellId: STRING>>, "
    "comms ARRAY<STRUCT<startTime: BIGINT, endTime: BIGINT, ulVol: BIGINT, dlVol: BIGINT>>"
)


def test_multi_event_batch(spark):
    """One notification with several eventNotifs -> several records (the
    reference packs them into one Kafka message, test_receiver.py:365-395).
    Each eventNotif yields only the records of its own event family
    (receiver.py:377-387): mixed in with an unsupported event, mismatched
    and extra info arrays, null and empty arrays, the three families give
    exactly the rows of their single-family goldens, in the pinned record
    schema."""
    perf_en = PERF_NOTIF["eventNotifs"][0]
    mob_en = MOBILITY_NOTIF["eventNotifs"][0]
    comm_en = COMM_NOTIF["eventNotifs"][0]
    combined = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            perf_en,
            # a UE_MOBILITY eventNotif that also carries perf infos: only
            # its mobility records come out
            dict(mob_en, perfDataInfos=perf_en["perfDataInfos"]),
            comm_en,
            {"event": "DISPERSION", "perfDataInfos": perf_en["perfDataInfos"]},
            # PERF_DATA carrying only mobility infos: no record
            {"event": "PERF_DATA", "ueMobilityInfos": mob_en["ueMobilityInfos"]},
            {"event": "UE_COMM", "ueCommInfos": None},
            {"event": "PERF_DATA", "perfDataInfos": []},
            {"event": "UE_MOBILITY", "ueMobilityInfos": []},
            {"event": None, "ueCommInfos": comm_en["ueCommInfos"]},
            None,
        ],
    }
    got = _normalize(spark, [combined])
    rows = got.collect()
    assert sorted(r["event"] for r in rows) == ["PERF_DATA", "UE_COMM", "UE_MOBILITY"]
    want = [
        row
        for payload in (PERF_NOTIF, MOBILITY_NOTIF, COMM_NOTIF)
        for row in _normalize(spark, [payload]).collect()
    ]
    assert sorted(rows, key=repr) == sorted(want, key=repr)
    expected = spark.createDataFrame([], RECORD_SCHEMA_DDL).schema
    assert got.schema.json() == expected.json()
    # the default (current-time) fallback keeps the same schema
    notif_df = spark.createDataFrame([combined], NOTIFICATION)
    subs_df = spark.createDataFrame([SUB], SUBSCRIPTION)
    assert normalize_notifications(notif_df, subs_df).schema.json() == expected.json()


def test_unknown_notif_id_dropped(spark):
    """Unknown subscription key -> record dropped (the 403 path,
    receiver.py:363-365)."""
    bad = dict(PERF_NOTIF, notifId="nope")
    assert _normalize(spark, [bad]).count() == 0


def test_missing_notif_id_dropped(spark):
    """Missing notifId -> rejected (the 400 path, receiver.py:358-361)."""
    bad = dict(PERF_NOTIF, notifId=None)
    assert _normalize(spark, [bad]).count() == 0


def test_unsupported_event_skipped(spark):
    """Unsupported event type (DISPERSION) skipped (receiver.py:380-382;
    test_receiver.py:334-345)."""
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [{"event": "DISPERSION", "timeStamp": "2026-04-20T10:15:00Z"}],
    }
    assert _normalize(spark, [notif]).count() == 0


def test_tagless_record_dropped(spark):
    """No UE identifier AND no context tags -> dropped (receiver.py:100-101;
    test_receiver.py:306-332).  Context tags come from the subscription; a
    subscription with null sst/sd/dnn plus an info without identifiers
    yields an all-null tag set."""
    sub = dict(SUB, snssai=None, dnn=None)
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "PERF_DATA",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfDataInfos": [{"perfData": {"thrputUl": "1.0 Mbps"}}],
            }
        ],
    }
    assert _normalize(spark, [notif], subs=[sub]).count() == 0


def test_context_tags_only_record_kept(spark):
    """PERF_DATA with no ueIpAddr still produced with context tags only
    (test_receiver.py:453-472)."""
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "PERF_DATA",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfDataInfos": [{"perfData": {"thrputUl": "5.00 Mbps"}}],
            }
        ],
    }
    rows = _normalize(spark, [notif]).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["dnn"] == "internet" and r["ueIpv4Addr"] is None
    assert r["thrputUl_mbps"] == pytest.approx(5.0)


def test_empty_trajectory_passthrough(spark):
    """Empty ueTrajs -> record still produced with trajectory: [] and
    fallback timestamp (test_receiver.py:434-451)."""
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "UE_MOBILITY",
                "ueMobilityInfos": [{"supi": "imsi-x", "ueTrajs": []}],
            }
        ],
    }
    rows = _normalize(spark, [notif]).collect()
    assert len(rows) == 1
    assert rows[0]["trajectory"] == []
    assert rows[0]["ts_unix"] == FALLBACK


def test_ipv6_fallback_when_no_ipv4(spark):
    """Tag precedence: ipv6 only used when ipv4 absent (receiver.py:92-96)."""
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "PERF_DATA",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfDataInfos": [
                    {"ueIpAddr": {"ipv6Addr": "2001:db8::1"}, "perfData": {}}
                ],
            }
        ],
    }
    r = _normalize(spark, [notif]).collect()[0]
    assert r["ueIpv4Addr"] is None and r["ueIpv6Addr"] == "2001:db8::1"


def test_perf_data_supi_is_not_an_identity_tag(spark):
    """_normalize_perf_data tags ONLY ueIp/appId (receiver.py:89-98): a
    PERF_DATA info carrying only supi under a tagless subscription has no
    identity and is dropped - and supi must never surface as a PERF_DATA
    tag column."""
    sub = dict(SUB, snssai=None, dnn=None)
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "PERF_DATA",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfDataInfos": [
                    {"supi": "imsi-1", "gpsi": "msisdn-1", "interGroupId": "g1",
                     "perfData": {"thrputUl": "1.0 Mbps"}}
                ],
            }
        ],
    }
    assert _normalize(spark, [notif], subs=[sub]).count() == 0
    # with context tags the record survives, but supi/gpsi/interGroupId stay null
    r = _normalize(spark, [notif]).collect()[0]
    assert r["supi"] is None and r["gpsi"] is None and r["interGroupId"] is None


def test_mobility_intergroup_is_not_an_identity_tag(spark):
    """_normalize_ue_mobility tags only supi/gpsi (receiver.py:138-143):
    interGroupId alone does not keep a UE_MOBILITY record alive."""
    sub = dict(SUB, snssai=None, dnn=None)
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "UE_MOBILITY",
                "ueMobilityInfos": [{"interGroupId": "group-9", "ueTrajs": []}],
            }
        ],
    }
    assert _normalize(spark, [notif], subs=[sub]).count() == 0
    # but it IS an identity tag for UE_COMM (receiver.py:168-176)
    comm = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {"event": "UE_COMM", "ueCommInfos": [{"interGroupId": "group-9", "comms": []}]}
        ],
    }
    rows = _normalize(spark, [comm], subs=[sub]).collect()
    assert len(rows) == 1 and rows[0]["interGroupId"] == "group-9"


def test_empty_string_tags_are_absent(spark):
    """The reference guards every tag insert with truthiness
    (receiver.py:92-98): an empty-string ipv4Addr must fall through to the
    ipv6 tag, and empty-string identifiers keep no record alive."""
    notif = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "PERF_DATA",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfDataInfos": [
                    {"ueIpAddr": {"ipv4Addr": "", "ipv6Addr": "2001:db8::7"},
                     "appId": "", "perfData": {}}
                ],
            }
        ],
    }
    r = _normalize(spark, [notif]).collect()[0]
    assert r["ueIpv4Addr"] is None and r["ueIpv6Addr"] == "2001:db8::7"
    assert r["appId"] is None
    # all-empty identifiers + tagless subscription -> dropped
    sub = dict(SUB, snssai=None, dnn=None)
    empty = {
        "notifId": "test-notif-001",
        "eventNotifs": [
            {
                "event": "PERF_DATA",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfDataInfos": [
                    {"ueIpAddr": {"ipv4Addr": "", "ipv6Addr": ""}, "appId": "",
                     "perfData": {"thrputUl": "1.0 Mbps"}}
                ],
            }
        ],
    }
    assert _normalize(spark, [empty], subs=[sub]).count() == 0


def test_bitrate_unit_table(spark):
    """All five units + invalid shapes (reference tests/test_receiver.py:
    61-81; unit table receiver.py:66-67)."""
    cases = [
        ("500 bps", 0.0005),
        ("500 Kbps", 0.5),
        ("11.74 Mbps", 11.74),
        ("2 Gbps", 2000.0),
        ("0.5 Tbps", 500000.0),
        ("garbage", None),
        ("12 Zbps", None),
        (None, None),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "s string")
    got = [r["m"] for r in df.select(parse_bitrate_mbps(F.col("s")).alias("m")).collect()]
    for (s, want), g in zip(cases, got):
        if want is None:
            assert g is None, f"{s!r} -> {g}"
        else:
            assert g == pytest.approx(want), f"{s!r} -> {g}"


def test_iso8601_parse_goldens(spark):
    """Golden epoch + offset handling + null-on-failure (reference
    tests/test_receiver.py:84-102)."""
    cases = [
        ("2026-04-20T10:15:00Z", 1776680100),
        ("2026-04-20T12:15:00+02:00", 1776680100),
        ("not-a-date", None),
        (None, None),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "s string")
    got = [
        r["u"] for r in df.select(parse_iso8601_unix_seconds(F.col("s")).alias("u")).collect()
    ]
    assert got == [c[1] for c in cases]


def test_upsert_last_wins(spark):
    """Registry INSERT OR REPLACE semantics (registry.py:76-88;
    tests/test_registry.py:34-40): re-adding the same notif_id replaces."""
    from pyspark.sql import Window as W

    subs = [
        dict(SUB, dnn="old", created_at=1),
        dict(SUB, dnn="new", created_at=2),
    ]
    df = spark.createDataFrame(subs, SUBSCRIPTION)
    w = W.partitionBy("notif_id").orderBy(F.desc("created_at"))
    latest = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    rows = latest.collect()
    assert len(rows) == 1 and rows[0]["dnn"] == "new"
