"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import loadgen  # noqa: E402
import run as bench  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

FIXTURE_SUB = {  # FIXTURES.md A.1
    "notif_id": "test-notif-001", "snssai": {"sst": 1, "sd": "000001"},
    "dnn": "internet", "events": ["PERF_DATA", "UE_MOBILITY"],
    "nef_sub_id": "nef-sub-abc", "nef_url": "http://nef:8090/x", "created_at": 1000000,
}
CTX = {"snssai_sst": 1, "snssai_sd": "000001", "dnn": "internet"}


def _model(payload):
    return loadgen.expected(payload, subscriptions=(FIXTURE_SUB,))


def _tags(**kw):
    out = dict.fromkeys(loadgen.TAG_FIELDS)
    out.update(CTX)
    out.update(kw)
    return out


# --- determinism ------------------------------------------------------------


def test_same_seed_same_bytes_and_model():
    a, b = loadgen.push_paced(7, 30), loadgen.push_paced(7, 30)
    assert [(s["due"], s["body"]) for s in a] == [(s["due"], s["body"]) for s in b]
    assert [loadgen.expected(json.loads(s["body"])) for s in a] == \
        [loadgen.expected(json.loads(s["body"])) for s in b]
    assert [s["body"] for s in loadgen.push_paced(8, 30)] != [s["body"] for s in a]


def test_schedule_shape():
    sends = loadgen.push_paced(3, 30)
    models = [loadgen.expected(json.loads(s["body"])) for s in sends]
    assert models[0]["status"] == 204  # the first notification is the cold one
    valid = [m for m in models if m["status"] == 204]
    assert len(valid) == math.ceil(30 / loadgen.PACED_INTERVAL_S)
    assert all(m["records"] for m in valid)
    keys = [loadgen.record_key(r) for m in valid for r in m["records"]]
    assert len(keys) == len(set(keys))  # every record is identifiable
    dues = [s["due"] for s in sends]
    assert dues == sorted(dues)


# --- the model against the golden fixtures ----------------------------------


def test_model_perf_data_fixture():  # FIXTURES.md A.2
    m = _model({"notifId": "test-notif-001", "eventNotifs": [{
        "event": "PERF_DATA", "timeStamp": "2026-04-20T10:15:00Z",
        "perfDataInfos": [{"ueIpAddr": {"ipv4Addr": "10.0.1.10"}, "appId": "app-test",
                           "timeStamp": "2026-04-20T10:15:00Z",
                           "perfData": {"thrputUl": "11.74 Mbps", "thrputDl": "87.57 Mbps",
                                        "pdb": 18, "plr": 17}}]}]})
    assert m["status"] == 204 and m["dropped"] == 0
    assert m["records"] == [{"event": "PERF_DATA", "notifId": "test-notif-001",
                             "ts_unix": 1776680100, "thrputUl_mbps": 11.74,
                             **_tags(ueIpv4Addr="10.0.1.10", appId="app-test")}]


def test_model_ue_mobility_fixture():  # FIXTURES.md A.3
    def loc(tac, cell):
        return {"nrLocation": {"tai": {"tac": tac}, "ncgi": {"nrCellId": cell}}}

    m = _model({"notifId": "test-notif-001", "eventNotifs": [{
        "event": "UE_MOBILITY", "timeStamp": "2026-04-20T10:15:00Z",
        "ueMobilityInfos": [{"supi": "imsi-001011234567890", "ueTrajs": [
            {"ts": "2026-04-20T10:14:50Z", "location": loc("000001", "000000001")},
            {"ts": "2026-04-20T10:15:00Z", "location": loc("000002", "000000002")}]}]}]})
    assert m["records"] == [{"event": "UE_MOBILITY", "notifId": "test-notif-001",
                             "ts_unix": 1776680090, "thrputUl_mbps": None,
                             **_tags(supi="imsi-001011234567890")}]


def test_model_ue_comm_fixture():  # FIXTURES.md A.4
    m = _model({"notifId": "test-notif-001", "eventNotifs": [{
        "event": "UE_COMM", "timeStamp": "2026-04-20T10:15:00Z",
        "ueCommInfos": [{"supi": "imsi-001011234567890", "comms": [
            {"startTime": "2026-04-20T10:00:00Z", "endTime": "2026-04-20T10:15:00Z",
             "ulVol": 1048576, "dlVol": 52428800}]}]}]})
    assert m["records"] == [{"event": "UE_COMM", "notifId": "test-notif-001",
                             "ts_unix": 1776680100, "thrputUl_mbps": None,
                             **_tags(supi="imsi-001011234567890")}]


def test_model_negative_fixtures():  # FIXTURES.md A.5
    bare = dict(FIXTURE_SUB, notif_id="bare", snssai=None, dnn=None)
    tagless = {"notifId": "bare", "eventNotifs": [
        {"event": "PERF_DATA", "perfDataInfos": [{"perfData": {"thrputUl": "1 Mbps"}}]}]}
    m = loadgen.expected(tagless, subscriptions=(bare,))
    assert (m["status"], m["records"], m["infos"], m["dropped"]) == (204, [], 1, 1)
    disp = {"notifId": "test-notif-001", "eventNotifs": [
        {"event": "DISPERSION", "perfDataInfos": [{"appId": "a"}]}]}
    m = _model(disp)
    assert (m["records"], m["dropped"]) == ([], 1)
    assert _model({"eventNotifs": []})["status"] == 400
    assert _model({"notifId": "", "eventNotifs": []})["status"] == 400
    assert _model({"notifId": "nope", "eventNotifs": []})["status"] == 403


def test_bitrate_units():
    assert loadgen.parse_bitrate_mbps("48.57 Mbps") == 48.57
    assert loadgen.parse_bitrate_mbps("1.5 Gbps") == 1500.0
    assert loadgen.parse_bitrate_mbps("123.45 bps") == 0.000123
    assert loadgen.parse_bitrate_mbps("fast") is None


# --- statistics --------------------------------------------------------------


def test_tail_refuses_fewer_than_ten_beyond():
    with pytest.raises(ValueError):
        stats.tail(range(19), 50)  # 9 samples beyond the median
    assert stats.tail(range(20), 50) == 9
    with pytest.raises(ValueError):
        stats.tail(range(99), 90)
    assert stats.tail(range(1, 101), 90) == 90


def test_p50_of_nothing_is_zero():
    assert stats.p50([]) == 0.0
    assert stats.p50([3, 1, 2]) == 2


# --- output ------------------------------------------------------------------


def _run(trace=0):
    args = argparse.Namespace(workload="push_paced", seed=1, seconds=1.0, trace=trace)
    return bench.Run(args, "/nonexistent")


@pytest.mark.parametrize("values", [
    {}, {"setup_s": math.nan, "op_p50_s": None, "cold_s": "x", "peak_rss_mb": math.inf},
    {"setup_s": 1.5, "op_p50_s": 2, "cold_s": 3.0, "peak_rss_mb": 100.0},
])
def test_result_line_always_parses(values):
    r = _run()
    line = bench.result_line(r, bench.END_TO_END, values)
    out = json.loads(line, parse_constant=lambda c: pytest.fail(f"non-JSON {c}"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(bench.END_TO_END)
    assert out["attempted"] >= 1
    finite = all(isinstance(v, (int, float)) and math.isfinite(v) for v in values.values())
    assert out["correct"] == (finite and len(values) == len(bench.END_TO_END))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert "metrics" not in p.stdout


# --- tracing -----------------------------------------------------------------


def test_self_time_and_child_share():
    tr = Tracer(True)
    tr.spans = [  # a call of 10 s: build 3 s (catalog 1 s of it), exec 6 s
        {"id": 1, "name": "queries.call", "parent": None, "op": "q#1", "start": 0.0, "end": 10.0},
        {"id": 2, "name": "queries.build", "parent": 1, "op": "q#1", "start": 0.0, "end": 3.0},
        {"id": 3, "name": "catalog.load", "parent": 2, "op": "q#1", "start": 1.0, "end": 2.0},
        {"id": 4, "name": "queries.exec", "parent": 1, "op": "q#1", "start": 4.0, "end": 10.0},
    ]
    assert tr.self_seconds() == {"queries": 1.0 + 2.0 + 6.0, "catalog": 1.0}
    assert tr.child_share("queries.call") == [0.9]


def test_tracing_off_records_nothing():
    tr = Tracer(False)
    with tr.span("queries.call"):
        pass
    assert tr.spans == []
