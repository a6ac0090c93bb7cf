"""NEF load generator and the independent expected-record model.

Two roles, one file:

- Pure functions (imported by the harness and the tests): the seeded
  notification schedule of a workload, and `expected()`, a plain-Python
  model of what the NEF pipeline must make of one POST body - status
  code, normalized records, dropped infos.  The model is written from the
  reference rules (FIXTURES.md A.2-A.5), not from the Spark code.
- A load-generator process (`python3 perfbench/loadgen.py ...`): one
  thread, open loop.  It holds one WebSocket subscriber per subscription,
  POSTs each notification at its due time, timestamps every record frame
  as it arrives, and prints one JSON result line.  It takes the workload
  seed and rebuilds the schedule itself, so the system under test only
  ever sees the generated bodies on the wire.
"""

from __future__ import annotations

import argparse
import base64
import http.client
import json
import math
import os
import random
import selectors
import socket
import struct
import sys
import time
from datetime import datetime, timedelta, timezone

# --- subscriptions ---------------------------------------------------------

# One subscription carries slice/DNN context tags, the other none, so a
# record without UE tags is kept on the first and dropped on the second.
SUBSCRIPTIONS = (
    {
        "notif_id": "nwdaf-ctx",
        "snssai": {"sst": 1, "sd": "000001"},
        "dnn": "internet",
        "events": ["PERF_DATA", "UE_MOBILITY", "UE_COMM"],
        "nef_sub_id": None,
        "nef_url": "http://nef.example/nnef-eventexposure/v1/subscriptions",
        "created_at": 1776680000,
    },
    {
        "notif_id": "nwdaf-bare",
        "snssai": None,
        "dnn": None,
        "events": ["PERF_DATA", "UE_MOBILITY", "UE_COMM"],
        "nef_sub_id": None,
        "nef_url": "http://nef.example/nnef-eventexposure/v1/subscriptions",
        "created_at": 1776680000,
    },
)

TAG_FIELDS = (
    "snssai_sst", "snssai_sd", "dnn", "ueIpv4Addr", "ueIpv6Addr",
    "appId", "supi", "gpsi", "interGroupId",
)
BITRATE_UNITS = {"bps": 1e-6, "Kbps": 1e-3, "Mbps": 1.0, "Gbps": 1e3, "Tbps": 1e6}
FAMILIES = ("PERF_DATA", "UE_MOBILITY", "UE_COMM")
INFO_ARRAY = {
    "PERF_DATA": "perfDataInfos",
    "UE_MOBILITY": "ueMobilityInfos",
    "UE_COMM": "ueCommInfos",
}

# --- push_paced shape ------------------------------------------------------

PACED_INTERVAL_S = 4.0  # one notification every 4 s: about half the capacity
PACED_INVALID_SHARE = 0.4  # chance of a 400/403 body between two notifications
PACED_DROP_SHARE = 0.3  # chance a notification also carries a dropped info
DRAIN_S = 20.0  # how long records may take after the last due time

_BASE_TS = 1776680100  # 2026-04-20T10:15:00Z, the reference's golden epoch


# --- the expected-record model ---------------------------------------------


def parse_ts(s) -> int | None:
    """ISO-8601 with Z or +HH:MM -> epoch seconds (receiver.py:78-84)."""
    if not s:
        return None
    try:
        return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp())
    except ValueError:
        return None


def parse_bitrate_mbps(s) -> float | None:
    """'48.57 Mbps' -> 48.57, rounded half-up at 6 dp (receiver.py:66-75)."""
    if not isinstance(s, str):
        return None
    parts = s.split()
    if len(parts) != 2 or parts[1] not in BITRATE_UNITS:
        return None
    try:
        x = float(parts[0]) * BITRATE_UNITS[parts[1]]
    except ValueError:
        return None
    return math.floor(x * 1e6 + 0.5) / 1e6


def _truthy(v):
    return v if v else None


def expected(payload: dict, subscriptions=SUBSCRIPTIONS) -> dict:
    """What the pipeline must do with one POST body.

    Returns {"status", "infos", "dropped", "records"}: the HTTP status, the
    number of infos the body carries, how many of them produce no record,
    and one dict per record with its event, notifId, event time, every
    identity tag (None when absent) and, for PERF_DATA, thrputUl_mbps."""
    notif_id = payload.get("notifId")
    if not notif_id:
        return {"status": 400, "infos": 0, "dropped": 0, "records": []}
    sub = next((s for s in subscriptions if s["notif_id"] == notif_id), None)
    if sub is None:
        return {"status": 403, "infos": 0, "dropped": 0, "records": []}
    snssai = sub.get("snssai") or {}
    ctx = {
        "snssai_sst": snssai.get("sst"),
        "snssai_sd": _truthy(snssai.get("sd")),
        "dnn": _truthy(sub.get("dnn")),
    }
    records, infos, dropped = [], 0, 0
    for en in payload.get("eventNotifs") or []:
        event = en.get("event")
        for arr in INFO_ARRAY.values():
            n = len(en.get(arr) or [])
            infos += n
            if event not in INFO_ARRAY or arr != INFO_ARRAY[event]:
                dropped += n  # unsupported event / foreign array: skipped
        if event not in INFO_ARRAY:
            continue
        for info in en.get(INFO_ARRAY[event]) or []:
            tags = dict.fromkeys(TAG_FIELDS)
            tags.update(ctx)
            metric = None
            if event == "PERF_DATA":
                ip = info.get("ueIpAddr") or {}
                if ip.get("ipv4Addr"):
                    tags["ueIpv4Addr"] = ip["ipv4Addr"]
                elif ip.get("ipv6Addr"):
                    tags["ueIpv6Addr"] = ip["ipv6Addr"]
                tags["appId"] = _truthy(info.get("appId"))
                ts = parse_ts(info.get("timeStamp"))
                metric = parse_bitrate_mbps((info.get("perfData") or {}).get("thrputUl"))
            elif event == "UE_MOBILITY":
                tags["supi"] = _truthy(info.get("supi"))
                tags["gpsi"] = _truthy(info.get("gpsi"))
                trajs = info.get("ueTrajs") or []
                ts = parse_ts(trajs[0].get("ts")) if trajs else None
            else:
                for k in ("supi", "gpsi", "interGroupId"):
                    tags[k] = _truthy(info.get(k))
                comms = info.get("comms") or []
                ts = parse_ts(comms[0].get("endTime")) if comms else None
            if all(v is None for v in tags.values()):
                dropped += 1  # no identity tag at all (receiver.py:100-101)
                continue
            records.append(
                {"event": event, "notifId": notif_id, "ts_unix": ts,
                 "thrputUl_mbps": metric, **tags}
            )
    return {"status": 204, "infos": infos, "dropped": dropped, "records": records}


def record_key(rec: dict) -> tuple:
    """Identity of one record: every generated info carries a unique tag."""
    return (rec.get("notifId"), rec.get("event")) + tuple(rec.get(t) for t in TAG_FIELDS)


def record_matches(got: dict, want: dict) -> bool:
    """A received record (Spark JSON, nulls omitted) against the model."""
    if want["event"] == "PERF_DATA" and got.get("thrputUl_mbps") != want["thrputUl_mbps"]:
        return False
    return record_key(got) == record_key(want) and got.get("ts_unix") == want["ts_unix"]


# --- payload generation ----------------------------------------------------


def _iso(epoch: int, rng: random.Random) -> str:
    """Epoch seconds as ISO-8601, with a Z or a +02:00 offset."""
    if rng.random() < 0.5:
        return datetime.fromtimestamp(epoch, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    tz = timezone(timedelta(hours=2))
    return datetime.fromtimestamp(epoch, tz).isoformat()


def _info(family: str, uid: str, rng: random.Random, tagged: bool = True) -> dict:
    """One info of `family`; `uid` lands in a UE tag unless `tagged` is off."""
    t = _BASE_TS + rng.randrange(0, 86400)
    if family == "PERF_DATA":
        unit = rng.choice(("bps", "Kbps", "Mbps", "Gbps"))
        info = {
            "timeStamp": _iso(t, rng),
            "perfData": {
                "thrputUl": f"{rng.uniform(0.5, 999.0):.2f} {unit}",
                "thrputDl": f"{rng.uniform(0.5, 999.0):.2f} Mbps",
                "pdb": rng.randrange(1, 300),
                "plr": rng.randrange(0, 1000),
            },
        }
        if tagged:
            info["appId"] = f"app-{uid}"
            r = rng.random()
            if r < 0.4:
                octets = (rng.randrange(256), rng.randrange(256), rng.randrange(1, 255))
                info["ueIpAddr"] = {"ipv4Addr": "10.%d.%d.%d" % octets}
            elif r < 0.6:  # an empty ipv4 yields to the ipv6 tag
                info["ueIpAddr"] = {"ipv4Addr": "",
                                    "ipv6Addr": f"2001:db8::{rng.randrange(1, 65535):x}"}
        return info
    if family == "UE_MOBILITY":
        trajs = [
            {"ts": _iso(t + 10 * j, rng),
             "location": {"nrLocation": {"tai": {"tac": f"{rng.randrange(1, 99):06d}"},
                                         "ncgi": {"nrCellId": f"{rng.randrange(1, 999):09d}"}}}}
            for j in range(rng.randrange(1, 4))
        ]
        info = {"ueTrajs": trajs}
        if tagged:
            info["supi"] = f"imsi-{uid}"
            if rng.random() < 0.5:
                info["gpsi"] = f"msisdn-{uid}"
        return info
    comms = [
        {"startTime": _iso(t - 900 + 60 * j, rng), "endTime": _iso(t + 60 * j, rng),
         "ulVol": rng.randrange(1, 1 << 24), "dlVol": rng.randrange(1, 1 << 28)}
        for j in range(rng.randrange(1, 3))
    ]
    info = {"comms": comms}
    if tagged:
        info[rng.choice(("supi", "gpsi", "interGroupId"))] = f"ue-{uid}"
    else:
        info["supi"] = ""  # present but empty: absent by the truthiness rule
    return info


def _notification(i: int, seed: int, rng: random.Random) -> dict:
    """A small valid notification (1-3 infos) that yields >= 1 record, and
    with PACED_DROP_SHARE odds one extra info the pipeline must drop."""
    notif_id = rng.choice(SUBSCRIPTIONS)["notif_id"]
    by_family: dict[str, list] = {}
    for k in range(rng.randrange(1, 4)):
        fam = rng.choice(FAMILIES)
        by_family.setdefault(fam, []).append(_info(fam, f"{seed}-{i}-{k}", rng))
    ens = [
        {"event": fam, "timeStamp": _iso(_BASE_TS, rng), INFO_ARRAY[fam]: infos}
        for fam, infos in by_family.items()
    ]
    if rng.random() < PACED_DROP_SHARE:
        if notif_id == "nwdaf-bare" and rng.random() < 0.7:
            fam = rng.choice(FAMILIES)  # tagless on a context-free subscription
            ens.append({"event": fam, INFO_ARRAY[fam]: [_info(fam, "x", rng, tagged=False)]})
        else:  # an event family the pipeline does not support
            ens.append({"event": "DISPERSION",
                        "perfDataInfos": [_info("PERF_DATA", f"{seed}-{i}-d", rng)]})
    rng.shuffle(ens)
    return {"notifId": notif_id, "eventNotifs": ens}


def _invalid(i: int, rng: random.Random) -> dict:
    """A body the shim must refuse: missing/empty notifId (400) or unknown
    notifId (403)."""
    body = {"eventNotifs": [{"event": "PERF_DATA",
                             "perfDataInfos": [_info("PERF_DATA", f"bad-{i}", rng)]}]}
    r = rng.random()
    if r < 0.5:
        body["notifId"] = f"nwdaf-unknown-{rng.randrange(100)}"
    elif r < 0.75:
        body["notifId"] = ""
    return body


def push_paced(seed: int, seconds: float) -> list[dict]:
    """Open-loop schedule: a valid notification every PACED_INTERVAL_S from
    t=0 while t < seconds, and with PACED_INVALID_SHARE odds an invalid body
    half-way between two.  Returns [{"due", "body"}] sorted by due time;
    `body` is the exact bytes that go on the wire."""
    rng = random.Random(seed)
    sends = []
    n = max(2, math.ceil(seconds / PACED_INTERVAL_S))
    for i in range(n):
        due = i * PACED_INTERVAL_S
        sends.append({"due": due, "body": _notification(i, seed, rng)})
        if rng.random() < PACED_INVALID_SHARE:
            sends.append({"due": due + PACED_INTERVAL_S / 2, "body": _invalid(i, rng)})
    for s in sends:
        s["body"] = json.dumps(s["body"], separators=(",", ":")).encode()
    return sends


# --- the generator process -------------------------------------------------


class WsSubscriber:
    """Client side of one /ws/ingestion/{notif_id} socket (RFC 6455)."""

    def __init__(self, host: str, port: int, notif_id: str, timeout: float = 10.0):
        self.notif_id = notif_id
        self.sock = socket.create_connection((host, port), timeout=timeout)
        key = base64.b64encode(notif_id.encode().ljust(16, b"k")[:16]).decode()
        self.sock.sendall(
            (f"GET /ws/ingestion/{notif_id} HTTP/1.1\r\nHost: {host}:{port}\r\n"
             "Upgrade: websocket\r\nConnection: Upgrade\r\n"
             f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n").encode()
        )
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("websocket handshake closed")
            buf += chunk
        head, _, self.buf = buf.partition(b"\r\n\r\n")
        if not head.startswith(b"HTTP/1.1 101"):
            raise ConnectionError(f"websocket handshake refused: {head[:60]!r}")
        self.sock.setblocking(False)

    def read_frames(self) -> list[bytes]:
        """Drain the socket and return every complete text-frame payload."""
        try:
            while True:
                chunk = self.sock.recv(1 << 16)
                if not chunk:
                    break
                self.buf += chunk
        except BlockingIOError:
            pass
        out = []
        while len(self.buf) >= 2:
            n = self.buf[1] & 0x7F
            off = 2
            if n == 126:
                if len(self.buf) < 4:
                    break
                n, off = struct.unpack("!H", self.buf[2:4])[0], 4
            elif n == 127:
                if len(self.buf) < 10:
                    break
                n, off = struct.unpack("!Q", self.buf[2:10])[0], 10
            if len(self.buf) < off + n:
                break
            if self.buf[0] & 0x0F == 0x1:
                out.append(self.buf[off:off + n])
            self.buf = self.buf[off + n:]
        return out

    def close(self) -> None:
        try:
            self.sock.setblocking(True)
            self.sock.sendall(struct.pack("!BB", 0x88, 0x80) + b"\0\0\0\0")
        except OSError:
            pass
        self.sock.close()


def _post(host: str, port: int, body: bytes) -> tuple[int, float]:
    conn = http.client.HTTPConnection(host, port, timeout=30)
    try:
        t0 = time.monotonic()
        conn.request("POST", "/nef/notify", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status, (time.monotonic() - t0) * 1000.0
    finally:
        conn.close()


def run_generator(seed: int, seconds: float, shim: tuple[str, int],
                  ws: tuple[str, int]) -> dict:
    """Drive the schedule against a running pipeline (see module doc)."""
    sends = push_paced(seed, seconds)
    want = {record_key(rec) for s in sends
            for rec in expected(json.loads(s["body"]))["records"]}
    # one thread; the WS subscribers plus one HTTP connection at a time;
    # threads and connections together stay within the host's cores
    conns = len(SUBSCRIPTIONS) + 1
    if 1 + conns > len(os.sched_getaffinity(0)):
        raise SystemExit(f"1 thread + {conns} connections exceed the core count")
    subs = [WsSubscriber(ws[0], ws[1], s["notif_id"]) for s in SUBSCRIPTIONS]
    sel = selectors.DefaultSelector()
    for sub in subs:
        sel.register(sub.sock, selectors.EVENT_READ, sub)
    print("READY", flush=True)
    if sys.stdin.readline().strip() != "GO":
        raise SystemExit("harness did not say GO")
    t0 = time.monotonic()
    frames, posts, seen = [], [], set()

    def pump(until: float) -> None:
        """Read frames until `until`, or until everything has arrived."""
        while not (len(posts) == len(sends) and seen >= want):
            left = until - time.monotonic()
            if left <= 0:
                return
            for k, _ in sel.select(timeout=left):
                now = time.monotonic() - t0
                for payload in k.data.read_frames():
                    msg = json.loads(payload)
                    frames.append({"t": now, "data": msg.get("data")})
                    seen.add(record_key(msg.get("data") or {}))

    try:
        for s in sends:
            pump(t0 + s["due"])
            late_ms = (time.monotonic() - t0 - s["due"]) * 1000.0
            status, post_ms = _post(shim[0], shim[1], s["body"])
            posts.append({"due": s["due"], "late_ms": late_ms,
                          "status": status, "post_ms": post_ms})
        pump(t0 + sends[-1]["due"] + DRAIN_S)
    finally:
        for sub in subs:
            sub.close()
        sel.close()
    return {"posts": posts, "frames": frames}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--shim", required=True, help="host:port of POST /nef/notify")
    ap.add_argument("--ws", required=True, help="host:port of the WS egress")
    a = ap.parse_args(argv)
    hp = lambda s: (s.rsplit(":", 1)[0], int(s.rsplit(":", 1)[1]))  # noqa: E731
    out = run_generator(a.seed, a.seconds, hp(a.shim), hp(a.ws))
    print(json.dumps(out, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
