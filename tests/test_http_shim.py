"""HTTP -> stream ingestion demo (SURVEY.md 2.1 source row): the golden
payloads of the reference's endpoint tests
(/root/reference/tests/test_receiver.py:203-221,306-345) POSTed over real
HTTP land in the spool directory and flow through the streaming normalizer,
with the reference's 400/403/204 status contract."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request

import pytest

from pei_nwdaf_data_ingestion_spark.pipeline.nef import SUBSCRIPTION
from pei_nwdaf_data_ingestion_spark.pipeline.subscriptions import SubscriptionStore
from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NotifyHTTPShim
from pei_nwdaf_data_ingestion_spark.streaming.ingest import (
    build_ingest_stream,
    run_to_memory,
)
from tests.test_reference_fidelity import MOBILITY_NOTIF, PERF_NOTIF, SUB


def _post(url: str, payload: dict) -> int:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def _request(
    base: str,
    path: str,
    method: str = "GET",
    payload: object = None,
    token: str | None = None,
) -> tuple[int, dict | None]:
    headers = {"Content-Type": "application/json"}
    if token is not None:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(
        base + path,
        data=None if payload is None else json.dumps(payload).encode(),
        headers=headers,
        method=method,
    )
    try:
        with urllib.request.urlopen(req) as resp:
            body = resp.read()
            return resp.status, json.loads(body) if body else None
    except urllib.error.HTTPError as e:
        body = e.read()
        return e.code, json.loads(body) if body else None


def test_http_post_status_contract_and_stream(spark, tmp_path):
    spool = str(tmp_path / "spool")
    with NotifyHTTPShim(spool, {"test-notif-001"}) as shim:
        # acceptance: golden PERF_DATA + UE_MOBILITY payloads
        assert _post(shim.url, PERF_NOTIF) == 204
        assert _post(shim.url, MOBILITY_NOTIF) == 204
        # the 400 path (receiver.py:358-361) - missing/empty notifId
        assert _post(shim.url, {"eventNotifs": []}) == 400
        assert _post(shim.url, dict(PERF_NOTIF, notifId="")) == 400
        # the 403 path (receiver.py:363-365) - unknown subscription
        assert _post(shim.url, dict(PERF_NOTIF, notifId="nope")) == 403

    # only the two accepted payloads reached the spool
    subs = spark.createDataFrame([SUB], SUBSCRIPTION)
    stream = build_ingest_stream(spark, spool, subs)
    run_to_memory(stream, "http_shim_out")
    rows = spark.table("http_shim_out").collect()
    assert sorted(r["event"] for r in rows) == ["PERF_DATA", "UE_MOBILITY"]
    perf = next(r for r in rows if r["event"] == "PERF_DATA")
    assert perf["ueIpv4Addr"] == "10.0.1.10"
    assert perf["thrputUl_mbps"] == pytest.approx(11.74)
    assert perf["ts_unix"] == 1776680100
    mob = next(r for r in rows if r["event"] == "UE_MOBILITY")
    assert mob["supi"] == "imsi-001011234567890"
    assert [t["tac"] for t in mob["trajectory"]] == ["000001", "000002"]


SUB_BODY = {
    # golden create payload, reference tests/test_receiver.py:114-120
    "notifId": "test-notif-001",
    "nefUrl": "http://nef:8090/nnef-event-exposure/v1/subscriptions",
    "events": ["PERF_DATA", "UE_MOBILITY"],
    "snssai": {"sst": 1, "sd": "000001"},
    "dnn": "internet",
}


def _spooled(spool) -> list[str]:
    return sorted(f for f in os.listdir(spool) if f.endswith(".json"))


def test_subscription_crud_endpoints(spark, tmp_path):
    """Control-plane CRUD contract (receiver.py:296-351) minus the outbound
    NEF call: 201 create (422 on missing fields), 200 list, 204/404 delete.
    /nef/notify admits exactly the store's current ids (receiver.py:363-365
    reads the registry the CRUD routes write), and a 403 spools nothing."""
    store = SubscriptionStore(spark, str(tmp_path / "subs"))
    spool = str(tmp_path / "spool")
    notif = {"notifId": "test-notif-001"}
    with NotifyHTTPShim(spool, store) as shim:
        base = shim.url.rsplit("/nef/notify", 1)[0]
        assert _post(shim.url, notif) == 403
        assert _spooled(spool) == []
        code, body = _request(base, "/nef/subscriptions", "POST", SUB_BODY)
        assert code == 201
        assert body["notifId"] == "test-notif-001"
        assert body["nefSubscriptionId"] is None  # outbound NEF omitted
        # pydantic-shaped validation: FastAPI answers 422 on missing fields
        code, _ = _request(base, "/nef/subscriptions", "POST", {"notifId": "x"})
        assert code == 422
        code, body = _request(base, "/nef/subscriptions")
        assert code == 200
        assert [s["notif_id"] for s in body["subscriptions"]] == ["test-notif-001"]
        assert body["subscriptions"][0]["events"] == ["PERF_DATA", "UE_MOBILITY"]
        assert _post(shim.url, notif) == 204
        assert len(_spooled(spool)) == 1
        # delete: 404 unknown id (receiver.py:337-339), then 204, then gone
        code, body = _request(base, "/nef/subscriptions/nope", "DELETE")
        assert (code, body["detail"]) == (404, "Subscription not found")
        code, _ = _request(base, "/nef/subscriptions/test-notif-001", "DELETE")
        assert code == 204
        code, body = _request(base, "/nef/subscriptions")
        assert body["subscriptions"] == []
        assert _post(shim.url, notif) == 403
        assert len(_spooled(spool)) == 1


def test_non_object_json_bodies_get_400(spark, tmp_path):
    """A body that parses as JSON but is not an object gets 400 "Invalid
    JSON body" on both POST routes, a notifId that is not a string is
    unknown (403), and the server keeps serving."""
    store = SubscriptionStore(spark, str(tmp_path / "subs"))
    store.add(dict(SUB))
    spool = str(tmp_path / "spool")
    with NotifyHTTPShim(spool, store) as shim:
        base = shim.url.rsplit("/nef/notify", 1)[0]
        for path in ("/nef/notify", "/nef/subscriptions"):
            for body in ([], "notifId nefUrl events", 1):
                code, detail = _request(base, path, "POST", body)
                assert (code, detail) == (400, {"detail": "Invalid JSON body"})
        assert _post(shim.url, {"notifId": [SUB["notif_id"]]}) == 403
        assert _spooled(spool) == []
        assert _post(shim.url, {"notifId": SUB["notif_id"]}) == 204


# -- outbound NEF subscribe/unsubscribe (round 8: the last documented
# omission closed) ------------------------------------------------------------


class _FakeNef:
    """Stdlib stand-in for the external 5G NEF: records every subscribe
    payload and unsubscribe path, answers 201 {"subscriptionId": ...} (or a
    configured failure mode)."""

    def __init__(self, mode: str = "ok", delay: float = 0.0):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self.posts: list[dict] = []
        self.deletes: list[str] = []
        nef = self

        class H(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                pass

            def do_POST(self):
                import time as _t

                if delay:
                    _t.sleep(delay)
                n = int(self.headers.get("Content-Length", "0"))
                nef.posts.append(json.loads(self.rfile.read(n)))
                if mode == "error":
                    self.send_response(500)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                if mode == "list_body":
                    # 2xx with a non-object JSON body (malformed NEF)
                    body = json.dumps(["nef-sub-42"]).encode()
                elif mode == "int_id":
                    body = json.dumps({"subscriptionId": 42}).encode()
                else:
                    body = json.dumps({"subscriptionId": "nef-sub-42"}).encode()
                self.send_response(201)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_DELETE(self):
                nef.deletes.append(self.path)
                self.send_response(204)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), H)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def url(self) -> str:
        h, p = self._server.server_address[:2]
        return f"http://{h}:{p}/nef/subscriptions"

    def stop(self):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)


def _shim_with_nef(spark, tmp_path, nef_client):
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NotifyHTTPShim

    store = SubscriptionStore(spark, str(tmp_path / "subs"))
    shim = NotifyHTTPShim(str(tmp_path / "spool"), store, nef_client=nef_client)
    return shim, store


def test_outbound_nef_subscribe_round_trip(spark, tmp_path):
    """Happy path (receiver.py:296-327): the shim POSTs the TS 29.591
    payload to the NEF named in nefUrl, advertises its OWN /nef/notify as
    notifUri, stores the NEF's subscriptionId, and answers 201 with it.
    The created id is then admitted at /nef/notify (receiver.py:363-365
    reads the registry the CRUD routes write)."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef()
    shim, store = _shim_with_nef(spark, tmp_path, NefClient())
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            assert _post(shim.url, {"notifId": "n1"}) == 403
            code, body = _request(
                base,
                "/nef/subscriptions",
                "POST",
                {"notifId": "n1", "nefUrl": nef.url, "events": ["LOAD_LEVEL"]},
            )
            assert code == 201 and body["nefSubscriptionId"] == "nef-sub-42"
            assert store.get("n1")["nef_sub_id"] == "nef-sub-42"
            assert len(nef.posts) == 1
            assert nef.posts[0]["notifId"] == "n1"
            assert nef.posts[0]["eventsSubs"] == [{"event": "LOAD_LEVEL"}]
            assert nef.posts[0]["notifUri"].endswith("/nef/notify")
            assert _post(shim.url, {"notifId": "n1"}) == 204
    finally:
        nef.stop()


def test_outbound_nef_connect_failure_maps_502(spark, tmp_path):
    """Unreachable NEF -> 502 "Cannot connect to NEF" (receiver.py:313-314)
    and NOTHING is stored."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    shim, store = _shim_with_nef(spark, tmp_path, NefClient(timeout=2))
    with shim:
        base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
        code, body = _request(
            base,
            "/nef/subscriptions",
            "POST",
            # closed port on localhost: immediate connection refusal
            {"notifId": "n1", "nefUrl": "http://127.0.0.1:9/x", "events": ["E"]},
        )
    assert code == 502 and body["detail"] == "Cannot connect to NEF"
    assert store.get("n1") is None


def test_outbound_nef_timeout_maps_504(spark, tmp_path):
    """NEF accepting but not answering inside the client timeout -> 504
    "NEF did not respond" (receiver.py:311-312)."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef(delay=1.5)
    shim, store = _shim_with_nef(spark, tmp_path, NefClient(timeout=0.3))
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            code, body = _request(
                base,
                "/nef/subscriptions",
                "POST",
                {"notifId": "n1", "nefUrl": nef.url, "events": ["E"]},
            )
        assert code == 504 and body["detail"] == "NEF did not respond"
        assert store.get("n1") is None
    finally:
        nef.stop()


def test_outbound_nef_upstream_error_maps_500(spark, tmp_path):
    """NEF answering 500 -> 500 "NEF subscription failed: ..."
    (receiver.py:315-316)."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef(mode="error")
    shim, store = _shim_with_nef(spark, tmp_path, NefClient())
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            code, body = _request(
                base,
                "/nef/subscriptions",
                "POST",
                {"notifId": "n1", "nefUrl": nef.url, "events": ["E"]},
            )
        assert code == 500 and body["detail"].startswith("NEF subscription failed")
        assert store.get("n1") is None
    finally:
        nef.stop()


def test_outbound_nef_malformed_body_maps_500(spark, tmp_path):
    """A 2xx NEF response whose JSON body is not an object (here: a list)
    must map to the reference's catch-all 500 "NEF subscription failed:
    ..." (receiver.py:315-316), not raise in the handler thread
    (ADVICE r8)."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef(mode="list_body")
    shim, store = _shim_with_nef(spark, tmp_path, NefClient())
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            code, body = _request(
                base,
                "/nef/subscriptions",
                "POST",
                {"notifId": "n1", "nefUrl": nef.url, "events": ["E"]},
            )
        assert code == 500 and body["detail"].startswith("NEF subscription failed")
        assert store.get("n1") is None
    finally:
        nef.stop()


def test_outbound_nef_non_string_subscription_id_maps_500(spark, tmp_path):
    """A subscriptionId that is not a string is a malformed NEF reply: the
    catch-all 500 answers (receiver.py:315-316) and nothing is stored,
    instead of the store refusing the row inside the handler thread."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef(mode="int_id")
    shim, store = _shim_with_nef(spark, tmp_path, NefClient())
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            code, body = _request(
                base,
                "/nef/subscriptions",
                "POST",
                {"notifId": "n1", "nefUrl": nef.url, "events": ["E"]},
            )
        assert code == 500 and body["detail"].startswith("NEF subscription failed")
        assert store.get("n1") is None
    finally:
        nef.stop()


def test_outbound_nef_unsubscribe_best_effort(spark, tmp_path):
    """DELETE sends the outbound unsubscribe to {nefUrl}/{subId}
    (receiver.py:341-346) and stays 204 + locally removed even when the
    NEF is gone (:347-349, warning only)."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef()
    client = NefClient()
    shim, store = _shim_with_nef(spark, tmp_path, client)
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            _request(
                base,
                "/nef/subscriptions",
                "POST",
                {"notifId": "n1", "nefUrl": nef.url, "events": ["E"]},
            )
            code, _ = _request(base, "/nef/subscriptions/n1", "DELETE")
            assert code == 204
            assert store.get("n1") is None
            assert nef.deletes and nef.deletes[0].endswith("/nef-sub-42")

            # NEF now unreachable: delete of a second sub still succeeds
            store.add(
                {
                    "notif_id": "n2",
                    "events": ["E"],
                    "nef_sub_id": "nef-sub-43",
                    "nef_url": "http://127.0.0.1:9/x",
                }
            )
            code, _ = _request(base, "/nef/subscriptions/n2", "DELETE")
            assert code == 204
            assert store.get("n2") is None
            assert client.warnings  # the reference logs a warning here
    finally:
        nef.stop()


def test_create_checks_the_row_before_the_outbound_subscribe(spark, tmp_path):
    """A notifId that is not a string, or a field that does not fit the
    store's row, answers 422 before the NEF subscribe: nothing reaches the
    NEF, nothing is stored, and the list route keeps answering.  A valid
    create then subscribes once, so the NEF's count is live."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NefClient

    nef = _FakeNef()
    shim, store = _shim_with_nef(spark, tmp_path, NefClient())
    try:
        with shim:
            base = f"http://{shim._server.server_address[0]}:{shim._server.server_address[1]}"
            ok = {"notifId": "n1", "nefUrl": nef.url, "events": ["E"]}
            for bad in (
                dict(ok, notifId=5),
                dict(ok, notifId=["n1"]),
                dict(ok, events="E"),
                dict(ok, snssai={"sst": "one"}),
                dict(ok, nefUrl=7),
            ):
                code, body = _request(base, "/nef/subscriptions", "POST", bad)
                assert code == 422, bad
                assert body["detail"].startswith("Invalid subscription"), body
            assert nef.posts == []
            assert store.list() == []
            assert _request(base, "/nef/subscriptions") == (200, {"subscriptions": []})
            code, _ = _request(base, "/nef/subscriptions", "POST", ok)
            assert code == 201 and len(nef.posts) == 1
            assert store.get("n1")["nef_sub_id"] == "nef-sub-42"
    finally:
        nef.stop()


# -- RS256/JWKS auth: the reference's verification primitive ------------------


class _FakeJwksIdp:
    """Stdlib stand-in for Keycloak's JWKS endpoint
    (/realms/{realm}/protocol/openid-connect/certs): serves a JWKS doc
    built from generated RSA keypairs and counts fetches.  Keys can be
    rotated mid-flight to exercise the JwksClient refresh path."""

    def __init__(self, kids: list[str]):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        from cryptography.hazmat.primitives.asymmetric import rsa

        from pei_nwdaf_data_ingestion_spark.streaming.http_shim import rsa_jwk

        self.keys = {
            kid: rsa.generate_private_key(public_exponent=65537, key_size=2048)
            for kid in kids
        }
        idp = self

        class H(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                pass

            def do_GET(self):
                doc = {
                    "keys": [
                        rsa_jwk(pk.public_key(), kid)
                        for kid, pk in idp.keys.items()
                    ]
                }
                body = json.dumps(doc).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), H)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def jwks_url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/realms/aion/protocol/openid-connect/certs"

    def stop(self):
        self._server.shutdown()
        self._server.server_close()


def test_rs256_auth_status_contract(spark, tmp_path):
    """The reference AuthMiddleware verbatim (auth_middleware.py:22-59):
    RS256-signed JWTs validated against a JWKS endpoint - accept on good
    sig + live exp + required role; 401 on missing/expired/tampered/
    wrong-key/unknown-kid/alg-confusion; 403 on missing role; notify-path
    skip and DEV_MODE bypass."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import (
        Rs256TokenAuth,
        issue_rs256_token,
    )

    idp = _FakeJwksIdp(["key-1"])
    pk = idp.keys["key-1"]
    try:
        auth = Rs256TokenAuth(idp.jwks_url)
        store = SubscriptionStore(spark, str(tmp_path / "subs"))
        store.add(dict(SUB))
        with NotifyHTTPShim(str(tmp_path / "spool"), store, auth=auth) as shim:
            base = shim.url.rsplit("/nef/notify", 1)[0]
            # 401: no token
            code, body = _request(base, "/nef/subscriptions")
            assert (code, body["detail"]) == (401, "Missing authorization token")
            # 200: properly signed token with a required realm role
            good = issue_rs256_token(pk, "key-1", ["network_engineer"])
            code, _ = _request(base, "/nef/subscriptions", token=good)
            assert code == 200
            # 401: signature-valid but expired (PyJWT ExpiredSignatureError)
            expired = issue_rs256_token(pk, "key-1", ["network_engineer"], exp=0)
            code, body = _request(base, "/nef/subscriptions", token=expired)
            assert (code, body["detail"]) == (401, "Token expired")
            # 401: tampered payload (signature no longer matches)
            h, p, s = good.split(".")
            forged_payload = p[:-4] + ("AAAA" if p[-4:] != "AAAA" else "BBBB")
            code, body = _request(
                base, "/nef/subscriptions", token=f"{h}.{forged_payload}.{s}"
            )
            assert (code, body["detail"]) == (401, "Invalid token")
            # 401: expired AND tampered -> sig checked first, so Invalid
            # (PyJWT validates claims only after the signature verifies)
            eh, ep, es = expired.split(".")
            code, body = _request(
                base, "/nef/subscriptions", token=f"{eh}.{ep}.{s}"
            )
            assert (code, body["detail"]) == (401, "Invalid token")
            # 401: token signed by a key NOT in the JWKS doc
            from cryptography.hazmat.primitives.asymmetric import rsa

            rogue = rsa.generate_private_key(public_exponent=65537, key_size=2048)
            code, body = _request(
                base,
                "/nef/subscriptions",
                token=issue_rs256_token(rogue, "key-1", ["debug_admin"]),
            )
            assert (code, body["detail"]) == (401, "Invalid token")
            # 401: unknown kid (still absent after a JWKS refresh)
            code, body = _request(
                base,
                "/nef/subscriptions",
                token=issue_rs256_token(pk, "no-such-kid", ["debug_admin"]),
            )
            assert (code, body["detail"]) == (401, "Invalid token")
            # 401: alg-confusion - header alg swapped to none/HS256 is
            # refused by the pinned algorithms=["RS256"] list
            import base64 as b64

            for alg in ("none", "HS256"):
                hdr = (
                    b64.urlsafe_b64encode(
                        json.dumps({"alg": alg, "kid": "key-1"}).encode()
                    )
                    .rstrip(b"=")
                    .decode()
                )
                code, body = _request(
                    base, "/nef/subscriptions", token=f"{hdr}.{p}.{s}"
                )
                assert (code, body["detail"]) == (401, "Invalid token")
            # 403: valid token, no required role
            peasant = issue_rs256_token(pk, "key-1", ["observer"])
            code, body = _request(base, "/nef/subscriptions", token=peasant)
            assert (code, body["detail"]) == (403, "Insufficient permissions")
            # either required role passes (ANY-of set)
            for role in ("network_engineer", "debug_admin"):
                code, _ = _request(
                    base,
                    "/nef/subscriptions",
                    token=issue_rs256_token(pk, "key-1", [role]),
                )
                assert code == 200
            # /nef/notify skipped even with auth on (SKIP_PATHS)
            assert _post(shim.url, {"notifId": "test-notif-001"}) == 204

        # DEV_MODE bypass (auth_middleware.py:24-25)
        dev = Rs256TokenAuth(idp.jwks_url, dev_mode=True)
        dev_store = SubscriptionStore(spark, str(tmp_path / "subs2"))
        with NotifyHTTPShim(str(tmp_path / "spool2"), dev_store, auth=dev) as shim:
            base = shim.url.rsplit("/nef/notify", 1)[0]
            code, _ = _request(base, "/nef/subscriptions")
            assert code == 200
    finally:
        idp.stop()


def test_jwks_client_caches_and_refreshes_on_rotation(tmp_path):
    """PyJWKClient(cache_keys=True) behavior (auth_middleware.py:19): the
    JWKS doc is fetched once and cached by kid; an unknown kid triggers
    exactly one refresh, which picks up rotated keys."""
    from cryptography.hazmat.primitives.asymmetric import rsa

    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import (
        JwksClient,
        Rs256TokenAuth,
        issue_rs256_token,
    )

    idp = _FakeJwksIdp(["key-1"])
    try:
        client = JwksClient(idp.jwks_url)
        auth = Rs256TokenAuth(client)
        headers_for = lambda tok: {"Authorization": f"Bearer {tok}"}

        t1 = issue_rs256_token(idp.keys["key-1"], "key-1", ["debug_admin"])
        assert auth.check("/x", headers_for(t1)) is None
        assert auth.check("/x", headers_for(t1)) is None
        assert client.fetch_count == 1  # cached across checks

        # rotate: IdP publishes key-2, signs with it
        idp.keys["key-2"] = rsa.generate_private_key(
            public_exponent=65537, key_size=2048
        )
        t2 = issue_rs256_token(idp.keys["key-2"], "key-2", ["debug_admin"])
        assert auth.check("/x", headers_for(t2)) is None  # refresh on miss
        assert client.fetch_count == 2
        assert auth.check("/x", headers_for(t2)) is None
        assert client.fetch_count == 2  # rotated key now cached
    finally:
        idp.stop()
