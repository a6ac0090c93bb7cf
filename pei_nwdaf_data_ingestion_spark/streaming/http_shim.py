"""HTTP ingestion shim: POST /nef/notify -> file-source spool.

The reference fronts ingestion with a FastAPI endpoint that validates the
notification and hands it to the normalize/produce path (the reference's
receiver.py:354-389).  In the Spark design the engine consumes a stream
(SURVEY.md 2.1 scopes the endpoint as a "thin HTTP->Kafka shim"); this
module is that shim with the file source standing in for the Kafka topic:
each accepted POST body is appended atomically as one JSON-lines file in the
spool directory that streaming/ingest.read_notification_stream watches.
Swapping the spool write for a Kafka produce is the only production delta -
validation and status semantics stay identical.

Request contract (mirrors receiver.py:358-365):
  - 400 "Invalid JSON body" when the body is not a JSON object
  - 400 "Missing notifId"   when the body has no truthy notifId
  - 403 "Unknown notifId"   when no subscription matches
  - 204                     on acceptance (body spooled for the stream)

Admission reads the `subscriptions` the shim is given: a SubscriptionStore
live on every notification, as the reference reads its registry
(receiver.py:363-365), or an iterable of notif ids frozen once.  A store
also enables the control plane, the reference's subscription CRUD
(receiver.py:296-351), so a created subscription is admitted at once and a
deleted one refused; the data plane reads the store once, when a stream is
built.  `nef_client=` adds the OUTBOUND NEF subscribe/unsubscribe
(receiver.py:304-316,341-349): 504/502/500 upstream errors, best-effort
delete:
  - POST   /nef/subscriptions        -> 201 {"notifId", "nefSubscriptionId"}
                                        (422 on missing required fields or
                                        a row that does not fit the store,
                                        FastAPI's validation status, before
                                        any outbound call)
  - GET    /nef/subscriptions        -> 200 {"subscriptions": [...]}
  - DELETE /nef/subscriptions/{id}   -> 204, or 404 "Subscription not found"

Auth (optional, enabled by passing `auth=`): Rs256TokenAuth, the one token
verifier, is the dual of the reference's AuthMiddleware
(auth_middleware.py:22-59) - DEV_MODE bypass, /nef/notify skip, Bearer
extraction, kid-based JWKS key lookup (JwksClient, the PyJWKClient dual),
RS256 signature verification via the `cryptography` library, expiry
validation, realm-role intersection.

Stdlib-only server (http.server) so it runs in this image; a production
deployment would put any ASGI server here - the contract is the test
surface, not the server library.
"""

from __future__ import annotations

import base64
import json
import os
import threading
import time
import uuid
from collections.abc import Iterable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..pipeline.subscriptions import SubscriptionStore

# reference auth_middleware.py:12-14
REQUIRED_ROLES = {"network_engineer", "debug_admin"}
SKIP_PATHS = {"/nef/notify"}


def _b64url_decode(data: str | bytes) -> bytes:
    """Unpadded base64url decode (JWT/JWKS wire format, RFC 7515 §2)."""
    if isinstance(data, str):
        data = data.encode()
    return base64.urlsafe_b64decode(data + b"=" * (-len(data) % 4))


def _b64url_encode(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


class JwksClient:
    """Minimal dual of PyJWKClient (the reference's key source,
    auth_middleware.py:16-19): fetch the realm's JWKS document over HTTP,
    build RSA public keys from the (n, e) members, cache by kid, and
    refresh the document once when an unknown kid shows up (key rotation).

    Only RSA keys are materialized - the reference pins algorithms=["RS256"]
    (auth_middleware.py:41), so non-RSA JWKS entries are skipped.
    """

    def __init__(self, jwks_url: str, timeout: float = 5.0) -> None:
        self.jwks_url = jwks_url
        self.timeout = timeout
        self.fetch_count = 0  # observable for cache tests
        self._keys: dict[str, object] = {}
        self._lock = threading.Lock()

    def _fetch(self) -> None:
        import urllib.request

        from cryptography.hazmat.primitives.asymmetric import rsa

        with urllib.request.urlopen(self.jwks_url, timeout=self.timeout) as r:
            doc = json.loads(r.read())
        self.fetch_count += 1
        keys: dict[str, object] = {}
        for jwk in doc.get("keys", []):
            if jwk.get("kty") != "RSA" or "kid" not in jwk:
                continue
            n = int.from_bytes(_b64url_decode(jwk["n"]), "big")
            e = int.from_bytes(_b64url_decode(jwk["e"]), "big")
            keys[jwk["kid"]] = rsa.RSAPublicNumbers(e, n).public_key()
        self._keys = keys

    def get_signing_key(self, kid: str):
        """Public key for `kid`; refreshes the JWKS doc once on a miss
        (PyJWKClient's rotation behavior), raises KeyError if still absent."""
        with self._lock:
            if kid not in self._keys:
                self._fetch()
            return self._keys[kid]


class Rs256TokenAuth:
    """RS256/JWKS dual of the reference's AuthMiddleware
    (auth_middleware.py:22-59): compact JWS tokens (base64url
    header.payload.signature), kid-based JWKS key lookup,
    RSASSA-PKCS1-v1_5/SHA-256 signature verification via the
    `cryptography` library (PyJWT is absent from this image; its RS256
    verify is exactly this primitive).

    check() mirrors the reference's order and statuses precisely:
      DEV_MODE bypass                                          (:24-25)
      skip-path bypass (/nef/notify)                           (:27-28)
      401 "Missing authorization token" - no Bearer header     (:31-32)
      401 "Invalid token"  - malformed/unknown kid/bad alg/bad signature
                             (PyJWT's catch-all, :45-47)
      401 "Token expired"  - exp in the past, checked AFTER the signature
                             verifies (PyJWT validates claims only on a
                             good signature, so expired+tampered maps to
                             "Invalid token", :43-44)
      403 "Insufficient permissions" - realm_access.roles disjoint from
                             REQUIRED_ROLES (:49-51)
    """

    def __init__(self, jwks: JwksClient | str, dev_mode: bool = False) -> None:
        self.jwks = JwksClient(jwks) if isinstance(jwks, str) else jwks
        self.dev_mode = dev_mode

    def _verify(self, token: str) -> dict:
        """Decode+verify; returns claims or raises ValueError (any shape of
        invalid token) / _Expired (valid signature, stale exp)."""
        from cryptography.exceptions import InvalidSignature
        from cryptography.hazmat.primitives import hashes
        from cryptography.hazmat.primitives.asymmetric import padding

        try:
            enc_header, enc_payload, enc_sig = token.split(".")
            header = json.loads(_b64url_decode(enc_header))
            signature = _b64url_decode(enc_sig)
        except Exception as e:
            raise ValueError(f"malformed token: {e}") from e
        # pinned algorithm list, like jwt.decode(algorithms=["RS256"])
        # (auth_middleware.py:41) - refuses alg=none and HS256 confusion
        if header.get("alg") != "RS256":
            raise ValueError(f"disallowed alg {header.get('alg')!r}")
        kid = header.get("kid")
        try:
            key = self.jwks.get_signing_key(kid)
        except Exception as e:
            raise ValueError(f"no JWKS key for kid {kid!r}: {e}") from e
        signing_input = f"{enc_header}.{enc_payload}".encode()
        try:
            key.verify(signature, signing_input, padding.PKCS1v15(), hashes.SHA256())
        except InvalidSignature as e:
            raise ValueError("bad signature") from e
        try:
            claims = json.loads(_b64url_decode(enc_payload))
        except Exception as e:
            raise ValueError(f"malformed claims: {e}") from e
        # exp checked only after the signature verified, and only when the
        # claim is present (PyJWT accepts exp-less tokens)
        if "exp" in claims and float(claims["exp"]) < time.time():
            raise _Expired()
        return claims

    def check(self, path: str, headers) -> tuple[int, str] | None:
        if self.dev_mode:  # auth_middleware.py:24-25
            return None
        if path in SKIP_PATHS:  # :27-28
            return None
        header = headers.get("Authorization", "")
        if not header.startswith("Bearer "):  # :31-32
            return 401, "Missing authorization token"
        try:
            claims = self._verify(header[7:])
        except _Expired:
            return 401, "Token expired"  # :43-44
        except ValueError:
            return 401, "Invalid token"  # :45-47
        roles = set(claims.get("realm_access", {}).get("roles", []))
        if not roles & REQUIRED_ROLES:
            return 403, "Insufficient permissions"  # :49-51
        return None


class _Expired(Exception):
    """Signature-valid token past its exp (PyJWT's ExpiredSignatureError)."""


def issue_rs256_token(
    private_key,
    kid: str,
    roles: Iterable[str],
    username: str = "tester",
    exp: float | None = None,
) -> str:
    """Mint an RS256 compact JWS (test/ops helper - in production Keycloak
    does this).  `private_key` is a cryptography RSAPrivateKey whose public
    half is published in the JWKS doc under `kid`."""
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import padding

    header = _b64url_encode(
        json.dumps({"alg": "RS256", "typ": "JWT", "kid": kid}).encode()
    )
    claims = {
        "realm_access": {"roles": sorted(roles)},
        "preferred_username": username,
        "name": username,
        "exp": time.time() + 3600 if exp is None else exp,
    }
    payload = _b64url_encode(json.dumps(claims).encode())
    signing_input = f"{header}.{payload}".encode()
    sig = private_key.sign(signing_input, padding.PKCS1v15(), hashes.SHA256())
    return f"{header}.{payload}.{_b64url_encode(sig)}"


def rsa_jwk(public_key, kid: str) -> dict:
    """Serialize an RSA public key as a JWKS entry (RFC 7517) - the shape
    Keycloak publishes at /protocol/openid-connect/certs."""
    nums = public_key.public_numbers()
    n_bytes = nums.n.to_bytes((nums.n.bit_length() + 7) // 8, "big")
    e_bytes = nums.e.to_bytes((nums.e.bit_length() + 7) // 8, "big")
    return {
        "kty": "RSA",
        "use": "sig",
        "alg": "RS256",
        "kid": kid,
        "n": _b64url_encode(n_bytes),
        "e": _b64url_encode(e_bytes),
    }


class NefClient:
    """Outbound NEF subscribe/unsubscribe client - the control-plane egress
    of the reference (receiver.py:304-316 create, :341-349 delete), stdlib
    urllib in place of requests/httpx (this image ships neither).

    Error mapping matches the reference exactly:
      timeout          -> (504, "NEF did not respond")        (:311-312)
      connect failure  -> (502, "Cannot connect to NEF")      (:313-314)
      anything else    -> (500, "NEF subscription failed: e") (:315-316)
    and unsubscribe is BEST-EFFORT: failures are recorded, never raised
    (:341-349 logs a warning and removes the local subscription anyway).
    """

    def __init__(self, timeout: float = 5.0) -> None:
        self.timeout = timeout
        self.warnings: list[str] = []

    def subscribe(
        self, nef_url: str, notif_id: str, notif_uri: str, events: list
    ):
        """POST the TS 29.591-shaped subscription; returns
        (201, nef_subscription_id) or (status, detail) per the mapping."""
        import socket
        import urllib.error
        import urllib.request

        payload = json.dumps(
            {
                "notifId": notif_id,
                "notifUri": notif_uri,
                "eventsSubs": [{"event": e} for e in events],
            }
        ).encode()
        req = urllib.request.Request(
            nef_url,
            data=payload,
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                body = json.loads(r.read() or b"{}")
            # the body parse stays INSIDE the try: a 2xx response whose
            # JSON body is not an object (list/scalar) is a malformed NEF
            # reply and must map to the reference's catch-all 500, never
            # escape as an AttributeError in the handler thread (ADVICE r8)
            if not isinstance(body, dict):
                raise ValueError(f"malformed NEF response body: {body!r:.80}")
            sub_id = body.get("subscriptionId")
            if sub_id is not None and not isinstance(sub_id, str):
                raise ValueError(f"malformed NEF subscriptionId: {sub_id!r:.80}")
        except socket.timeout:
            return 504, "NEF did not respond"
        except urllib.error.URLError as e:
            if isinstance(e.reason, socket.timeout):
                return 504, "NEF did not respond"
            if isinstance(e, urllib.error.HTTPError):
                return 500, f"NEF subscription failed: {e}"
            return 502, "Cannot connect to NEF"
        except Exception as e:  # noqa: BLE001 - reference catches broad (:315)
            return 500, f"NEF subscription failed: {e}"
        return 201, sub_id

    def unsubscribe(self, nef_url: str, nef_sub_id: str) -> bool:
        """Best-effort DELETE {nef_url}/{nef_sub_id}; True when the NEF
        acknowledged, False when it could not be reached (recorded in
        self.warnings, mirroring the reference's logger.warning)."""
        import urllib.error
        import urllib.request

        url = f"{nef_url.rstrip('/')}/{nef_sub_id}"
        req = urllib.request.Request(url, method="DELETE")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout):
                return True
        except Exception as e:  # noqa: BLE001 - reference catches broad (:347)
            self.warnings.append(f"Failed to unsubscribe from NEF: {e}")
            return False


class NotifyHTTPShim:
    """Minimal HTTP server accepting NEF notification callbacks into a spool
    directory consumed by the Structured Streaming file source."""

    def __init__(
        self,
        spool_dir: str,
        subscriptions: SubscriptionStore | Iterable[str],
        host: str = "127.0.0.1",
        port: int = 0,
        auth: Rs256TokenAuth | None = None,
        nef_client: NefClient | None = None,
    ) -> None:
        """`subscriptions`: the SubscriptionStore the shim admits from and
        serves the /nef/subscriptions routes over, or a fixed iterable of
        admitted notif ids (no CRUD routes).  `auth`: optional token gate
        (None = DEV_MODE).  `nef_client`: optional NefClient for the
        OUTBOUND calls to each request's nefUrl (None = local-only)."""
        self.spool_dir = spool_dir
        if isinstance(subscriptions, SubscriptionStore):
            self._store, self._ids = subscriptions, None
        else:
            self._store, self._ids = None, frozenset(subscriptions)
        self._host = host
        self._port = port
        self._auth = auth
        self._nef = nef_client
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle -----------------------------------------------------------

    def start(self) -> tuple[str, int]:
        os.makedirs(self.spool_dir, exist_ok=True)
        shim = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # keep test output quiet
                pass

            def _respond(self, code: int, body: dict | str | None = None) -> None:
                """No body for None; a str is sent as FastAPI's {"detail"}."""
                self.send_response(code)
                if body is None:
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                if isinstance(body, str):
                    body = {"detail": body}
                data = json.dumps(body).encode()
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _gate(self) -> bool:
                """Run the auth check; True = request may proceed."""
                if shim._auth is None:
                    return True
                denied = shim._auth.check(self.path, self.headers)
                if denied is None:
                    return True
                self._respond(*denied)
                return False

            def _read_json(self) -> dict | None:
                """The body when it is a JSON object, else None."""
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n))
                except ValueError:
                    return None
                return body if isinstance(body, dict) else None

            def do_POST(self):
                if not self._gate():
                    return
                if self.path == "/nef/subscriptions" and shim._store is not None:
                    payload = self._read_json()
                    if payload is None:
                        self._respond(400, "Invalid JSON body")
                        return
                    # required-field validation (the reference's pydantic
                    # model, receiver.py:285-290; FastAPI answers 422)
                    missing = [
                        k for k in ("notifId", "nefUrl", "events") if k not in payload
                    ]
                    if missing:
                        self._respond(422, f"Missing fields: {', '.join(missing)}")
                        return
                    # the row is checked before anything leaves the shim: a
                    # non-string notifId or a field that does not fit
                    # SUBSCRIPTION answers 422, with nothing sent or stored
                    try:
                        row = shim._store.check(
                            {
                                "notif_id": payload["notifId"],
                                "snssai": payload.get("snssai"),
                                "dnn": payload.get("dnn"),
                                "events": payload["events"],
                                "nef_url": payload["nefUrl"],
                                "created_at": int(time.time()),
                            }
                        )
                    except (TypeError, ValueError) as e:
                        self._respond(422, f"Invalid subscription: {e}")
                        return
                    # outbound NEF subscribe (receiver.py:304-316): with a
                    # NefClient the shim registers itself at the NEF named
                    # by nefUrl and stores the returned subscriptionId; on
                    # failure the error mapping answers and NOTHING is
                    # stored.  Without a client the routes stay local-only
                    # (nef_sub_id None).
                    if shim._nef is not None:
                        status, result = shim._nef.subscribe(
                            row["nef_url"], row["notif_id"], shim.url, row["events"]
                        )
                        if status != 201:
                            self._respond(status, result)
                            return
                        row["nef_sub_id"] = result
                    shim._store.add(row)
                    self._respond(
                        201,
                        {"notifId": row["notif_id"], "nefSubscriptionId": row["nef_sub_id"]},
                    )
                    return
                if self.path != "/nef/notify":
                    self._respond(404, "Not Found")
                    return
                payload = self._read_json()
                if payload is None:
                    self._respond(400, "Invalid JSON body")
                    return
                notif_id = payload.get("notifId")
                if not notif_id:  # truthiness, like the reference (:358-361)
                    self._respond(400, "Missing notifId")
                    return
                if not shim._admits(notif_id):
                    self._respond(403, "Unknown notifId")
                    return
                shim._spool(payload)
                self._respond(204)

            def do_GET(self):
                if not self._gate():
                    return
                if self.path == "/nef/subscriptions" and shim._store is not None:
                    self._respond(200, {"subscriptions": shim._store.list()})
                    return
                self._respond(404, "Not Found")

            def do_DELETE(self):
                if not self._gate():
                    return
                prefix = "/nef/subscriptions/"
                if self.path.startswith(prefix) and shim._store is not None:
                    notif_id = self.path[len(prefix):]
                    sub = shim._store.get(notif_id)
                    if sub is None:  # receiver.py:337-339
                        self._respond(404, "Subscription not found")
                        return
                    # best-effort outbound unsubscribe (receiver.py:341-349):
                    # a NEF failure is warned about, never blocks the local
                    # removal, and the response stays 204
                    if (
                        shim._nef is not None
                        and sub.get("nef_sub_id")
                        and sub.get("nef_url")
                    ):
                        shim._nef.unsubscribe(sub["nef_url"], sub["nef_sub_id"])
                    shim._store.remove(notif_id)
                    self._respond(204)
                    return
                self._respond(404, "Not Found")

        self._server = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address[0], self._server.server_address[1]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

    def __enter__(self) -> "NotifyHTTPShim":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def url(self) -> str:
        assert self._server is not None, "start() first"
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/nef/notify"

    # -- internals -----------------------------------------------------------

    def _admits(self, notif_id) -> bool:
        """Whether a subscription holds `notif_id` now (ids are strings)."""
        if not isinstance(notif_id, str):
            return False
        if self._store is not None:
            return self._store.get(notif_id) is not None
        return notif_id in self._ids

    def _spool(self, payload: dict) -> None:
        """One accepted POST = one JSON-lines file, written atomically (tmp +
        rename) so the Spark file source never lists a half-written file."""
        name = f"notif_{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(payload) + "\n")
        os.replace(tmp, os.path.join(self.spool_dir, name))
