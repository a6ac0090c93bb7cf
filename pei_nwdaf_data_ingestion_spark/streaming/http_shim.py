"""HTTP ingestion shim: POST /nef/notify -> file-source spool.

The reference fronts ingestion with a FastAPI endpoint that validates the
notification and hands it to the normalize/produce path
(/root/reference/receiver.py:354-389).  In the Spark design the engine
consumes a stream (SURVEY.md 2.1 scopes the endpoint as a "thin HTTP->Kafka
shim"); this module is that shim with the file source standing in for the
Kafka topic: each accepted POST body is appended atomically as one
JSON-lines file in the spool directory that
streaming/ingest.read_notification_stream watches.  Swapping the spool write
for a Kafka produce is the only production delta - validation and status
semantics stay identical.

Request contract (mirrors receiver.py:358-365):
  - 400 "Missing notifId"  when the body has no truthy notifId
  - 403 "Unknown notifId"  when no subscription matches
  - 204                    on acceptance (body spooled for the stream)

Control plane (optional, enabled by passing `store=`): the reference's
subscription CRUD (receiver.py:296-351); passing `nef_client=` also enables
the OUTBOUND NEF subscribe/unsubscribe egress (receiver.py:304-316,341-349)
with the reference's 504/502/500 upstream-error mapping and best-effort
delete - closing what was previously a documented omission (round 8):
  - POST   /nef/subscriptions        -> 201 {"notifId", "nefSubscriptionId"}
                                        (422 on missing required fields,
                                        FastAPI's validation status)
  - GET    /nef/subscriptions        -> 200 {"subscriptions": [...]}
  - DELETE /nef/subscriptions/{id}   -> 204, or 404 "Subscription not found"

Auth (optional, enabled by passing `auth=`): Rs256TokenAuth is the full
dual of the reference's AuthMiddleware (auth_middleware.py:22-59) - DEV_MODE
bypass, /nef/notify skip, Bearer extraction, kid-based JWKS key lookup
(JwksClient, the PyJWKClient dual), real RS256 signature verification via
the `cryptography` library, expiry validation, realm-role intersection.
HmacTokenAuth remains as the stdlib-only fallback with the same check order
and status contract (shared-secret HMAC in place of the IdP's RSA keys).

Stdlib-only (http.server) so it runs in this image; a production deployment
would put any ASGI server here - the contract is the test surface, not the
server library.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import os
import threading
import time
import uuid
from collections.abc import Callable, Iterable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

# reference auth_middleware.py:12-14
REQUIRED_ROLES = {"network_engineer", "debug_admin"}
SKIP_PATHS = {"/nef/notify"}


class HmacTokenAuth:
    """Stdlib dual of the reference's AuthMiddleware (auth_middleware.py:22-59).

    Token format: base64url(json claims) + "." + hex(HMAC-SHA256 over the
    encoded claims) - structurally a JWT minus the header, with the
    Keycloak JWKS lookup replaced by a shared secret.  Claims use the same
    shape the reference reads: realm_access.roles, exp, preferred_username.

    check() returns None when the request may proceed, else (status,
    detail) exactly matching the reference's responses:
      401 "Missing authorization token"  - no Bearer header     (:31-32)
      401 "Token expired"                - exp in the past      (:43-44)
      401 "Invalid token"                - bad signature/shape  (:45-47)
      403 "Insufficient permissions"     - no required role     (:49-51)
    """

    def __init__(
        self,
        secret: bytes | str,
        dev_mode: bool = False,
        required_roles: Iterable[str] = REQUIRED_ROLES,
        skip_paths: Iterable[str] = SKIP_PATHS,
        now: Callable[[], float] = time.time,
    ) -> None:
        self.secret = secret.encode() if isinstance(secret, str) else secret
        self.dev_mode = dev_mode
        self.required_roles = set(required_roles)
        self.skip_paths = set(skip_paths)
        self._now = now

    # -- token issue/verify ---------------------------------------------------

    def _sign(self, encoded_claims: bytes) -> str:
        return hmac.new(self.secret, encoded_claims, hashlib.sha256).hexdigest()

    def issue(
        self,
        roles: Iterable[str],
        username: str = "tester",
        exp: float | None = None,
    ) -> str:
        """Mint a token (test/ops helper - the reference's IdP does this)."""
        claims = {
            "realm_access": {"roles": sorted(roles)},
            "preferred_username": username,
            "name": username,
            "exp": self._now() + 3600 if exp is None else exp,
        }
        enc = base64.urlsafe_b64encode(json.dumps(claims).encode())
        return f"{enc.decode()}.{self._sign(enc)}"

    def check(self, path: str, headers) -> tuple[int, str] | None:
        if self.dev_mode:  # auth_middleware.py:24-25
            return None
        if path in self.skip_paths:  # :27-28
            return None
        header = headers.get("Authorization", "")
        if not header.startswith("Bearer "):  # :31-32
            return 401, "Missing authorization token"
        token = header[7:]
        try:
            enc, sig = token.rsplit(".", 1)
            if not hmac.compare_digest(self._sign(enc.encode()), sig):
                return 401, "Invalid token"
            claims = json.loads(base64.urlsafe_b64decode(enc.encode()))
        except (ValueError, json.JSONDecodeError):
            return 401, "Invalid token"  # :45-47
        # expiry only checked when the claim is present: PyJWT's decode (the
        # reference's verifier, auth_middleware.py:38-44) treats a missing
        # exp as "no expiry" and accepts the token (ADVICE r5)
        if "exp" in claims and float(claims["exp"]) < self._now():
            return 401, "Token expired"  # :43-44
        roles = set(claims.get("realm_access", {}).get("roles", []))
        if not roles & self.required_roles:
            return 403, "Insufficient permissions"  # :49-51
        return None


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
    (auth_middleware.py:22-59) - the real thing, not the HMAC stand-in:
    compact JWS tokens (base64url header.payload.signature), kid-based JWKS
    key lookup, RSASSA-PKCS1-v1_5/SHA-256 signature verification via the
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

    def __init__(
        self,
        jwks: JwksClient | str,
        dev_mode: bool = False,
        required_roles: Iterable[str] = REQUIRED_ROLES,
        skip_paths: Iterable[str] = SKIP_PATHS,
        now: Callable[[], float] = time.time,
    ) -> None:
        self.jwks = JwksClient(jwks) if isinstance(jwks, str) else jwks
        self.dev_mode = dev_mode
        self.required_roles = set(required_roles)
        self.skip_paths = set(skip_paths)
        self._now = now

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
        if "exp" in claims and float(claims["exp"]) < self._now():
            raise _Expired()
        return claims

    def check(self, path: str, headers) -> tuple[int, str] | None:
        if self.dev_mode:  # auth_middleware.py:24-25
            return None
        if path in self.skip_paths:  # :27-28
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
        if not roles & self.required_roles:
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
    now: Callable[[], float] = time.time,
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
        "exp": now() + 3600 if exp is None else exp,
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
        known_notif_ids: Callable[[], Iterable[str]] | Iterable[str],
        host: str = "127.0.0.1",
        port: int = 0,
        auth: HmacTokenAuth | Rs256TokenAuth | None = None,
        store=None,
        nef_client: NefClient | None = None,
    ) -> None:
        """`auth`: optional Rs256TokenAuth or HmacTokenAuth gate (None =
        the reference's DEV_MODE posture).  `store`: optional subscription
        store (anything with add/get/remove/list -
        pipeline.subscriptions.SubscriptionStore) enabling the
        /nef/subscriptions control-plane routes.
        `nef_client`: optional NefClient enabling the OUTBOUND subscribe/
        unsubscribe calls to the NEF named in each request's nefUrl (None
        keeps the routes local-only)."""
        self.spool_dir = spool_dir
        self._known = known_notif_ids
        self._host = host
        self._port = port
        self._auth = auth
        self._store = store
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

            def _respond(self, code: int, detail: str | None = None) -> None:
                if detail is None:
                    self.send_response(code)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                body = json.dumps({"detail": detail}).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _respond_json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _gate(self) -> bool:
                """Run the auth check; True = request may proceed."""
                if shim._auth is None:
                    return True
                denied = shim._auth.check(self.path, self.headers)
                if denied is None:
                    return True
                self._respond(*denied)
                return False

            def _read_json(self):
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    return json.loads(self.rfile.read(n))
                except (ValueError, json.JSONDecodeError):
                    return None

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
                    # outbound NEF subscribe (receiver.py:304-316): with a
                    # NefClient the shim registers itself at the NEF named
                    # by nefUrl and stores the returned subscriptionId; on
                    # failure the error mapping answers and NOTHING is
                    # stored.  Without a client the routes stay local-only
                    # (nef_sub_id None).
                    nef_sub_id = None
                    if shim._nef is not None:
                        status, result = shim._nef.subscribe(
                            payload["nefUrl"],
                            payload["notifId"],
                            shim.url,
                            payload["events"],
                        )
                        if status != 201:
                            self._respond(status, result)
                            return
                        nef_sub_id = result
                    shim._store.add(
                        {
                            "notif_id": payload["notifId"],
                            "snssai": payload.get("snssai"),
                            "dnn": payload.get("dnn"),
                            "events": payload["events"],
                            "nef_sub_id": nef_sub_id,
                            "nef_url": payload["nefUrl"],
                            "created_at": int(time.time()),
                        }
                    )
                    self._respond_json(
                        201,
                        {
                            "notifId": payload["notifId"],
                            "nefSubscriptionId": nef_sub_id,
                        },
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
                if notif_id not in shim._known_ids():
                    self._respond(403, "Unknown notifId")
                    return
                shim._spool(payload)
                self._respond(204)

            def do_GET(self):
                if not self._gate():
                    return
                if self.path == "/nef/subscriptions" and shim._store is not None:
                    self._respond_json(200, {"subscriptions": shim._store.list()})
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

    def _known_ids(self) -> set[str]:
        known = self._known() if callable(self._known) else self._known
        return set(known)

    def _spool(self, payload: dict) -> None:
        """One accepted POST = one JSON-lines file, written atomically (tmp +
        rename) so the Spark file source never lists a half-written file."""
        name = f"notif_{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(payload) + "\n")
        os.replace(tmp, os.path.join(self.spool_dir, name))
