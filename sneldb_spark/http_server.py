"""Thin HTTP frontend: POST a command, get NDJSON frames back.

The engine analogue of the reference's HTTP listener
(reference: src/frontend/http/handler.rs:93-116, dispatcher.rs):

- ``POST /command``       body = raw command text
- ``POST /json-command``  body = ``{"command": "..."}``
- ``GET  /ping``          liveness probe -> ``PONG``

Responses are newline-delimited JSON frames — identical framing to the TCP
frontend (schema/batch/end for reads, one ok/error object for writes).

Authentication mirrors the reference's header scheme
(dispatcher.rs extract_auth_from_headers): ``X-Auth-User`` +
``X-Auth-Signature`` carry a per-request HMAC-SHA256 of the exact body
text; ``X-Auth-Token`` carries a session token minted by the TCP ``AUTH``
handshake. With ``bypass_auth`` (or no AuthManager) requests run
unchecked. Like the TCP frontend this stays deliberately thin — all
semantics live in ``SnelDB.execute``.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from sneldb_spark.auth import BYPASS_USER_ID, AuthError
from sneldb_spark.engine import SnelDB
from sneldb_spark.errors import SnelDBError
from sneldb_spark.response import json_frames


class _Handler(BaseHTTPRequestHandler):
    # TCP_NODELAY: headers and body leave in separate writes, and Nagle
    # would hold the body until the client's delayed ACK
    disable_nagle_algorithm = True

    def log_message(self, *args):  # quiet test output
        pass

    @property
    def engine(self) -> SnelDB:
        return self.server.engine  # type: ignore[attr-defined]

    # -- auth (reference: dispatcher.rs extract_auth_from_headers) ---------
    def _authenticate(self, body: str) -> Optional[str]:
        auth = self.engine.auth
        if auth is None:
            return None
        if auth.config.bypass_auth:
            return BYPASS_USER_ID
        if (
            getattr(self.server, "playground_allow_unauthenticated", False)
            and self.client_address[0] in ("127.0.0.1", "::1")
            and not any(
                self.headers.get(h)
                for h in ("X-Auth-Token", "X-Auth-User", "X-Auth-Signature")
            )
        ):
            # [playground] allow_unauthenticated: credential-less loopback
            # requests run as the bypass user (reference dispatcher.rs:48);
            # requests that DO send credentials are still verified.
            return BYPASS_USER_ID
        token = self.headers.get("X-Auth-Token")
        if token:
            uid = auth.validate_session_token(token)
            if uid is None:
                raise AuthError("401 Authentication failed")
            return uid
        user_id = self.headers.get("X-Auth-User")
        signature = self.headers.get("X-Auth-Signature")
        if not user_id or not signature:
            raise AuthError("401 Authentication required")
        auth.verify_signature(
            body, user_id, signature, client_ip=self.client_address[0]
        )
        return user_id

    # -- plumbing ----------------------------------------------------------
    def _send(self, status: int, payload: bytes, content_type: str):
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _send_frames(self, lines: list[str]):
        self._send(200, ("\n".join(lines) + "\n").encode(), "application/x-ndjson")

    def _send_error_frame(self, status: int, message: str):
        self._send(
            status,
            (json.dumps({"type": "error", "message": message}) + "\n").encode(),
            "application/x-ndjson",
        )

    def _run_command(self, command: str):
        try:
            user_id = self._authenticate(command)
            from sneldb_spark.server import reject_if_under_pressure

            pressure = reject_if_under_pressure(
                self.engine, command,
                getattr(self.server, "backpressure_threshold", 90),
            )
            if pressure is not None:
                # 503 + the reference's retry-later text
                # (frontend/http/handler.rs:76)
                self._send_error_frame(503, pressure)
                return
            result = self.engine.execute(command, user_id=user_id)
        except AuthError as e:
            msg = str(e)
            status = (
                403 if msg.startswith("403")
                else 429 if msg.startswith("429")
                else 401  # any other auth failure (bad signature, token, ...)
            )
            self._send_error_frame(status, msg)
            return
        except SnelDBError as e:
            self._send_error_frame(400, str(e))
            return
        except Exception as e:  # engine bug: report, keep serving
            self._send_error_frame(500, f"internal: {e}")
            return
        if result.df is not None:
            # output_format = "arrow" in the reference; here content
            # negotiation (reference: src/shared/response/arrow.rs).
            accept = self.headers.get("Accept", "")
            if "application/vnd.apache.arrow.stream" in accept:
                from sneldb_spark.response import arrow_ipc_bytes

                self._send(
                    200, arrow_ipc_bytes(result.df), "application/vnd.apache.arrow.stream"
                )
            else:
                self._send_frames(json_frames(result.df))
        else:
            self._send_frames([json.dumps({"type": "ok", "message": result.message})])

    # -- routes ------------------------------------------------------------
    def do_GET(self):
        if self.path == "/ping":
            self._send(200, b"PONG\n", "text/plain")
        elif self.path in ("/", "/index.html"):
            # self-contained browser playground (reference:
            # src/frontend/http/static_files.rs serves its SPA from `/`,
            # handler.rs:44 gates it on [playground] enabled)
            if not getattr(self.server, "playground_enabled", True):
                self._send(404, b"not found\n", "text/plain")
                return
            from sneldb_spark.playground import PLAYGROUND_HTML

            self._send(
                200, PLAYGROUND_HTML.encode(), "text/html; charset=utf-8"
            )
        else:
            self._send(404, b"not found\n", "text/plain")

    def do_POST(self):
        length = int(self.headers.get("Content-Length", "0"))
        body = self.rfile.read(length).decode("utf-8", errors="replace")
        if self.path == "/command":
            self._run_command(body.strip())
        elif self.path == "/json-command":
            try:
                doc = json.loads(body)
                command = doc["command"]
            except (json.JSONDecodeError, KeyError, TypeError):
                self._send_error_frame(400, 'expected JSON body {"command": "..."}')
                return
            self._run_command(str(command).strip())
        else:
            self._send(404, b"not found\n", "text/plain")


class SnelDBHttpServer:
    """Threaded HTTP server bound to one engine instance.

    `playground_enabled` gates the `/` page; with
    `playground_allow_unauthenticated`, requests from loopback run as
    the bypass user even when auth is configured — the reference's
    `[playground] enabled / allow_unauthenticated` keys
    (config/prod.toml, frontend/http/{handler.rs:44,dispatcher.rs:48}).
    The bypass defaults OFF here (the reference prod config ships it on;
    opt in via config)."""

    def __init__(
        self,
        engine: SnelDB,
        host: str = "127.0.0.1",
        port: int = 0,
        playground_enabled: bool = True,
        playground_allow_unauthenticated: bool = False,
        backpressure_threshold: int = 90,
    ):
        self._server = ThreadingHTTPServer((host, port), _Handler)
        self._server.daemon_threads = True
        self._server.engine = engine  # type: ignore[attr-defined]
        self._server.backpressure_threshold = backpressure_threshold  # type: ignore[attr-defined]
        self._server.playground_enabled = playground_enabled  # type: ignore[attr-defined]
        self._server.playground_allow_unauthenticated = (  # type: ignore[attr-defined]
            playground_allow_unauthenticated
        )
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address  # type: ignore[return-value]

    def start(self):
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._server.shutdown()
        self._server.server_close()
