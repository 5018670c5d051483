"""Thin TCP frontend: newline-delimited commands in, JSON frames out.

The engine analogue of the reference's TCP listener
(reference: src/frontend/tcp/listener.rs): one line = one command; read
commands stream schema/batch/end frames; write commands answer one
{"type":"ok"|"error"} line. The frontend is deliberately thin — all
semantics live in the engine; a production deployment would put any
HTTP/WS layer in front of the same `SnelDB.execute` calls.

Authentication mirrors the reference wire protocol
(reference: src/frontend/tcp/listener.rs:86-235 check_auth):

1. ``AUTH <user>:<sig>`` (sig = HMAC-SHA256(key, user_id)) opens a session
   and answers ``OK TOKEN <token>``.
2. ``<command> TOKEN <token>`` authenticates one command by session token.
3. On an AUTH'd connection, ``<sig>:<command>`` signs each command.
4. Stateless inline form: ``<user>:<sig>:<command>``.
5. With ``bypass_auth`` (or no AuthManager attached) commands run as the
   bypass user with no checks.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
from typing import Optional

from sneldb_spark.auth import BYPASS_USER_ID, AuthError
from sneldb_spark.engine import SnelDB
from sneldb_spark.errors import SnelDBError
from sneldb_spark.response import arrow_ipc_frames, json_frames


def reject_if_under_pressure(engine: SnelDB, command: str,
                             threshold: int = 90) -> Optional[str]:
    """Frontend-level backpressure (reference [server]
    backpressure_threshold, src/frontend/server_state.rs
    is_under_pressure + tcp/listener.rs:302): when the engine's pending
    ingest exceeds `threshold` percent of its hard admission bound,
    WRITE commands are rejected with the reference's retry-later error
    instead of queuing into a saturated memtable. Returns the error
    string to send, or None to proceed.

    Deviation, documented: the reference rejects EVERY command under
    pressure (reads share its shard channels); here reads never touch
    the bounded ingest path — they compile straight to Spark jobs — so
    only STORE/BATCH are gated and monitoring probes keep flowing while
    writers back off. No-op unless the engine configures
    memtable_capacity (the pressure metric's denominator)."""
    if not command.lstrip()[:6].upper().startswith(("STORE", "BATCH")):
        return None
    if engine.store.memtable_usage_percent() >= threshold:
        return "Server is under pressure, please retry later"
    return None


def _peer_ip(handler) -> Optional[str]:
    """Rate-limit key for failed auth. TCP: the peer IP. Unix domain
    sockets have no meaningful peer address (client_address is the
    path or ''), so they are not rate limited — local-socket access
    already implies filesystem-level trust (matches the reference,
    whose limiter keys on client_ip only)."""
    addr = handler.client_address
    if isinstance(addr, tuple) and addr and isinstance(addr[0], str) and addr[0]:
        return addr[0]
    return None


class _Handler(socketserver.StreamRequestHandler):
    # TCP_NODELAY on the accepted socket: the schema, batch and end frames
    # leave back to back, and Nagle would hold each write after the first
    # until the client's delayed ACK (a 40 ms stall per warm read)
    disable_nagle_algorithm = True

    def handle(self):
        engine: SnelDB = self.server.engine  # type: ignore[attr-defined]
        session_user: Optional[str] = None  # set by AUTH for this connection
        for raw in self.rfile:
            line = raw.decode("utf-8", errors="replace").strip()
            if not line:
                continue
            if line.upper() in ("QUIT", "EXIT"):
                break
            try:
                command, user_id, token_reply = self._authenticate(
                    engine, line, session_user
                )
                if token_reply is not None:
                    session_user = user_id
                    self._reply_ok(f"OK TOKEN {token_reply}")
                    continue
                pressure = reject_if_under_pressure(
                    engine, command,
                    getattr(self.server, "backpressure_threshold", 90),
                )
                if pressure is not None:
                    self._reply_error(pressure)
                    self.wfile.flush()
                    continue
                result = engine.execute(command, user_id=user_id)
                if result.df is not None:
                    if getattr(self.server, "output_format", "json") == "arrow":
                        # Arrow IPC stream straight on the socket (reference:
                        # src/shared/response/arrow.rs ArrowStreamEncoder —
                        # schema message, batches, end-of-stream marker).
                        # IPC messages are self-framing (0xFFFFFFFF
                        # continuation + length prefixes), so the client
                        # distinguishes them from JSON ok/error lines by
                        # the first byte.
                        for chunk in arrow_ipc_frames(result.df):
                            self.wfile.write(chunk)
                    else:
                        for frame in json_frames(result.df):
                            self.wfile.write((frame + "\n").encode())
                else:
                    self._reply_ok(result.message)
            except SnelDBError as e:
                self._reply_error(str(e))
            except Exception as e:  # engine bug: report, keep serving
                self._reply_error(f"internal: {e}")
            self.wfile.flush()

    # -- auth (reference: listener.rs check_auth) --------------------------
    def _authenticate(
        self, engine: SnelDB, line: str, session_user: Optional[str]
    ) -> tuple[str, Optional[str], Optional[str]]:
        """Returns (command_text, user_id, token_or_None_for_AUTH_reply)."""
        auth = engine.auth
        if auth is None or auth.config.bypass_auth:
            return line, BYPASS_USER_ID if auth is not None else None, None

        if line[:5].upper() == "AUTH ":
            body = line[5:].strip()
            user_id, sep, signature = body.partition(":")
            if not sep:
                raise AuthError("401 Authentication failed")
            token = auth.authenticate(
                user_id.strip(), signature.strip(), client_ip=_peer_ip(self)
            )
            return "", user_id.strip(), token

        # TOKEN suffix — rfind so a "TOKEN" inside payload JSON stays put.
        token_pos = line.rfind(" TOKEN ")
        if token_pos >= 0:
            command, token = line[:token_pos].strip(), line[token_pos + 7 :].strip()
            if token and len(token) <= 128:
                uid = auth.validate_session_token(token)
                if uid is not None:
                    return command, uid, None
            raise AuthError("401 Authentication failed")

        # Connection-scoped: an AUTH'd connection signs each command.
        if session_user is not None:
            signature, sep, command = line.partition(":")
            if not sep:
                raise AuthError("401 Authentication failed")
            auth.verify_signature(
                command.strip(), session_user, signature.strip(),
                client_ip=_peer_ip(self),
            )
            return command.strip(), session_user, None

        # Stateless inline: user_id:signature:command
        user_id, sep1, rest = line.partition(":")
        signature, sep2, command = rest.partition(":")
        if not (sep1 and sep2):
            raise AuthError("401 Authentication required")
        auth.verify_signature(
            command.strip(), user_id.strip(), signature.strip(),
            client_ip=_peer_ip(self),
        )
        return command.strip(), user_id.strip(), None

    def _reply_ok(self, message: str):
        self.wfile.write(
            (json.dumps({"type": "ok", "message": message}) + "\n").encode()
        )

    def _reply_error(self, message: str):
        self.wfile.write(
            (json.dumps({"type": "error", "message": message}) + "\n").encode()
        )


class _UnixHandler(_Handler):
    disable_nagle_algorithm = False  # no TCP options on a Unix socket


def _check_output_format(output_format: str) -> str:
    if output_format not in ("json", "arrow"):
        raise ValueError(f"unknown output_format {output_format!r} (json|arrow)")
    return output_format


class SnelDBServer:
    """Threaded TCP server bound to one engine instance.

    ``output_format="arrow"`` switches read-command responses to Arrow
    IPC streams (reference ``[server] output_format`` —
    config/prod.toml:35); write/error replies stay JSON lines, matching
    the reference's ArrowRenderer fallback (arrow.rs render())."""

    def __init__(
        self,
        engine: SnelDB,
        host: str = "127.0.0.1",
        port: int = 0,
        output_format: str = "json",
        backpressure_threshold: int = 90,
    ):
        self._server = socketserver.ThreadingTCPServer((host, port), _Handler)
        self._server.daemon_threads = True
        self._server.engine = engine  # type: ignore[attr-defined]
        self._server.output_format = _check_output_format(output_format)  # type: ignore[attr-defined]
        self._server.backpressure_threshold = backpressure_threshold  # type: ignore[attr-defined]
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


class SnelDBUnixServer:
    """Same line protocol over a Unix domain socket
    (reference: src/frontend/unix/)."""

    def __init__(self, engine: SnelDB, socket_path: str,
                 output_format: str = "json",
                 backpressure_threshold: int = 90):
        import os

        if os.path.exists(socket_path):
            os.unlink(socket_path)
        self._server = socketserver.ThreadingUnixStreamServer(socket_path, _UnixHandler)
        self._server.daemon_threads = True
        self._server.engine = engine  # type: ignore[attr-defined]
        self._server.output_format = _check_output_format(output_format)  # type: ignore[attr-defined]
        self._server.backpressure_threshold = backpressure_threshold  # type: ignore[attr-defined]
        self.socket_path = socket_path
        self._thread: threading.Thread | None = None

    def start(self):
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        import os

        self._server.shutdown()
        self._server.server_close()
        if os.path.exists(self.socket_path):
            os.unlink(self.socket_path)


def send_commands(address: tuple[str, int], commands: list[str], timeout: float = 60.0) -> list[dict]:
    """Small client helper: send commands, collect all reply frames."""
    frames: list[dict] = []
    with socket.create_connection(address, timeout=timeout) as sock:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        f = sock.makefile("rwb")
        for cmd in commands:
            f.write((cmd.strip() + "\n").encode())
        f.write(b"QUIT\n")
        f.flush()
        for raw in f:
            frames.append(json.loads(raw))
    return frames
