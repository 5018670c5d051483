"""WebSocket frontend: one command per text message, one JSON frame per
reply message.

The engine analogue of the reference's WS listener
(reference: src/frontend/ws/listener.rs). RFC 6455 is implemented here
directly (handshake + text/close/ping frames) because the environment has
no websocket library — the framing layer is ~80 lines and fully covered
by the round-trip test.

Auth mirrors the TCP frontend's line formats (the reference calls TOKEN
auth "the high-throughput authentication method for WebSocket",
listener.rs:144): ``AUTH user:sig`` then ``<command> TOKEN <tok>``, or
inline ``user:sig:command`` per message; bypass mode runs unchecked.
"""

from __future__ import annotations

import base64
import hashlib
import json
import socketserver
import struct
import threading
from typing import Optional

from sneldb_spark.auth import BYPASS_USER_ID, AuthError
from sneldb_spark.engine import SnelDB
from sneldb_spark.errors import SnelDBError
from sneldb_spark.response import json_frames

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _accept_key(client_key: str) -> str:
    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


# -- framing -----------------------------------------------------------------

def read_frame(rfile) -> tuple[int, bytes] | None:
    """Returns (opcode, payload) or None on EOF. Client frames are masked
    per RFC 6455 §5.3."""
    head = rfile.read(2)
    if len(head) < 2:
        return None
    b1, b2 = head
    opcode = b1 & 0x0F
    masked = bool(b2 & 0x80)
    length = b2 & 0x7F
    if length == 126:
        length = struct.unpack(">H", rfile.read(2))[0]
    elif length == 127:
        length = struct.unpack(">Q", rfile.read(8))[0]
    mask = rfile.read(4) if masked else b""
    payload = rfile.read(length)
    if masked:
        payload = bytes(c ^ mask[i % 4] for i, c in enumerate(payload))
    return opcode, payload


def write_frame(wfile, payload: bytes, opcode: int = 0x1, fin: bool = True):
    """Server frames are unmasked. `fin=False` starts/continues a
    fragmented message (RFC 6455 §5.4) — used to stream Arrow IPC chunks
    as one logical binary message without buffering the whole result."""
    header = bytearray([(0x80 if fin else 0x00) | opcode])
    n = len(payload)
    if n < 126:
        header.append(n)
    elif n < (1 << 16):
        header.append(126)
        header += struct.pack(">H", n)
    else:
        header.append(127)
        header += struct.pack(">Q", n)
    wfile.write(bytes(header) + payload)
    wfile.flush()


# -- handler -----------------------------------------------------------------

class _Handler(socketserver.StreamRequestHandler):
    # TCP_NODELAY: write_frame flushes each frame, and Nagle would hold
    # every one after the first until the client's delayed ACK
    disable_nagle_algorithm = True

    def handle(self):
        if not self._handshake():
            return
        engine: SnelDB = self.server.engine  # type: ignore[attr-defined]
        session_user: Optional[str] = None
        while True:
            frame = read_frame(self.rfile)
            if frame is None:
                break
            opcode, payload = frame
            if opcode == 0x8:  # close
                write_frame(self.wfile, payload, 0x8)
                break
            if opcode == 0x9:  # ping -> pong
                write_frame(self.wfile, payload, 0xA)
                continue
            if opcode != 0x1:
                continue
            line = payload.decode("utf-8", errors="replace").strip()
            if not line:
                continue
            try:
                command, user_id, token = self._authenticate(engine, line, session_user)
                if token is not None:
                    session_user = user_id
                    self._send_json({"type": "ok", "message": f"OK TOKEN {token}"})
                    continue
                from sneldb_spark.server import reject_if_under_pressure

                pressure = reject_if_under_pressure(
                    engine, command,
                    getattr(self.server, "backpressure_threshold", 90),
                )
                if pressure is not None:
                    self._send_json({"type": "error", "message": pressure})
                    continue
                result = engine.execute(command, user_id=user_id)
                if result.df is not None:
                    if getattr(self.server, "output_format", "json") == "arrow":
                        self._send_arrow(result.df)
                    else:
                        for fr in json_frames(result.df):
                            write_frame(self.wfile, fr.encode())
                else:
                    self._send_json({"type": "ok", "message": result.message})
            except SnelDBError as e:
                self._send_json({"type": "error", "message": str(e)})
            except Exception as e:
                self._send_json({"type": "error", "message": f"internal: {e}"})

    def _send_json(self, obj: dict):
        write_frame(self.wfile, json.dumps(obj).encode())

    def _send_arrow(self, df):
        """One read result = one fragmented BINARY message carrying the
        Arrow IPC stream (reference arrow.rs ArrowStreamEncoder over WS).
        Each IPC chunk rides one fragment, so server memory stays bounded
        by the batch size; FIN on the last fragment ends the message."""
        from sneldb_spark.response import arrow_ipc_frames

        pending: bytes | None = None
        first = True
        for chunk in arrow_ipc_frames(df):
            if pending is not None:
                write_frame(self.wfile, pending, opcode=0x2 if first else 0x0, fin=False)
                first = False
            pending = chunk
        write_frame(self.wfile, pending or b"", opcode=0x2 if first else 0x0, fin=True)

    def _handshake(self) -> bool:
        request_line = self.rfile.readline().decode("latin-1")
        headers = {}
        while True:
            raw = self.rfile.readline().decode("latin-1")
            if raw in ("\r\n", "\n", ""):
                break
            k, _, v = raw.partition(":")
            headers[k.strip().lower()] = v.strip()
        key = headers.get("sec-websocket-key")
        if not request_line.startswith("GET") or not key:
            self.wfile.write(b"HTTP/1.1 400 Bad Request\r\n\r\n")
            return False
        self.wfile.write(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        self.wfile.flush()
        return True

    # Same per-message auth formats as the TCP frontend.
    def _authenticate(
        self, engine: SnelDB, line: str, session_user: Optional[str]
    ) -> tuple[str, Optional[str], Optional[str]]:
        auth = engine.auth
        if auth is None or auth.config.bypass_auth:
            return line, BYPASS_USER_ID if auth is not None else None, None
        if line[:5].upper() == "AUTH ":
            user_id, sep, signature = line[5:].strip().partition(":")
            if not sep:
                raise AuthError("401 Authentication failed")
            token = auth.authenticate(
                user_id.strip(), signature.strip(),
                client_ip=self.client_address[0],
            )
            return "", user_id.strip(), token
        token_pos = line.rfind(" TOKEN ")
        if token_pos >= 0:
            command, token = line[:token_pos].strip(), line[token_pos + 7 :].strip()
            if token and len(token) <= 128:
                uid = auth.validate_session_token(token)
                if uid is not None:
                    return command, uid, None
            raise AuthError("401 Authentication failed")
        if session_user is not None:
            signature, sep, command = line.partition(":")
            if not sep:
                raise AuthError("401 Authentication failed")
            auth.verify_signature(
                command.strip(), session_user, signature.strip(),
                client_ip=self.client_address[0],
            )
            return command.strip(), session_user, None
        user_id, sep1, rest = line.partition(":")
        signature, sep2, command = rest.partition(":")
        if not (sep1 and sep2):
            raise AuthError("401 Authentication required")
        auth.verify_signature(
            command.strip(), user_id.strip(), signature.strip(),
            client_ip=self.client_address[0],
        )
        return command.strip(), user_id.strip(), None


class SnelDBWsServer:
    """Threaded WebSocket server bound to one engine instance."""

    def __init__(
        self,
        engine: SnelDB,
        host: str = "127.0.0.1",
        port: int = 0,
        output_format: str = "json",
        backpressure_threshold: int = 90,
    ):
        from sneldb_spark.server import _check_output_format

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
