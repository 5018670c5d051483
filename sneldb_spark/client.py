"""Python client for the SnelDB server frontends.

API parity with the reference's packaged client (reference:
clients/python/src/sneldb_client/ — connect by URL, execute one command
text, DEFINE/STORE/QUERY convenience helpers, frame parsing into
normalized records, HMAC credential handling), implemented against this
repo's wire protocol:

- TCP (server.py): newline-delimited command in; JSON frames out
  (`schema` / `batch` / `end` for reads, one `ok` / `error` line for
  writes). Auth forms: `AUTH user:sig` handshake (sig = HMAC-SHA256 of
  the user id) answering `OK TOKEN <t>`, then `<cmd> TOKEN <t>`; or
  stateless `user:sig:<cmd>` with sig over the command text.
- HTTP (http_server.py): POST /command with the command as body; same
  frame lines in the response. Credentials ride as `X-Auth-Token` or
  `X-Auth-User` + `X-Auth-Signature` (sig over the body).

The client is deliberately dependency-free (socket + urllib) so it can
be vendored next to any PySpark deployment.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import socket
from dataclasses import dataclass, field
from typing import Optional
from urllib.parse import urlparse


class ClientError(Exception):
    """Base class for client-side failures."""


class ClientCommandError(ClientError):
    """The server answered an error frame (parse/validation/query/...)."""


class ClientAuthError(ClientError):
    """Authentication or authorization was refused."""


class ClientConnectionError(ClientError):
    """Transport-level failure (refused, closed mid-response, bad frame)."""


def _sign(secret_key: str, message: str) -> str:
    return hmac.new(
        secret_key.encode(), message.encode(), hashlib.sha256
    ).hexdigest()


@dataclass
class ClientResult:
    """One command's outcome. `rows` are normalized records
    (column -> value dicts) for read commands, [] for writes."""

    ok: bool
    rows: list[dict] = field(default_factory=list)
    columns: list[str] | None = None
    message: str = ""
    row_count: int = 0


def _frames_to_result(frames: list[dict]) -> ClientResult:
    """Fold a frame stream (schema/batch/end | ok | error) into a result."""
    columns: list[str] | None = None
    rows: list[dict] = []
    total = 0
    for frame in frames:
        kind = frame.get("type")
        if kind == "error":
            msg = frame.get("message", "")
            if "Authentication" in msg or "Authorization" in msg or msg[:3] in ("401", "403"):
                raise ClientAuthError(msg)
            raise ClientCommandError(msg)
        if kind == "ok":
            return ClientResult(ok=True, message=frame.get("message", ""))
        if kind == "schema":
            columns = list(frame.get("columns", []))
        elif kind == "batch":
            cols = columns or []
            for values in frame.get("rows", []):
                rows.append(dict(zip(cols, values)))
        elif kind == "end":
            total = int(frame.get("row_count", len(rows)))
    if columns is None:
        raise ClientConnectionError("response ended without schema/ok/error frame")
    return ClientResult(ok=True, rows=rows, columns=columns, row_count=total)


def _connect(host: str, port: int, timeout: float) -> socket.socket:
    """A TCP connection with Nagle off: a command line goes out as soon
    as it is written, not after the server's delayed ACK."""
    sock = socket.create_connection((host, port), timeout=timeout)
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


class _TcpTransport:
    def __init__(self, host: str, port: int, timeout: float):
        self._sock = _connect(host, port, timeout)
        self._io = self._sock.makefile("rwb")

    @classmethod
    def unix(cls, socket_path: str, timeout: float) -> "_TcpTransport":
        """Same line protocol over a Unix domain socket
        (server.SnelDBUnixServer; reference: src/frontend/unix/)."""
        self = cls.__new__(cls)
        self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        self._sock.settimeout(timeout)
        self._sock.connect(socket_path)
        self._io = self._sock.makefile("rwb")
        return self

    def round_trip(self, line: str, arrow: bool = False):
        """Send one command line, read frames until its terminal frame.
        Read results stream schema/batch.../end; everything else answers
        exactly one ok/error line.

        With ``arrow=True`` (server started with output_format="arrow"),
        read results arrive as an Arrow IPC stream instead — returned as
        a pyarrow Table. The first response byte disambiguates: IPC
        messages start with the 0xFF continuation marker, JSON ok/error
        lines with '{'."""
        self._io.write((line.strip() + "\n").encode())
        self._io.flush()
        if arrow:
            head = self._io.peek(1)[:1]
            if not head:
                raise ClientConnectionError("connection closed mid-response")
            if head != b"{":
                import pyarrow as pa

                with pa.ipc.open_stream(self._io) as reader:
                    return reader.read_all()
        frames: list[dict] = []
        while True:
            raw = self._io.readline()
            if not raw:
                raise ClientConnectionError("connection closed mid-response")
            try:
                frame = json.loads(raw)
            except ValueError as e:
                raise ClientConnectionError(f"bad frame: {raw[:80]!r}") from e
            frames.append(frame)
            if frame.get("type") in ("end", "ok", "error"):
                return frames

    def close(self):
        try:
            self._io.write(b"QUIT\n")
            self._io.flush()
        except OSError:
            pass
        self._sock.close()


class _WsTransport:
    """Minimal RFC 6455 client (the server side lives in ws_server.py; no
    websocket library in the stack, and the framing is ~60 lines). One
    command per text message; reply frames arrive one per message."""

    def __init__(self, host: str, port: int, timeout: float):
        import base64
        import hashlib
        import os as _os
        import struct  # noqa: F401  (used by the io helpers below)

        self._sock = _connect(host, port, timeout)
        self._io = self._sock.makefile("rwb")
        key = base64.b64encode(_os.urandom(16)).decode()
        self._io.write(
            (
                f"GET / HTTP/1.1\r\nHost: {host}:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self._io.flush()
        status = self._io.readline().decode("latin-1")
        if "101" not in status:
            raise ClientConnectionError(f"websocket handshake refused: {status.strip()}")
        accept = None
        while True:
            raw = self._io.readline().decode("latin-1")
            if raw in ("\r\n", "\n", ""):
                break
            k, _, v = raw.partition(":")
            if k.strip().lower() == "sec-websocket-accept":
                accept = v.strip()
        guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
        expect = base64.b64encode(hashlib.sha1((key + guid).encode()).digest()).decode()
        if accept != expect:
            raise ClientConnectionError("websocket handshake key mismatch")

    def _write_frame(self, payload: bytes, opcode: int = 0x1):
        import os as _os
        import struct

        header = bytearray([0x80 | opcode])
        n = len(payload)
        if n < 126:
            header.append(0x80 | n)  # client frames are masked
        elif n < (1 << 16):
            header.append(0x80 | 126)
            header += struct.pack(">H", n)
        else:
            header.append(0x80 | 127)
            header += struct.pack(">Q", n)
        mask = _os.urandom(4)
        header += mask
        masked = bytes(c ^ mask[i % 4] for i, c in enumerate(payload))
        self._io.write(bytes(header) + masked)
        self._io.flush()

    def _read_frame(self) -> tuple[bool, int, bytes]:
        import struct

        head = self._io.read(2)
        if len(head) < 2:
            raise ClientConnectionError("connection closed mid-response")
        fin = bool(head[0] & 0x80)
        opcode = head[0] & 0x0F
        length = head[1] & 0x7F
        if length == 126:
            length = struct.unpack(">H", self._io.read(2))[0]
        elif length == 127:
            length = struct.unpack(">Q", self._io.read(8))[0]
        # server frames are unmasked
        return fin, opcode, self._io.read(length)

    def round_trip(self, line: str, arrow: bool = False):
        """With ``arrow=True``, a read result arrives as one (possibly
        fragmented) BINARY message carrying an Arrow IPC stream; ok/error
        stay single text messages."""
        self._write_frame(line.strip().encode())
        frames: list[dict] = []
        blob = bytearray()  # reassembles a fragmented binary message
        in_binary = False
        while True:
            fin, opcode, payload = self._read_frame()
            if opcode == 0x8:  # close
                raise ClientConnectionError("server closed mid-response")
            if opcode == 0x9:  # ping -> pong
                self._write_frame(payload, 0xA)
                continue
            if opcode == 0x2 or (in_binary and opcode == 0x0):
                in_binary = not fin
                blob += payload
                if fin:
                    import pyarrow as pa

                    with pa.ipc.open_stream(bytes(blob)) as reader:
                        return reader.read_all()
                continue
            if opcode != 0x1:
                continue
            frame = json.loads(payload)
            frames.append(frame)
            if frame.get("type") in ("end", "ok", "error"):
                return frames

    def close(self):
        try:
            self._write_frame(b"", 0x8)
        except OSError:
            pass
        self._sock.close()


class _HttpTransport:
    def __init__(self, endpoint: str, timeout: float):
        self._endpoint = endpoint.rstrip("/")
        self._timeout = timeout

    ARROW_MIME = "application/vnd.apache.arrow.stream"

    def post(
        self, command: str, headers: dict[str, str], arrow: bool = False
    ) -> list[dict] | tuple[object]:
        """JSON frame list, or a 1-tuple holding a pyarrow Table when the
        server answered the Arrow content negotiation."""
        from urllib.error import HTTPError, URLError
        from urllib.request import Request, urlopen

        req = Request(
            f"{self._endpoint}/command",
            data=command.encode(),
            headers={
                "Content-Type": "text/plain",
                **({"Accept": self.ARROW_MIME} if arrow else {}),
                **headers,
            },
            method="POST",
        )
        try:
            with urlopen(req, timeout=self._timeout) as resp:
                body = resp.read()
                content_type = resp.headers.get("Content-Type", "")
        except HTTPError as e:
            body = e.read()
            if e.code in (401, 403):
                raise ClientAuthError(_http_error_message(body)) from e
            if e.code >= 500:
                raise ClientConnectionError(_http_error_message(body)) from e
            raise ClientCommandError(_http_error_message(body)) from e
        except URLError as e:
            raise ClientConnectionError(str(e)) from e
        if arrow and self.ARROW_MIME in content_type:
            import pyarrow as pa

            return (pa.ipc.open_stream(body).read_all(),)
        frames = []
        for line in body.splitlines():
            if line.strip():
                frames.append(json.loads(line))
        return frames

    def close(self):
        pass


def _http_error_message(body: bytes) -> str:
    try:
        frame = json.loads(body.splitlines()[0])
        return frame.get("message", body.decode(errors="replace"))
    except Exception:
        return body.decode(errors="replace")


class SnelDBClient:
    """`SnelDBClient("tcp://host:port" | "ws://host:port" |
    "http://host:port" | "unix:///path.sock")`.

    With `user_id` + `secret_key`, TCP/WS commands are signed inline
    (stateless) until `authenticate()` swaps to a session token; HTTP
    commands carry signature headers per request. Usable as a context
    manager."""

    def __init__(
        self,
        url: str,
        user_id: Optional[str] = None,
        secret_key: Optional[str] = None,
        timeout: float = 60.0,
        output_format: str = "json",
    ):
        if output_format not in ("json", "arrow"):
            raise ClientError(f"unknown output_format {output_format!r}")
        parsed = urlparse(url if "://" in url else f"tcp://{url}")
        host = parsed.hostname or "localhost"
        self.user_id = user_id
        self._secret_key = secret_key
        self._token: Optional[str] = None
        # "arrow": read results arrive as Arrow IPC and parse columnar —
        # the reference client's output_format knob. HTTP negotiates per
        # request (Accept header); TCP/WS/Unix require the server started
        # with output_format="arrow" (config [server] output_format).
        self.output_format = output_format
        if parsed.scheme in ("http", "https"):
            port = parsed.port or (443 if parsed.scheme == "https" else 80)
            self._kind = "http"
            self._http = _HttpTransport(
                f"{parsed.scheme}://{host}:{port}{parsed.path or ''}", timeout
            )
        elif parsed.scheme in ("tcp", "ws"):
            if parsed.port is None:
                raise ClientError(f"{parsed.scheme}:// URL needs an explicit port")
            self._kind = "tcp"  # ws shares the line protocol + auth formats
            transport = _TcpTransport if parsed.scheme == "tcp" else _WsTransport
            self._tcp = transport(host, parsed.port, timeout)
        elif parsed.scheme == "unix":
            # unix:///var/run/sneldb.sock — same protocol/auth as TCP
            self._kind = "tcp"
            self._tcp = _TcpTransport.unix(parsed.path, timeout)
        else:
            raise ClientError(f"unsupported scheme {parsed.scheme!r}")

    # -- core --------------------------------------------------------------
    def try_execute(self, command: str) -> ClientResult:
        """Run one command; error frames come back as ok=False instead of
        raising (mirrors SnelDB.try_execute)."""
        try:
            return self._execute(command)
        except (ClientCommandError, ClientAuthError) as e:
            return ClientResult(ok=False, message=str(e))

    def execute(self, command: str) -> ClientResult:
        """Run one command; raises ClientCommandError / ClientAuthError on
        an error reply."""
        return self._execute(command)

    def query(self, command: str) -> list[dict]:
        """Run a read command and return its normalized records."""
        return self._execute(command).rows

    def execute_table(self, command: str):
        """Arrow-format bulk read: return the result as a pyarrow.Table
        WITHOUT converting to per-row Python dicts — the drain path for
        large results (to_pylist on a million-row result is exactly the
        per-row Python cost the Arrow format exists to avoid). Requires
        output_format='arrow'. Non-read replies (ok/error JSON lines)
        raise/return via the normal result folding."""
        if self.output_format != "arrow":
            raise ClientError("execute_table requires output_format='arrow'")
        command = command.strip()
        if self._kind == "tcp":
            out = self._tcp.round_trip(self._format_tcp(command), arrow=True)
            if isinstance(out, list):  # JSON ok/error line
                return _frames_to_result(out)
            return out
        out = self._http.post(command, self._http_headers(command), arrow=True)
        if isinstance(out, tuple):
            return out[0]
        return _frames_to_result(out)

    def execute_stream(self, command: str):
        """Run one command and yield its JSON protocol frames AS THEY
        ARRIVE (TCP/Unix line protocol): schema first, then
        batch frames, then the end/ok/error terminal. The caller sees
        the first data frame at server time-to-first-frame — the
        latency SHOW's serve-then-refresh path optimizes — instead of
        after the full drain `execute` does. JSON output format only."""
        if self._kind != "tcp" or not isinstance(self._tcp, _TcpTransport):
            raise ClientError("execute_stream requires a tcp:// or unix:// client")
        if self.output_format != "json":
            raise ClientError("execute_stream requires output_format='json'")
        line = self._format_tcp(command.strip())
        io = self._tcp._io
        io.write((line + "\n").encode())
        io.flush()

        def read_frame() -> dict:
            raw = io.readline()
            if not raw:
                raise ClientConnectionError("connection closed mid-response")
            try:
                return json.loads(raw)
            except ValueError as e:
                raise ClientConnectionError(f"bad frame: {raw[:80]!r}") from e

        done = False
        try:
            while True:
                frame = read_frame()
                if frame.get("type") in ("end", "ok", "error"):
                    done = True
                    yield frame
                    return
                yield frame
        finally:
            # Abandoned before the terminal frame (break after measuring
            # time-to-first-frame, generator GC, exception in the caller):
            # unread batch frames would otherwise stay buffered and the
            # NEXT command on this connection would parse them as its own
            # response. Resync by draining to the terminal frame; if the
            # drain itself fails, poison the transport so the next call
            # errors loudly instead of desyncing silently.
            if not done:
                try:
                    while read_frame().get("type") not in ("end", "ok", "error"):
                        pass
                except Exception:
                    try:
                        self._tcp.close()
                    except Exception:
                        pass

    def _execute(self, command: str) -> ClientResult:
        command = command.strip()
        if self._kind == "tcp":
            out = self._tcp.round_trip(
                self._format_tcp(command), arrow=self.output_format == "arrow"
            )
            if not isinstance(out, list):  # Arrow table (output_format="arrow")
                return ClientResult(
                    ok=True,
                    rows=out.to_pylist(),
                    columns=out.column_names,
                    row_count=out.num_rows,
                )
            return _frames_to_result(out)
        out = self._http.post(
            command,
            self._http_headers(command),
            arrow=self.output_format == "arrow",
        )
        if isinstance(out, tuple):  # Arrow table
            table = out[0]
            return ClientResult(
                ok=True,
                rows=table.to_pylist(),
                columns=table.column_names,
                row_count=table.num_rows,
            )
        return _frames_to_result(out)

    # -- auth --------------------------------------------------------------
    def authenticate(self) -> str:
        """TCP: run the AUTH handshake and cache the session token (later
        commands send `... TOKEN <t>`). HTTP: commands are signed per
        request already; this just verifies the credentials work."""
        if not (self.user_id and self._secret_key):
            raise ClientAuthError("user_id and secret_key are required")
        if self._kind == "tcp":
            sig = _sign(self._secret_key, self.user_id)
            frames = self._tcp.round_trip(f"AUTH {self.user_id}:{sig}")
            msg = frames[0].get("message", "")
            if frames[0].get("type") != "ok" or "TOKEN" not in msg:
                raise ClientAuthError(msg or "AUTH failed")
            self._token = msg.rsplit(" ", 1)[-1]
            return self._token
        self._execute("PING")
        return ""

    def _format_tcp(self, command: str) -> str:
        if self._token:
            return f"{command} TOKEN {self._token}"
        if self.user_id and self._secret_key:
            return f"{self.user_id}:{_sign(self._secret_key, command)}:{command}"
        return command

    def _http_headers(self, command: str) -> dict[str, str]:
        if self._token:
            return {"X-Auth-Token": self._token}
        if self.user_id and self._secret_key:
            return {
                "X-Auth-User": self.user_id,
                "X-Auth-Signature": _sign(self._secret_key, command),
            }
        return {}

    # -- convenience helpers (reference client parity) ---------------------
    def ping(self) -> bool:
        return self._execute("PING").message == "PONG"

    def define(self, event_type: str, fields: dict, version: int | None = None) -> ClientResult:
        ver = f" AS {version}" if version is not None else ""
        return self._execute(
            f"DEFINE {event_type}{ver} FIELDS {json.dumps(fields)}"
        )

    def store(self, event_type: str, context_id: str, payload: dict) -> ClientResult:
        return self._execute(
            f"STORE {event_type} FOR {context_id} PAYLOAD {json.dumps(payload)}"
        )

    def store_many(
        self,
        event_type: str,
        events: list[tuple[str, dict]],
        batch_size: int = 100,
    ) -> ClientResult:
        """Bulk STORE via BATCH round trips of `batch_size` events —
        one reply and one server-side WAL flush per batch instead of
        per event (measured ~6x a store() loop over TCP). `events` is
        [(context_id, payload), ...]; stops at the first failed batch
        and returns its error, otherwise the last batch's result."""
        size = max(batch_size, 1)
        last = ClientResult(ok=True, message="OK")
        for i in range(0, len(events), size):
            chunk = events[i : i + size]
            body = "; ".join(
                f"STORE {event_type} FOR {ctx} PAYLOAD {json.dumps(p)}"
                for ctx, p in chunk
            )
            last = self.try_execute(f"BATCH [ {body} ]")
            if not last.ok:
                return last
        return last

    def flush(self) -> ClientResult:
        return self._execute("FLUSH")

    # -- lifecycle ---------------------------------------------------------
    def close(self):
        if self._kind == "tcp":
            self._tcp.close()
        else:
            self._http.close()

    def __enter__(self) -> "SnelDBClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
