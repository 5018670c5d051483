"""Line-protocol client that times each command from send to last frame.

One command is one line; a read answers schema / batch... / end frames, a
write answers one ok or error line. The clock stops when the end frame (or
the single reply line) arrives; frames are decoded after that.
"""

from __future__ import annotations

import json
import socket
import time


class Reply:
    __slots__ = ("t_send", "t_first", "t_end", "lines")

    def __init__(self, t_send, t_first, t_end, lines):
        self.t_send, self.t_first, self.t_end, self.lines = t_send, t_first, t_end, lines

    @property
    def ms(self) -> float:
        return (self.t_end - self.t_send) * 1000.0

    @property
    def ttff_ms(self) -> float:
        return (self.t_first - self.t_send) * 1000.0

    def decode(self) -> tuple[str, list[str], list]:
        """("ok" | "error" | "rows", columns, rows or [message])."""
        first = json.loads(self.lines[0])
        if first["type"] in ("ok", "error"):
            return first["type"], [], [first.get("message", "")]
        rows: list = []
        for raw in self.lines[1:]:
            frame = json.loads(raw)
            if frame["type"] == "batch":
                rows.extend(frame["rows"])
        return "rows", first["columns"], rows


class Conn:
    def __init__(self, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.f = self.sock.makefile("rwb")

    def call(self, text: str) -> Reply:
        """Send one command and read its whole answer."""
        t_send = time.monotonic()
        self.f.write(text.encode() + b"\n")
        self.f.flush()
        first = self.f.readline()
        t_first = time.monotonic()
        lines = [first]
        if first.startswith(b'{"type":"schema"'):
            while True:
                line = self.f.readline()
                if not line:
                    raise ConnectionError("server closed mid-answer")
                lines.append(line)
                if len(lines) == 2:
                    t_first = time.monotonic()
                if line.startswith(b'{"type":"end"'):
                    break
        elif not first:
            raise ConnectionError("server closed")
        return Reply(t_send, t_first, time.monotonic(), lines)

    def close(self) -> None:
        try:
            self.f.write(b"QUIT\n")
            self.f.flush()
        except OSError:
            pass
        self.f.close()
        self.sock.close()
