"""TCP_NODELAY on every socket frontend and client socket. A read answers
with several small writes back to back (schema, batch and end frames; HTTP
headers then body); with Nagle on, each write after the first waits for the
peer's delayed ACK. Checked by reading the option off the sockets, not by
timing."""

import socket
import threading

import pytest

from sneldb_spark import http_server, server, ws_server
from sneldb_spark.client import _TcpTransport, _WsTransport

FRONTENDS = {
    "tcp": (server.SnelDBServer, server._Handler),
    "ws": (ws_server.SnelDBWsServer, ws_server._Handler),
    "http": (http_server.SnelDBHttpServer, http_server._Handler),
}


def _nodelay(sock: socket.socket) -> bool:
    return bool(sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))


@pytest.mark.parametrize("frontend", sorted(FRONTENDS))
def test_accepted_connection_has_nodelay(frontend, monkeypatch):
    server_cls, handler = FRONTENDS[frontend]
    seen, done = [], threading.Event()
    setup = handler.setup

    def spy(self):
        setup(self)
        seen.append(_nodelay(self.connection))
        done.set()

    monkeypatch.setattr(handler, "setup", spy)
    # accept and setup never touch the engine
    srv = server_cls(None).start()
    try:
        with socket.create_connection(srv.address, timeout=10):
            assert done.wait(10)
    finally:
        srv.stop()
    assert seen == [True]


@pytest.mark.parametrize("transport", [_TcpTransport, _WsTransport])
def test_client_sockets_have_nodelay(transport):
    srv = ws_server.SnelDBWsServer(None).start()  # answers the WS handshake
    try:
        t = transport(*srv.address, timeout=10)
        try:
            assert _nodelay(t._sock)
        finally:
            t._sock.close()
    finally:
        srv.stop()

