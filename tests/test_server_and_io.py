"""TCP frontend, response framing, snapshots, materialization retention."""

import json

import pytest


def test_json_frames_shape(engine):
    from sneldb_spark.response import json_frames

    engine.execute('DEFINE f FIELDS { "n": "int" }')
    for i in range(5):
        engine.execute(f'STORE f FOR c{i} PAYLOAD {{ "n": {i} }}')
    engine.execute("FLUSH")
    frames = [json.loads(s) for s in json_frames(engine.query("QUERY f"), batch_size=2)]
    assert frames[0]["type"] == "schema"
    assert frames[0]["columns"][:4] == ["context_id", "event_type", "timestamp", "event_id"]
    batches = [f for f in frames if f["type"] == "batch"]
    assert [b["row_count"] for b in batches] == [2, 2, 1]
    assert frames[-1] == {"type": "end", "row_count": 5}


def test_arrow_ipc_roundtrip(engine):
    import pyarrow as pa

    from sneldb_spark.response import arrow_ipc_bytes

    engine.execute('DEFINE a FIELDS { "n": "int" }')
    engine.execute('STORE a FOR c1 PAYLOAD { "n": 42 }')
    engine.execute("FLUSH")
    buf = arrow_ipc_bytes(engine.query("QUERY a RETURN [n]"))
    table = pa.ipc.open_stream(buf).read_all()
    assert table.num_rows == 1
    assert table.column("n").to_pylist() == [42]


def test_tcp_server_end_to_end(engine):
    from sneldb_spark.server import SnelDBServer, send_commands

    server = SnelDBServer(engine).start()
    try:
        frames = send_commands(
            server.address,
            [
                'DEFINE tcp_t FIELDS { "v": "int" }',
                'STORE tcp_t FOR c1 PAYLOAD { "v": 7 }',
                "FLUSH",
                "QUERY tcp_t WHERE v = 7",
                "PING",
                "BOGUS COMMAND",
            ],
        )
    finally:
        server.stop()
    kinds = [f["type"] for f in frames]
    assert kinds[:3] == ["ok", "ok", "ok"]
    schema_i = kinds.index("schema")
    assert kinds[schema_i + 1] == "batch"
    assert frames[schema_i + 1]["row_count"] == 1
    assert "end" in kinds
    assert kinds[-2] == "ok"  # PING
    assert kinds[-1] == "error"  # BOGUS, server stays alive through it
    assert frames[-1]["message"]


def test_snapshot_export_import(engine, spark, tmp_path):
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store.snapshot import export_snapshot, import_snapshot

    engine.execute('DEFINE snap FIELDS { "n": "int", "tag": "string | null" }')
    for i in range(3):
        engine.execute(f'STORE snap FOR c{i} PAYLOAD {{ "n": {i} }}')
    engine.execute("FLUSH")
    snap_dir = str(tmp_path / "snap_out")
    export_snapshot(engine.store, snap_dir)

    other = SnelDB(spark, str(tmp_path / "other_db"))
    import_snapshot(other.store, snap_dir)
    assert other.query("QUERY snap").count() == 3
    # schema (incl. nullability) survived the trip
    assert other.store.registry.get("snap").fields["tag"].nullable


def test_snapshot_nullable_enum_roundtrip(engine, spark, tmp_path):
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store.snapshot import export_snapshot, import_snapshot

    # A nullable enum cannot be written as a string spec; define it via the
    # FieldType form directly (the same shape import_snapshot rebuilds).
    from sneldb_spark.schema.types import FieldType

    engine.store.registry.define(
        "pref",
        {
            "plan": FieldType("enum", nullable=True, enum_values=("pro", "basic")),
            "note": "string | null",
        },
    )
    engine.execute('STORE pref FOR c1 PAYLOAD { "plan": "pro" }')
    engine.execute('STORE pref FOR c2 PAYLOAD { }')  # null plan allowed
    engine.execute("FLUSH")
    snap_dir = str(tmp_path / "snap_enum")
    export_snapshot(engine.store, snap_dir)

    other = SnelDB(spark, str(tmp_path / "other_enum_db"))
    import_snapshot(other.store, snap_dir)
    ft = other.store.registry.get("pref").fields["plan"]
    assert ft.kind == "enum" and ft.nullable and ft.enum_values == ("pro", "basic")
    # a null store is still accepted after import
    other.execute('STORE pref FOR c3 PAYLOAD { }')
    other.execute("FLUSH")
    assert other.query("QUERY pref").count() == 3


def test_materialization_retention_max_rows(engine):
    engine.execute('DEFINE ret FIELDS { "n": "int" }')
    for i in range(5):
        engine.execute(f'STORE ret FOR c{i} PAYLOAD {{ "n": {i} }}')
    engine.execute("FLUSH")
    from sneldb_spark.commands.parser import parse_command

    q = parse_command("QUERY ret")
    engine.materializer.remember("recent", q, max_rows=3)
    shown = engine.materializer.show("recent")
    rows = sorted(r["n"] for r in shown.collect())
    assert rows == [2, 3, 4]  # newest three kept
    # retention holds across incremental refresh
    engine.execute('STORE ret FOR c9 PAYLOAD { "n": 9 }')
    engine.execute("FLUSH")
    rows2 = sorted(r["n"] for r in engine.materializer.show("recent").collect())
    assert rows2 == [3, 4, 9]


def test_http_frontend_commands_and_frames(engine):
    import json as _json
    import urllib.request

    from sneldb_spark.http_server import SnelDBHttpServer

    server = SnelDBHttpServer(engine).start()
    host, port = server.address
    base = f"http://{host}:{port}"
    try:
        def post(path, body):
            req = urllib.request.Request(
                base + path, data=body.encode(), method="POST"
            )
            with urllib.request.urlopen(req) as resp:
                return [_json.loads(l) for l in resp.read().decode().splitlines()]

        with urllib.request.urlopen(base + "/ping") as resp:
            assert resp.read() == b"PONG\n"
        assert post("/command", 'DEFINE httpev FIELDS { "n": "int" }')[0]["type"] == "ok"
        assert post("/command", 'STORE httpev FOR h1 PAYLOAD { "n": 5 }')[0]["type"] == "ok"
        assert post("/command", "FLUSH")[0]["type"] == "ok"
        frames = post("/json-command", _json.dumps({"command": "QUERY httpev WHERE n = 5"}))
        kinds = [f["type"] for f in frames]
        assert kinds[0] == "schema" and kinds[-1] == "end"
        assert sum(f.get("row_count", 0) for f in frames if f["type"] == "batch") == 1
    finally:
        server.stop()


def test_http_frontend_auth_headers(spark, tmp_path):
    import json as _json
    import urllib.error
    import urllib.request

    from sneldb_spark.auth import AuthConfig, AuthManager, sign
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.http_server import SnelDBHttpServer

    auth = AuthManager(config=AuthConfig(initial_admin_user="admin", initial_admin_key="ak"))
    db = SnelDB(spark, str(tmp_path / "db"), auth=auth)
    server = SnelDBHttpServer(db).start()
    host, port = server.address
    base = f"http://{host}:{port}"
    try:
        cmd = 'DEFINE hsec FIELDS { "n": "int" }'
        # unauthenticated -> 401
        req = urllib.request.Request(base + "/command", data=cmd.encode(), method="POST")
        try:
            urllib.request.urlopen(req)
            assert False, "expected 401"
        except urllib.error.HTTPError as e:
            assert e.code == 401
        # signed request passes
        req = urllib.request.Request(
            base + "/command",
            data=cmd.encode(),
            method="POST",
            headers={"X-Auth-User": "admin", "X-Auth-Signature": sign("ak", cmd)},
        )
        with urllib.request.urlopen(req) as resp:
            assert _json.loads(resp.read().decode().splitlines()[0])["type"] == "ok"
    finally:
        server.stop()


def test_unix_socket_frontend(engine, tmp_path):
    import json as _json
    import socket as _socket

    from sneldb_spark.server import SnelDBUnixServer

    sock_path = str(tmp_path / "sneldb.sock")
    server = SnelDBUnixServer(engine, sock_path).start()
    try:
        with _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM) as s:
            s.connect(sock_path)
            f = s.makefile("rwb")
            for cmd, expect_ok in [
                ('DEFINE unixev FIELDS { "n": "int" }', True),
                ('STORE unixev FOR u1 PAYLOAD { "n": 1 }', True),
                ("FLUSH", True),
            ]:
                f.write((cmd + "\n").encode())
                f.flush()
                assert (_json.loads(f.readline())["type"] == "ok") is expect_ok
            f.write(b"QUERY unixev\n")
            f.flush()
            kinds = []
            while True:
                fr = _json.loads(f.readline())
                kinds.append(fr["type"])
                if fr["type"] in ("end", "error"):
                    break
            assert kinds[0] == "schema" and kinds[-1] == "end"
    finally:
        server.stop()
    import os

    assert not os.path.exists(sock_path)  # cleaned up


def test_http_arrow_accept_header(engine):
    import io
    import urllib.request

    import pyarrow as pa

    from sneldb_spark.http_server import SnelDBHttpServer

    engine.execute('DEFINE arrev FIELDS { "n": "int" }')
    engine.execute('STORE arrev FOR a1 PAYLOAD { "n": 9 }')
    engine.execute("FLUSH")
    server = SnelDBHttpServer(engine).start()
    host, port = server.address
    try:
        req = urllib.request.Request(
            f"http://{host}:{port}/command",
            data=b"QUERY arrev WHERE n = 9",
            method="POST",
            headers={"Accept": "application/vnd.apache.arrow.stream"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"] == "application/vnd.apache.arrow.stream"
            table = pa.ipc.open_stream(io.BytesIO(resp.read())).read_all()
        assert table.num_rows == 1 and table.column("n")[0].as_py() == 9
    finally:
        server.stop()


def test_toml_config_loads_reference_prod_config(spark, tmp_path):
    # The reference's own prod.toml must load unchanged: mechanism sections
    # ([wal], [query], zones/shards) are accepted and ignored.
    from sneldb_spark.config import create_engine, load_config

    cfg = load_config("/root/reference/config/prod.toml")
    assert cfg.time.mode == "calendar" and cfg.time.week_start == "monday"
    assert cfg.auth is not None and cfg.auth.initial_admin_user == "admin"
    assert cfg.server.tcp_addr == "127.0.0.1:7171"
    cfg.data_dir = str(tmp_path / "db")  # don't write at the reference path
    db = create_engine(spark, cfg)
    admin = cfg.auth.initial_admin_user
    assert db.execute('DEFINE cfg_ev FIELDS { "n": "int" }', user_id=admin).ok


def test_toml_config_serve_and_naive_time(spark, tmp_path):
    import json as _json
    import socket as _socket

    from sneldb_spark.config import EngineConfig, create_engine, load_config, serve

    cfg = load_config(
        {
            "engine": {"data_dir": str(tmp_path / "db")},
            "time": {"use_calendar_bucketing": False, "week_start": "Sun"},
            "server": {"tcp_addr": "127.0.0.1:0"},
        }
    )
    assert isinstance(cfg, EngineConfig)
    assert cfg.time.mode == "naive" and cfg.time.week_start == "sunday"
    db = create_engine(spark, cfg)
    servers = serve(db, cfg)
    try:
        assert len(servers) == 1
        with _socket.create_connection(servers[0].address, timeout=30) as s:
            f = s.makefile("rwb")
            f.write(b"PING\n")
            f.flush()
            assert _json.loads(f.readline())["message"] == "PONG"
    finally:
        for srv in servers:
            srv.stop()


def test_toml_config_ignores_removed_serve_first_key(spark, tmp_path):
    """`[materialize] serve_first` no longer exists (SHOW always serves
    first on segment shapes): a config that still sets it loads, and
    SHOW refreshes as usual."""
    from sneldb_spark.config import create_engine, load_config

    cfg = load_config(
        {
            "engine": {"data_dir": str(tmp_path / "db")},
            "materialize": {"serve_first": False},
        }
    )
    assert not hasattr(cfg, "materialize_serve_first")
    db = create_engine(spark, cfg)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    db.execute('STORE ev FOR c0 PAYLOAD { "u": "u0" }')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS m")
    db.execute('STORE ev FOR c1 PAYLOAD { "u": "u1" }')
    db.execute("FLUSH")
    assert db.execute("SHOW m").df.count() == 2
    db.close()


class _WsClient:
    """Minimal RFC 6455 client for tests: masked text frames."""

    def __init__(self, address):
        import base64 as _b64
        import os as _os
        import socket as _socket

        self.sock = _socket.create_connection(address, timeout=60)
        self.f = self.sock.makefile("rwb")
        key = _b64.b64encode(_os.urandom(16)).decode()
        self.f.write(
            (
                f"GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                f"Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self.f.flush()
        status = self.f.readline().decode()
        assert "101" in status, status
        while self.f.readline() not in (b"\r\n", b"\n", b""):
            pass

    def send(self, text):
        import os as _os
        import struct as _struct

        payload = text.encode()
        mask = _os.urandom(4)
        masked = bytes(c ^ mask[i % 4] for i, c in enumerate(payload))
        header = bytearray([0x81])
        n = len(payload)
        if n < 126:
            header.append(0x80 | n)
        elif n < (1 << 16):
            header.append(0x80 | 126)
            header += _struct.pack(">H", n)
        else:
            header.append(0x80 | 127)
            header += _struct.pack(">Q", n)
        self.f.write(bytes(header) + mask + masked)
        self.f.flush()

    def recv(self):
        from sneldb_spark.ws_server import read_frame

        frame = read_frame(self.f)
        assert frame is not None
        return frame[1].decode()

    def close(self):
        self.sock.close()


def test_websocket_frontend_roundtrip(engine):
    import json as _json

    from sneldb_spark.ws_server import SnelDBWsServer

    server = SnelDBWsServer(engine).start()
    try:
        c = _WsClient(server.address)
        c.send('DEFINE wsev FIELDS { "n": "int" }')
        assert _json.loads(c.recv())["type"] == "ok"
        c.send('STORE wsev FOR w1 PAYLOAD { "n": 7 }')
        assert _json.loads(c.recv())["type"] == "ok"
        c.send("FLUSH")
        assert _json.loads(c.recv())["type"] == "ok"
        c.send("QUERY wsev WHERE n = 7")
        kinds = []
        while True:
            fr = _json.loads(c.recv())
            kinds.append(fr["type"])
            if fr["type"] in ("end", "error"):
                break
        assert kinds[0] == "schema" and kinds[-1] == "end"
        c.close()
    finally:
        server.stop()


def test_websocket_token_auth(spark, tmp_path):
    import json as _json

    from sneldb_spark.auth import AuthConfig, AuthManager, sign
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.ws_server import SnelDBWsServer

    auth = AuthManager(config=AuthConfig(initial_admin_user="admin", initial_admin_key="ak"))
    db = SnelDB(spark, str(tmp_path / "db"), auth=auth)
    server = SnelDBWsServer(db).start()
    try:
        c = _WsClient(server.address)
        cmd = 'DEFINE wsec FIELDS { "n": "int" }'
        c.send(cmd)  # unauthenticated
        assert _json.loads(c.recv())["type"] == "error"
        c.send(f"AUTH admin:{sign('ak', 'admin')}")
        reply = _json.loads(c.recv())
        token = reply["message"].split()[-1]
        c.send(f"{cmd} TOKEN {token}")
        assert _json.loads(c.recv())["type"] == "ok"
        c.close()
    finally:
        server.stop()


def test_tcp_concurrent_clients(engine):
    import json as _json
    import socket as _socket
    import threading

    from sneldb_spark.server import SnelDBServer

    engine.execute('DEFINE conc FIELDS { "n": "int" }')
    server = SnelDBServer(engine).start()
    errors = []

    def client(cid):
        try:
            with _socket.create_connection(server.address, timeout=60) as sock:
                f = sock.makefile("rwb")
                for i in range(10):
                    f.write(
                        (f'STORE conc FOR w{cid} PAYLOAD {{ "n": {i} }}\n').encode()
                    )
                    f.flush()
                    reply = _json.loads(f.readline())
                    assert reply["type"] == "ok", reply
        except Exception as e:  # surface to the main thread
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert not errors, errors
        engine.execute("FLUSH")
        assert engine.query("QUERY conc").count() == 40
    finally:
        server.stop()


def test_http_playground_serves_and_roundtrips(engine):
    """GET / serves the self-contained playground page (reference parity:
    static_files.rs serves its SPA from the HTTP frontend) and the
    /command endpoint the page speaks round-trips a command."""
    import json as _json
    import urllib.request

    from sneldb_spark.http_server import SnelDBHttpServer

    server = SnelDBHttpServer(engine).start()
    host, port = server.address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(base + "/") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            page = resp.read().decode()
        assert "SnelDB Playground" in page
        assert "/command" in page  # the page drives the real endpoint
        # no external asset loads: the page must work air-gapped
        assert "https://" not in page and "http://" not in page
        req = urllib.request.Request(
            base + "/command", data=b"PING", method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            frame = _json.loads(resp.read().decode().splitlines()[0])
        assert frame == {"type": "ok", "message": "PONG"}
    finally:
        server.stop()


def test_playground_disabled_returns_404(engine):
    """[playground] enabled=false gates the `/` page (reference:
    frontend/http/handler.rs:44) without touching the API endpoints."""
    import urllib.error
    import urllib.request

    from sneldb_spark.http_server import SnelDBHttpServer

    server = SnelDBHttpServer(engine, playground_enabled=False).start()
    host, port = server.address
    base = f"http://{host}:{port}"
    try:
        try:
            urllib.request.urlopen(base + "/")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
        with urllib.request.urlopen(base + "/ping") as resp:  # API unaffected
            assert resp.read() == b"PONG\n"
    finally:
        server.stop()


def test_playground_unauthenticated_loopback_bypass(spark, tmp_path):
    """[playground] allow_unauthenticated: credential-less loopback requests
    run as the bypass user even with auth configured (reference:
    frontend/http/dispatcher.rs:48); requests that DO send credentials are
    still verified."""
    import json as _json
    import urllib.error
    import urllib.request

    from sneldb_spark.auth import AuthConfig, AuthManager
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.http_server import SnelDBHttpServer

    auth = AuthManager(
        config=AuthConfig(initial_admin_user="admin", initial_admin_key="ak")
    )
    db = SnelDB(spark, str(tmp_path / "db"), auth=auth)
    server = SnelDBHttpServer(db, playground_allow_unauthenticated=True).start()
    host, port = server.address
    base = f"http://{host}:{port}"
    cmd = 'DEFINE pgb FIELDS { "n": "int" }'
    try:
        # credential-less loopback request runs as the bypass user
        req = urllib.request.Request(base + "/command", data=cmd.encode(), method="POST")
        with urllib.request.urlopen(req) as resp:
            assert _json.loads(resp.read().decode().splitlines()[0])["type"] == "ok"
        # a request that sends (bad) credentials is still rejected
        req = urllib.request.Request(
            base + "/command",
            data=cmd.encode(),
            method="POST",
            headers={"X-Auth-User": "admin", "X-Auth-Signature": "bogus"},
        )
        try:
            urllib.request.urlopen(req)
            assert False, "expected 401"
        except urllib.error.HTTPError as e:
            assert e.code == 401
    finally:
        server.stop()


def test_toml_config_playground_and_rate_limit_keys(tmp_path):
    """[playground] and [auth] rate_limit_* keys load from the reference's
    own prod.toml and from explicit dicts."""
    from sneldb_spark.config import load_config

    cfg = load_config("/root/reference/config/prod.toml")
    assert cfg.playground.enabled is True
    assert cfg.playground.allow_unauthenticated is True
    assert cfg.auth is not None
    assert cfg.auth.rate_limit_enabled is True
    assert cfg.auth.rate_limit_per_second == 100

    cfg = load_config(
        {
            "playground": {"enabled": False, "allow_unauthenticated": False},
            "auth": {"rate_limit_enabled": False},
        }
    )
    assert cfg.playground.enabled is False
    assert cfg.playground.allow_unauthenticated is False
    assert cfg.auth.rate_limit_enabled is False


def test_toml_config_serve_passes_playground_flags(spark, tmp_path):
    """serve() forwards [playground] keys to the HTTP frontend."""
    import urllib.error
    import urllib.request

    from sneldb_spark.config import create_engine, load_config, serve

    cfg = load_config(
        {
            "engine": {"data_dir": str(tmp_path / "db")},
            "server": {"http_addr": "127.0.0.1:0"},
            "playground": {"enabled": False},
        }
    )
    db = create_engine(spark, cfg)
    servers = serve(db, cfg)
    try:
        host, port = servers[0].address
        try:
            urllib.request.urlopen(f"http://{host}:{port}/")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        for srv in servers:
            srv.stop()


def test_tcp_arrow_output_format_wire_and_client(engine):
    """output_format="arrow" (reference config/prod.toml:35,
    src/shared/response/arrow.rs): read responses on the TCP line
    protocol become raw Arrow IPC streams — first bytes are the IPC
    continuation marker, the stream parses batch-for-batch, and the
    connection stays usable for the next (JSON-line) reply."""
    import socket

    import pyarrow as pa

    from sneldb_spark.server import SnelDBServer

    server = SnelDBServer(engine, output_format="arrow").start()
    try:
        with socket.create_connection(server.address, timeout=60) as sock:
            f = sock.makefile("rwb")
            for cmd in (
                'DEFINE arw FIELDS { "v": "int" }',
                'STORE arw FOR c1 PAYLOAD { "v": 7 }',
                'STORE arw FOR c2 PAYLOAD { "v": 8 }',
                "FLUSH",
            ):
                f.write((cmd + "\n").encode())
                f.flush()
                reply = json.loads(f.readline())
                assert reply["type"] == "ok", reply
            f.write(b"QUERY arw RETURN [v]\n")
            f.flush()
            head = f.peek(4)[:4]
            assert head == b"\xff\xff\xff\xff", head  # IPC continuation marker
            with pa.ipc.open_stream(f) as reader:
                table = reader.read_all()
            assert sorted(table.column("v").to_pylist()) == [7, 8]
            # stream boundary intact: next command answers a JSON line
            f.write(b"PING\n")
            f.flush()
            assert json.loads(f.readline())["type"] == "ok"
    finally:
        server.stop()


def test_unix_arrow_output_format_via_client(engine, tmp_path):
    """The Unix-socket frontend honors output_format="arrow"; the packaged
    client parses the IPC stream when constructed with the matching knob."""
    from sneldb_spark.client import SnelDBClient
    from sneldb_spark.server import SnelDBUnixServer

    sock_path = str(tmp_path / "arrow.sock")
    server = SnelDBUnixServer(engine, sock_path, output_format="arrow").start()
    try:
        with SnelDBClient(f"unix://{sock_path}", output_format="arrow") as c:
            assert c.execute('DEFINE uarw FIELDS { "v": "int" }').ok
            assert c.execute('STORE uarw FOR c1 PAYLOAD { "v": 5 }').ok
            assert c.execute("FLUSH").ok
            rows = c.query("QUERY uarw RETURN [v]")
            assert [r["v"] for r in rows] == [5]
            rows2 = c.query("QUERY uarw")  # second read on same connection
            assert len(rows2) == 1 and rows2[0]["context_id"] == "c1"
    finally:
        server.stop()


def test_websocket_arrow_fragmented_binary(engine, monkeypatch):
    """WS + output_format="arrow": the result rides one fragmented BINARY
    message (one fragment per IPC chunk). Forcing 2-row batches makes the
    5-row result span multiple fragments, pinning the reassembly path."""
    import sneldb_spark.response as response_mod
    from sneldb_spark.client import SnelDBClient
    from sneldb_spark.ws_server import SnelDBWsServer

    orig = response_mod.arrow_ipc_frames
    monkeypatch.setattr(
        response_mod, "arrow_ipc_frames", lambda df, batch_size=1000: orig(df, 2)
    )
    server = SnelDBWsServer(engine, output_format="arrow").start()
    try:
        host, port = server.address
        with SnelDBClient(f"ws://{host}:{port}", output_format="arrow") as c:
            assert c.execute('DEFINE wsarw FIELDS { "v": "int" }').ok
            for i in range(5):
                assert c.execute(f'STORE wsarw FOR c{i} PAYLOAD {{ "v": {i} }}').ok
            assert c.execute("FLUSH").ok
            rows = c.query("QUERY wsarw RETURN [v]")
            assert sorted(r["v"] for r in rows) == [0, 1, 2, 3, 4]
    finally:
        server.stop()


def test_toml_config_serve_wires_output_format(spark, tmp_path):
    """[server] output_format = "arrow" flows through serve() to the
    line-protocol frontends (reference config/prod.toml:35)."""
    from sneldb_spark.client import SnelDBClient
    from sneldb_spark.config import create_engine, load_config, serve

    cfg = load_config(
        {
            "engine": {"data_dir": str(tmp_path / "db")},
            "server": {
                "tcp_addr": "127.0.0.1:0",
                "socket_path": str(tmp_path / "cfg.sock"),
                "output_format": "arrow",
            },
        }
    )
    assert cfg.server.output_format == "arrow"
    db = create_engine(spark, cfg)
    servers = serve(db, cfg)
    try:
        host, port = servers[0].address
        with SnelDBClient(f"tcp://{host}:{port}", output_format="arrow") as c:
            assert c.execute('DEFINE cfgarw FIELDS { "v": "int" }').ok
            assert c.execute('STORE cfgarw FOR c1 PAYLOAD { "v": 1 }').ok
            assert c.execute("FLUSH").ok
            assert [r["v"] for r in c.query("QUERY cfgarw RETURN [v]")] == [1]
    finally:
        for srv in servers:
            srv.stop()
