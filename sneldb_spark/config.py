"""TOML configuration surface (the reference's ``config/*.toml``).

Maps the reference's config sections onto this engine
(reference: config/prod.toml):

- ``[engine] data_dir``      -> the event-store root
- ``[time]``                 -> :class:`TimeConfig` (timezone, week_start,
                                use_calendar_bucketing)
- ``[auth]``                 -> :class:`AuthConfig` (bypass_auth,
                                initial_admin_user/key, token expiry);
                                the section's presence enables auth
- ``[server]``               -> tcp_addr / http_addr / socket_path, used by
                                :func:`serve`

``[wal] enabled`` maps onto the engine's pending-buffer WAL (on by
default); ``[engine] compaction_interval`` onto opportunistic periodic
compaction (EventStore.maybe_periodic_compact). The remaining
storage-mechanism knobs — WAL buffering/fsync cadence, ``[query]``
caches, zones/shards in ``[engine]`` — have no equivalent here by
design: Spark + Parquet own those concerns (SURVEY §0, "Spark frame").
They are accepted and ignored so a reference config file loads
unchanged.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

from sneldb_spark.auth import AuthConfig, AuthManager
from sneldb_spark.engine import SnelDB
from sneldb_spark.plans.compiler import TimeConfig

_WEEKDAYS = {
    "mon": "monday", "tue": "tuesday", "wed": "wednesday", "thu": "thursday",
    "fri": "friday", "sat": "saturday", "sun": "sunday",
}


@dataclass
class ServerConfig:
    tcp_addr: Optional[str] = None
    http_addr: Optional[str] = None
    ws_addr: Optional[str] = None
    socket_path: Optional[str] = None
    # [server] output_format = "json" | "arrow" (reference:
    # config/prod.toml:35): "arrow" switches TCP/WS/Unix read responses
    # to Arrow IPC streams. HTTP negotiates per request via Accept
    # headers instead (http_server.py).
    output_format: str = "json"
    # [server] backpressure_threshold (reference config/prod.toml:40,
    # server_state.rs): reject STORE/BATCH with "Server is under
    # pressure, please retry later" once pending ingest exceeds this
    # percent of the hard memtable bound. Inert unless [engine]
    # memtable capacity is configured (fill_factor/event_per_zone).
    backpressure_threshold: int = 90


@dataclass
class PlaygroundConfig:
    """``[playground]`` (reference: config/prod.toml, frontend/http/handler.rs:44).

    ``enabled`` gates serving the browser playground page from ``/``;
    ``allow_unauthenticated`` lets credential-less loopback requests run as
    the bypass user even when ``[auth]`` is configured."""

    enabled: bool = True
    allow_unauthenticated: bool = False


@dataclass
class EngineConfig:
    data_dir: str = "./sneldb_data"
    time: TimeConfig = field(default_factory=TimeConfig)
    auth: Optional[AuthConfig] = None
    server: ServerConfig = field(default_factory=ServerConfig)
    playground: PlaygroundConfig = field(default_factory=PlaygroundConfig)
    wal: bool = True
    # conservative mode: archive retired WAL files here before deletion
    wal_archive_dir: Optional[str] = None
    # [storage] bloom_filters: Parquet blooms on equality-probed string
    # columns (the reference's per-field XOR-filter analogue); on by default
    bloom_filters: bool = True
    # [storage] auto_compact_files: flush-triggered compaction once a
    # type's segment-file count exceeds this (reference background
    # compaction, docs/src/design/compaction.md); None = manual compact()
    auto_compact_files: Optional[int] = None
    # [storage] backend: "grace" (default — versioned prefixes + pointer
    # flip with a 1-publish reader grace window, store/storage.py
    # grace_local_storage; required for any engine serving reads
    # concurrently with compaction) | "local" (rename-based POSIX swaps,
    # leaner, single-threaded embedded use only — an in-flight reader
    # can lose files to a compaction publish)
    storage_backend: str = "grace"
    # [storage] gc_grace_versions for the grace/object backends: how many
    # superseded copies each publish spares for in-flight readers
    gc_grace_versions: int = 1
    # [engine] compaction_interval (reference config/prod.toml:20):
    # opportunistic periodic compaction — writes/reads trigger a sweep
    # once the interval (seconds) has elapsed; None = off
    compaction_interval: Optional[int] = None
    # [engine] memtable capacity in rows: fill_factor * event_per_zone *
    # shard_count (reference shard/context.rs:83 — per-shard capacity is
    # fill_factor * event_per_zone; this engine's single memtable stands
    # in for all shards' combined). Crossing it fires an ASYNC flush
    # (insert_and_maybe_flush parity); 4x it is the hard admission bound
    # writers block at. None = explicit/periodic FLUSH only.
    memtable_capacity: Optional[int] = None
    # [extensions] — this engine's opt-in extension flags (not reference
    # keys): approx sketches for 100 TB cardinality/percentile work,
    # time-sliced sequence matching for hot link keys, multi-link chains
    approx_count_unique: bool = False
    approx_percentiles: bool = False
    sequence_slices: int = 0
    multi_link: bool = False
    # [schema] allow_core_shadow: accept payload fields named after core
    # columns (timestamp/event_id/...) by storing them under
    # "payload_<name>" — reference-compat for scenarios whose payloads
    # shadow core names; default keeps the loud reserved-field rejection
    allow_core_shadow: bool = False


def _parse_week_start(value: str) -> str:
    v = value.strip().lower()
    return _WEEKDAYS.get(v[:3], v)


def load_config(path_or_dict) -> EngineConfig:
    """Load an EngineConfig from a TOML file path or a parsed dict."""
    if isinstance(path_or_dict, dict):
        doc = path_or_dict
    else:
        with open(path_or_dict, "rb") as f:
            doc = tomllib.load(f)

    cfg = EngineConfig()
    engine = doc.get("engine", {})
    if "data_dir" in engine:
        cfg.data_dir = engine["data_dir"]
    cfg.compaction_interval = int(engine.get("compaction_interval") or 0) or None
    # memtable capacity from the reference's sizing keys, only when the
    # config opts in by naming any of them (a bare config keeps the
    # library default: no capacity, explicit FLUSH owns the cadence)
    if any(
        k in engine for k in ("fill_factor", "event_per_zone", "shard_count")
    ):
        cfg.memtable_capacity = (
            int(engine.get("fill_factor", 4))
            * int(engine.get("event_per_zone", 8000))
            * int(engine.get("shard_count", 8))
        ) or None

    t = doc.get("time", {})
    cfg.time = TimeConfig(
        mode="calendar" if t.get("use_calendar_bucketing", True) else "naive",
        timezone=t.get("timezone", "UTC"),
        week_start=_parse_week_start(t.get("week_start", "Mon")),
    )

    if "auth" in doc:
        a = doc["auth"]
        cfg.auth = AuthConfig(
            bypass_auth=a.get("bypass_auth", False),
            initial_admin_user=a.get("initial_admin_user"),
            initial_admin_key=a.get("initial_admin_key"),
            session_token_expiry_seconds=a.get("session_token_expiry_seconds", 300),
            rate_limit_enabled=a.get("rate_limit_enabled", True),
            rate_limit_per_second=a.get("rate_limit_per_second", 10),
        )

    w = doc.get("wal", {})
    cfg.wal = w.get("enabled", True)
    if w.get("conservative_mode", False):
        cfg.wal_archive_dir = w.get("archive_dir") or (cfg.data_dir + "/wal_archive")

    st = doc.get("storage", {})
    cfg.bloom_filters = st.get("bloom_filters", True)
    cfg.auto_compact_files = st.get("auto_compact_files") or None
    cfg.storage_backend = st.get("backend", "grace")
    if cfg.storage_backend not in ("grace", "local"):
        raise ValueError(
            f"[storage] backend must be 'grace' or 'local', got {cfg.storage_backend!r}"
        )
    cfg.gc_grace_versions = int(st.get("gc_grace_versions", 1))

    ext = doc.get("extensions", {})
    cfg.approx_count_unique = ext.get("approx_count_unique", False)
    cfg.approx_percentiles = ext.get("approx_percentiles", False)
    cfg.sequence_slices = int(ext.get("sequence_slices", 0))
    cfg.multi_link = ext.get("multi_link", False)

    sc = doc.get("schema", {})
    cfg.allow_core_shadow = sc.get("allow_core_shadow", False)

    p = doc.get("playground", {})
    cfg.playground = PlaygroundConfig(
        enabled=p.get("enabled", True),
        allow_unauthenticated=p.get("allow_unauthenticated", False),
    )

    s = doc.get("server", {})
    cfg.server = ServerConfig(
        tcp_addr=s.get("tcp_addr"),
        http_addr=s.get("http_addr"),
        ws_addr=s.get("ws_addr"),
        socket_path=s.get("socket_path"),
        output_format=s.get("output_format", "json"),
        backpressure_threshold=int(s.get("backpressure_threshold", 90)),
    )
    return cfg


def create_engine(spark: SparkSession, config) -> SnelDB:
    """Build a SnelDB from a TOML path / dict / EngineConfig."""
    cfg = config if isinstance(config, EngineConfig) else load_config(config)
    auth = None
    if cfg.auth is not None:
        import os

        auth = AuthManager(
            path=os.path.join(cfg.data_dir, "auth.json"), config=cfg.auth
        )
    if cfg.storage_backend == "grace":
        from sneldb_spark.store.storage import grace_local_storage

        # served engines run reads concurrently with FLUSH/compaction:
        # publish must keep the superseded segment copy readable for
        # in-flight plans (see grace_local_storage docstring)
        storage = grace_local_storage(
            cfg.data_dir, gc_grace_versions=cfg.gc_grace_versions
        )
    else:
        # explicit [storage] backend = "local" opt-in: the leaner
        # rename-publish swap for single-threaded scratch use (the
        # engine default is grace — see SnelDB.__init__)
        from sneldb_spark.store.storage import LOCAL

        storage = LOCAL
    return SnelDB(spark, cfg.data_dir, time_config=cfg.time, auth=auth, wal=cfg.wal,
                  storage=storage,
                  wal_archive_dir=cfg.wal_archive_dir,
                  bloom_filters=cfg.bloom_filters,
                  auto_compact_files=cfg.auto_compact_files,
                  compaction_interval=cfg.compaction_interval,
                  approx_count_unique=cfg.approx_count_unique,
                  approx_percentiles=cfg.approx_percentiles,
                  sequence_slices=cfg.sequence_slices,
                  multi_link=cfg.multi_link,
                  allow_core_shadow=cfg.allow_core_shadow,
                  memtable_capacity=cfg.memtable_capacity)


def serve(engine: SnelDB, cfg: EngineConfig) -> list:
    """Start every frontend named in [server]; returns started servers."""
    servers = []
    if cfg.server.tcp_addr:
        from sneldb_spark.server import SnelDBServer

        host, _, port = cfg.server.tcp_addr.rpartition(":")
        servers.append(
            SnelDBServer(
                engine, host or "127.0.0.1", int(port),
                output_format=cfg.server.output_format,
                backpressure_threshold=cfg.server.backpressure_threshold,
            ).start()
        )
    if cfg.server.http_addr:
        from sneldb_spark.http_server import SnelDBHttpServer

        host, _, port = cfg.server.http_addr.rpartition(":")
        servers.append(
            SnelDBHttpServer(
                engine,
                host or "127.0.0.1",
                int(port),
                playground_enabled=cfg.playground.enabled,
                playground_allow_unauthenticated=cfg.playground.allow_unauthenticated,
                backpressure_threshold=cfg.server.backpressure_threshold,
            ).start()
        )
    if cfg.server.ws_addr:
        from sneldb_spark.ws_server import SnelDBWsServer

        host, _, port = cfg.server.ws_addr.rpartition(":")
        servers.append(
            SnelDBWsServer(
                engine, host or "127.0.0.1", int(port),
                output_format=cfg.server.output_format,
                backpressure_threshold=cfg.server.backpressure_threshold,
            ).start()
        )
    if cfg.server.socket_path:
        from sneldb_spark.server import SnelDBUnixServer

        servers.append(
            SnelDBUnixServer(
                engine, cfg.server.socket_path,
                output_format=cfg.server.output_format,
                backpressure_threshold=cfg.server.backpressure_threshold,
            ).start()
        )
    return servers


def serve_main(argv: Optional[list] = None) -> int:
    """Console entry (`sneldb-server`): load a TOML config, boot a local
    SparkSession, start every configured frontend, and serve until
    SIGINT/SIGTERM — the counterpart of the reference's `sneldb serve
    <config>` binary (src/main.rs). Flags override the file so a bare
    `sneldb-server --tcp 127.0.0.1:7070 --data-dir ./db` needs no file
    at all."""
    import argparse
    import signal
    import threading

    ap = argparse.ArgumentParser(
        prog="sneldb-server", description="Run the SnelDB-Spark server"
    )
    ap.add_argument("config", nargs="?", help="TOML config path")
    ap.add_argument("--data-dir", help="engine root (overrides [engine] data_dir)")
    ap.add_argument("--tcp", help="host:port (overrides [server] tcp_addr)")
    ap.add_argument("--http", help="host:port (overrides [server] http_addr)")
    ap.add_argument("--ws", help="host:port (overrides [server] ws_addr)")
    ap.add_argument("--unix", help="socket path (overrides [server] socket_path)")
    ap.add_argument("--master", default=None, help="Spark master (default local[*])")
    args = ap.parse_args(argv)

    cfg = load_config(args.config) if args.config else EngineConfig()
    if args.data_dir:
        cfg.data_dir = args.data_dir
    if args.tcp:
        cfg.server.tcp_addr = args.tcp
    if args.http:
        cfg.server.http_addr = args.http
    if args.ws:
        cfg.server.ws_addr = args.ws
    if args.unix:
        cfg.server.socket_path = args.unix
    if not (cfg.server.tcp_addr or cfg.server.http_addr or cfg.server.ws_addr
            or cfg.server.socket_path):
        ap.error("no frontend configured: pass --tcp/--http/--ws/--unix "
                 "or a config with a [server] section")

    from sneldb_spark.session import get_spark

    spark = get_spark(app_name="sneldb-server",
                      **({"master": args.master} if args.master else {}))
    engine = create_engine(spark, cfg)
    servers = serve(engine, cfg)
    for s in servers:
        host, port = getattr(s, "address", (None, None))
        kind = type(s).__name__.replace("SnelDB", "").replace("Server", "") or "tcp"
        print(f"serving {kind or 'tcp'} on {host}:{port}"
              if host else f"serving {type(s).__name__}")
    done = threading.Event()
    signal.signal(signal.SIGINT, lambda *_: done.set())
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    done.wait()
    for s in servers:
        s.stop()
    return 0
