"""Prepared read plans (plans/prepared.py): a repeated read command reuses
its compiled DataFrame while the event types it reads are unchanged, and
rebuilds after any write that changes what a fresh compile would read."""

import json
import socket
import sys
import threading

import pytest

from sneldb_spark.auth import AuthConfig, AuthError, AuthManager
from sneldb_spark.commands.parser import parse_command
from sneldb_spark.engine import SnelDB
from sneldb_spark.plans import prepared
from sneldb_spark.plans.compiler import QueryCompiler


@pytest.fixture()
def compiles(monkeypatch):
    """Count QueryCompiler.compile calls (the miss path's only compile)."""
    calls = []
    real = QueryCompiler.compile

    def spy(self, cmd, upper=None):
        calls.append(cmd)
        return real(self, cmd, upper=upper)

    monkeypatch.setattr(QueryCompiler, "compile", spy)
    return calls


def _db(spark, root, **kw):
    clock = {"now": 1_700_000_000}
    db = SnelDB(spark, root, clock=lambda: clock["now"], **kw)
    db._test_clock = clock
    db.execute('DEFINE t FIELDS { "a": "int", "s": "string" }')
    for batch in (range(3), range(3, 5)):  # two flushes: two segment files
        for i in batch:
            db.execute(f'STORE t FOR c{i % 2} PAYLOAD {{ "a": {i}, "s": "x{i}" }}')
        db.execute("FLUSH")
    return db


def _rows(df):
    return sorted(
        (tuple(sorted(r.asDict().items(), key=lambda kv: kv[0])) for r in df.collect()),
        key=repr,
    )


def test_repeat_is_a_hit_and_returns_the_same_frame(spark, tmp_path, compiles):
    db = _db(spark, str(tmp_path / "db"))
    first = db.execute("QUERY t WHERE a >= 1")
    assert len(compiles) == 1
    # a case and whitespace variant parses to the same command
    second = db.execute("query   t  WHERE a >= 1")
    assert len(compiles) == 1 and second.df is first.df
    assert db.query("QUERY t WHERE a >= 1") is first.df
    assert (db.plan_cache.hits, db.plan_cache.misses) == (2, 1)
    assert _rows(second.df) == _rows(first.df)
    assert list(db.plan_cache.reasons().values()) == [prepared.NEW]


def _append(db, spark):
    struct = db.store.registry.get("t").spark_struct
    row = {f.name: None for f in struct.fields}
    row.update(context_id="c9", event_type="t", timestamp=1_700_000_100,
               event_id=1 << 40, a=99, s="bulk")
    db.store.append_dataframe("t", spark.createDataFrame([row], schema=struct))


def _newer_engine(db, spark):
    other = SnelDB(spark, db.root, clock=lambda: 1_700_000_200)
    other.execute('STORE t FOR c7 PAYLOAD { "a": 70, "s": "newer" }')
    other.execute("FLUSH")


WRITES = {
    "none": ("QUERY t WHERE a >= 1", lambda db, spark: None),
    "store_pending": (
        "QUERY t WHERE a >= 1",
        lambda db, spark: db.execute('STORE t FOR c5 PAYLOAD { "a": 50, "s": "p" }'),
    ),
    "flush": ("QUERY t WHERE a >= 1", lambda db, spark: db.execute("FLUSH")),
    "append_dataframe": ("QUERY t WHERE a >= 1", _append),
    "compact": ("QUERY t WHERE a >= 1", lambda db, spark: db.store.compact("t")),
    "compact_concurrent": (
        "QUERY t WHERE a >= 1",
        lambda db, spark: db.store._compact_concurrent("t"),
    ),
    "define_new_version": (
        "QUERY t WHERE a >= 1",
        lambda db, spark: db.execute(
            'DEFINE t AS 2 FIELDS { "a": "int", "s": "string", "extra": "string" }'
        ),
    ),
    "define_new_type_replay_star": (
        "REPLAY FOR c1",
        lambda db, spark: (
            db.execute('DEFINE u FIELDS { "b": "int" }'),
            db.execute('STORE u FOR c1 PAYLOAD { "b": 1 }'),
        ),
    ),
    "newer_engine": ("QUERY t WHERE a >= 1", _newer_engine),
}


@pytest.mark.parametrize("write", sorted(WRITES))
def test_every_write_path_invalidates(spark, tmp_path, compiles, write):
    text, do_write = WRITES[write]
    db = _db(spark, str(tmp_path / "db"))
    # a STORE left pending, so FLUSH moves rows from memtable to a file
    db.execute('STORE t FOR c1 PAYLOAD { "a": 7, "s": "pending" }')
    before = _rows(db.execute(text).df)
    n = len(compiles)
    do_write(db, spark)
    again = db.execute(text).df
    fresh = db.compiler.compile(parse_command(text))
    assert _rows(again) == _rows(fresh)
    assert again.columns == fresh.columns
    if write == "none":
        assert len(compiles) == n + 1  # only the cache-free compile above
        assert _rows(again) == before
    else:
        assert len(compiles) == n + 2  # the rebuild, then the cache-free one
        assert again is not fresh


def test_store_to_another_type_keeps_the_entry(spark, tmp_path, compiles):
    db = _db(spark, str(tmp_path / "db"))
    db.execute('DEFINE click FIELDS { "k": "string" }')
    db.execute('DEFINE purchase FIELDS { "k": "string", "v": "int" }')
    db.execute('STORE purchase FOR c1 PAYLOAD { "k": "a", "v": 1 }')
    db.execute("FLUSH")
    text = "QUERY purchase COUNT BY k"
    first = db.execute(text).df
    n = len(compiles)
    db.execute('STORE click FOR c1 PAYLOAD { "k": "b" }')
    db.execute("FLUSH")
    assert db.execute(text).df is first and len(compiles) == n
    db.execute('STORE purchase FOR c2 PAYLOAD { "k": "b", "v": 2 }')
    assert db.execute(text).df is not first and len(compiles) == n + 1
    assert db.plan_cache.reasons()[repr(parse_command(text))] == prepared.CHANGED


def test_lru_bound_evicts_the_oldest(spark, tmp_path, compiles):
    db = _db(spark, str(tmp_path / "db"))
    texts = [f"QUERY t WHERE a = {i}" for i in range(prepared.CAPACITY + 1)]
    for text in texts:
        db.query(text)
    assert db.plan_cache.evictions == 1
    assert len(db.plan_cache.reasons()) == prepared.CAPACITY
    n = len(compiles)
    db.query(texts[-1])  # most recent: still a hit
    assert len(compiles) == n
    db.query(texts[0])  # the first one was evicted: rebuilds
    assert len(compiles) == n + 1
    assert db.plan_cache.reasons()[repr(parse_command(texts[0]))] == prepared.EVICTED


def test_periodic_compaction_fires_on_hits(spark, tmp_path, compiles):
    db = _db(spark, str(tmp_path / "db"), compaction_interval=60)
    db.store._PERIODIC_COMPACT_MIN_FILES = 1  # the two flushed files qualify
    enqueued = []
    db.store._enqueue_compact = enqueued.append
    db.query("QUERY t WHERE a >= 0")
    n = len(compiles)
    assert enqueued == []  # interval not elapsed yet
    db._test_clock["now"] += 61
    db.query("QUERY t WHERE a >= 0")
    assert len(compiles) == n  # a hit: no compile, no EventStore.read
    assert enqueued == ["t"]


def test_concurrent_clients_share_one_entry(spark, tmp_path):
    from sneldb_spark.server import SnelDBServer

    db = _db(spark, str(tmp_path / "db"))
    text = "QUERY t WHERE a >= 1 COUNT BY s"
    db.execute(text)  # cached before the clients start
    server = SnelDBServer(db).start()
    replies: dict[int, list] = {0: [], 1: []}

    def client(cid):
        with socket.create_connection(server.address, timeout=60) as sock:
            f = sock.makefile("rwb")
            for _ in range(20):
                f.write((text + "\n").encode())
                f.flush()
                rows, errors = [], []
                while True:
                    frame = json.loads(f.readline())
                    if frame.get("type") == "batch":
                        rows += frame["rows"]
                    elif frame.get("type") == "end":
                        break
                    elif frame.get("type") != "schema":
                        errors.append(frame)
                        break
                replies[cid].append((sorted(map(tuple, rows)), errors))

    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in (0, 1)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        server.stop()
    got = replies[0] + replies[1]
    assert len(got) == 40
    expected = sorted(map(tuple, (list(r) for r in db.compiler.compile(
        parse_command(text)).collect())))
    assert all(errors == [] for _, errors in got)
    assert all(rows == expected for rows, _ in got)
    assert db.plan_cache.hits == 40 and db.plan_cache.misses == 1


def test_threads_sharing_the_cache_lose_no_update(spark, tmp_path):
    db = _db(spark, str(tmp_path / "db"))
    texts = [f"QUERY t WHERE a >= {i}" for i in range(3)]
    got: list = []
    errors: list = []

    def worker():
        try:
            for i in range(30):
                text = texts[i % 3]
                got.append((text, db.query(text)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(prev)
    assert not any(th.is_alive() for th in threads) and errors == []
    pc = db.plan_cache
    assert len(got) == 240 and pc.hits + pc.misses == 240
    # every miss compiled a new frame and every hit returned one of them
    assert len({id(df) for _, df in got}) == pc.misses
    # no writes: at most one racing first compile per thread and text
    assert pc.misses <= 3 * 8 and len(pc.reasons()) == 3
    for text in texts:
        cached = db.query(text)
        assert any(df is cached for t, df in got if t == text)


# -- read permission over the whole read set ---------------------------------

ADMIN = "admin"


@pytest.fixture()
def auth_db(spark, tmp_path):
    auth = AuthManager(
        path=str(tmp_path / "auth.json"),
        config=AuthConfig(bypass_auth=False, initial_admin_user=ADMIN,
                          initial_admin_key="ak"),
    )
    db = SnelDB(spark, str(tmp_path / "db"), auth=auth)
    db.execute('DEFINE open FIELDS { "k": "string" }', user_id=ADMIN)
    db.execute('DEFINE secret FIELDS { "k": "string" }', user_id=ADMIN)
    for et in ("open", "secret"):
        db.execute(f'STORE {et} FOR c1 PAYLOAD {{ "k": "a" }}', user_id=ADMIN)
    db.execute('CREATE USER bob WITH KEY "bk"', user_id=ADMIN)
    db.execute("GRANT READ ON open TO bob", user_id=ADMIN)
    return db


DENIED = {
    "query_sequence_link": "QUERY open FOLLOWED BY secret LINKED BY context_id",
    "replay_typed": "REPLAY secret FOR c1",
    "replay_all_types": "REPLAY FOR c1",
    "compare": "PLOT COUNT OF open VS COUNT OF secret BREAKDOWN BY k",
    "plot": "PLOT COUNT OF secret OVER day(timestamp)",
    "explain_replay": "EXPLAIN REPLAY FOR c1",
}


@pytest.mark.parametrize("kind", sorted(DENIED))
def test_read_permission_covers_the_read_set(auth_db, kind):
    text = DENIED[kind]
    # the admin's run caches the plan; bob's lookup must still be refused
    assert auth_db.execute(text, user_id=ADMIN).ok
    with pytest.raises(AuthError, match="403 Read permission denied for event type 'secret'"):
        auth_db.execute(text, user_id="bob")
    auth_db.execute("GRANT READ ON secret TO bob", user_id=ADMIN)
    assert auth_db.execute(text, user_id="bob").ok
    with pytest.raises(AuthError, match="401"):
        auth_db.execute(text)


@pytest.mark.parametrize("text", [
    "QUERY open FOLLOWED BY secret LINKED BY context_id",
    "QUERY open WHERE k = \"a\"",
    "QUERY open FOR c1",
    "QUERY open ORDER BY timestamp DESC LIMIT 1",
    "REPLAY FOR c1",
    "REPLAY secret FOR c1",
    "PLOT COUNT OF open VS COUNT OF secret OVER day(timestamp)",
])
def test_checked_types_cover_the_recorded_reads(auth_db, text):
    cmd = parse_command(text)
    auth_db.execute("FLUSH", user_id=ADMIN)
    with auth_db.store.recording_reads() as sigs:
        auth_db.compiler.compile(cmd)
    assert sigs and set(sigs) <= set(auth_db._read_types(cmd))
