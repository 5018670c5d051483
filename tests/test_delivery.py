"""Result delivery (response.py): a frame streamed to its end with at most
ONE_JOB_ROWS rows keeps them, and a later delivery of the same object
replays them — zero Spark jobs — with byte-equal frames. SHOW hands out
the same stored-result frame while its files are unchanged
(Materializer._stored_frame), so the rule reaches SHOW too. All memos
together keep at most MEMO_ROWS rows; past it the least recently
delivered one is dropped."""

import io
import json

import pyarrow as pa
import pytest

from sneldb_spark.commands.parser import parse_command
from sneldb_spark.engine import SnelDB
from sneldb_spark.errors import ParseError, ValidationError
from sneldb_spark import response
from sneldb_spark.plans.prepared import CAPACITY
from sneldb_spark.response import (
    MEMO_ROWS,
    ONE_JOB_ROWS,
    STREAMING_BATCH_SIZE,
    arrow_ipc_frames,
    json_frames,
)
from sneldb_spark.store.storage import LOCAL, grace_local_storage

SEQ = "QUERY t FOLLOWED BY u LINKED BY context_id"
CLASSES = {
    "scan": "QUERY t WHERE a >= 1",
    "agg": "QUERY t COUNT BY s",
    "replay": "REPLAY FOR c1",
    "point": "QUERY t FOR c1",
    "sequence": SEQ,
    "plot": "PLOT COUNT OF t VS COUNT OF u OVER day(timestamp)",
    "show": "SHOW m",
}


def _db(spark, root, storage=None):
    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, root, clock=tick, storage=storage)
    db.execute('DEFINE t FIELDS { "a": "int", "s": "string" }')
    db.execute('DEFINE u FIELDS { "b": "int" }')
    for batch in (range(6), range(6, 10)):  # two flushes: two segment files
        for i in batch:
            db.execute(f'STORE t FOR c{i % 3} PAYLOAD {{ "a": {i}, "s": "x{i % 4}" }}')
            db.execute(f'STORE u FOR c{i % 3} PAYLOAD {{ "b": {i} }}')
        db.execute("FLUSH")
    for i in range(10, 14):  # memtable rows: the frame unions them in
        db.execute(f'STORE t FOR c{i % 3} PAYLOAD {{ "a": {i}, "s": "m" }}')
    db.execute("REMEMBER QUERY t COUNT BY s AS m")
    return db


def _jobs(spark, group, fn):
    """(fn(), the number of Spark jobs it ran) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _strict(frame: str):
    def reject(token):
        raise ValueError(f"non-JSON token {token}")

    return json.loads(frame, parse_constant=reject)


def _arrow(df) -> bytes:
    return b"".join(arrow_ipc_frames(df))


def _fresh(db, text):
    """A frame for `text` that no delivery has seen: a cache-free compile,
    or for SHOW a rebuilt stored-result frame."""
    if text.startswith("SHOW"):
        db.materializer._show_frames.clear()
        return db.execute(text).df
    return db.compiler.compile(parse_command(text))


@pytest.mark.parametrize("cls", sorted(CLASSES))
def test_repeat_delivery_equals_first(spark, tmp_path, cls):
    text = CLASSES[cls]
    db = _db(spark, str(tmp_path / "db"))
    df = db.execute(text).df
    a1 = _arrow(df)
    rows = pa.ipc.open_stream(io.BytesIO(a1)).read_all().num_rows
    assert rows > 0 and len(df.__sneldb_memo__) == rows <= ONE_JOB_ROWS
    again = db.execute(text).df
    assert again is df  # the plan cache, or SHOW's stored-result reuse
    a2, jobs = _jobs(spark, f"{tmp_path}-arrow", lambda: _arrow(again))
    assert a2 == a1 and jobs == 0  # no schema job, no row job
    body, jobs = _jobs(spark, f"{tmp_path}-http", lambda: response.arrow_ipc_bytes(again))
    assert body == a1 and jobs == 0  # the HTTP Arrow body replays too

    jdf = _fresh(db, text)
    assert not hasattr(jdf, "__sneldb_memo__")
    first = list(json_frames(jdf, batch_size=4))
    assert sum(_strict(f).get("row_count", 0) for f in first[1:-1]) == rows
    second, jobs = _jobs(spark, f"{tmp_path}-json",
                         lambda: list(json_frames(jdf, batch_size=4)))
    assert second == first and jobs == 0


def test_jobs_per_delivery(spark, tmp_path):
    db = _db(spark, str(tmp_path / "db"))
    df = db.execute("QUERY t").df
    parts = df.rdd.getNumPartitions()  # segment files + memtable slices
    assert parts > 1
    deliver = lambda: list(json_frames(df))  # noqa: E731
    first, jobs1 = _jobs(spark, f"{tmp_path}-1", deliver)
    second, jobs2 = _jobs(spark, f"{tmp_path}-2", deliver)
    assert (jobs1, jobs2) == (parts, 0) and second == first

    show = lambda: list(json_frames(db.execute("SHOW m").df))  # noqa: E731
    first, jobs1 = _jobs(spark, f"{tmp_path}-s1", show)
    second, jobs2 = _jobs(spark, f"{tmp_path}-s2", show)
    # the first SHOW also infers the stored Parquet schema (a job)
    assert (jobs1, jobs2) == (2, 0) and second == first


@pytest.mark.parametrize("n,second_jobs", [(ONE_JOB_ROWS, 0), (ONE_JOB_ROWS + 1, 3)])
def test_the_bound_decides_the_path(spark, tmp_path, n, second_jobs):
    df = spark.range(0, n, 1, 3)
    deliver = lambda: list(json_frames(df))  # noqa: E731
    first, jobs1 = _jobs(spark, f"{tmp_path}-1", deliver)
    second, jobs2 = _jobs(spark, f"{tmp_path}-2", deliver)
    third, jobs3 = _jobs(spark, f"{tmp_path}-3", deliver)
    # a result over the bound records nothing and streams every time
    assert len(getattr(df, "__sneldb_memo__", ())) == (n if n <= ONE_JOB_ROWS else 0)
    assert (jobs1, jobs2, jobs3) == (3, second_jobs, second_jobs)
    assert first == second == third


def test_abandoned_stream_records_nothing(spark, tmp_path):
    db = _db(spark, str(tmp_path / "db"))
    df = db.execute("QUERY t").df
    parts = df.rdd.getNumPartitions()
    frames = json_frames(df, batch_size=1)
    next(frames), next(frames)  # schema and the first row
    frames.close()
    assert not hasattr(df, "__sneldb_memo__")
    whole, jobs = _jobs(spark, f"{tmp_path}-1", lambda: list(json_frames(df)))
    assert jobs == parts > 1
    assert len(df.__sneldb_memo__) == _strict(whole[-1])["row_count"]


def test_serve_parts_stream_part_by_part(spark, tmp_path, monkeypatch):
    db = _db(spark, str(tmp_path / "db"))
    db.execute("REMEMBER QUERY t AS ev")
    db.execute('STORE t FOR c9 PAYLOAD { "a": 99, "s": "late" }')
    df = db.execute("SHOW ev").df
    parts = df.__sneldb_serve_parts__
    streamed = []
    cls = type(df)
    to_local = cls.toLocalIterator

    def spy(frame, *a, **kw):
        streamed.append(frame)
        return to_local(frame, *a, **kw)

    monkeypatch.setattr(cls, "toLocalIterator", spy)
    first = list(json_frames(df))
    second = list(json_frames(df))
    assert second == first and _strict(first[-1])["row_count"] == 15
    assert [id(f) for f in streamed] == [id(p) for p in parts] * 2
    assert not hasattr(df, "__sneldb_memo__")
    assert db.materializer.quiesce("ev") == []


def test_memo_bound_drops_least_recently_delivered(spark, tmp_path, monkeypatch):
    assert MEMO_ROWS == CAPACITY * STREAMING_BATCH_SIZE
    memos = response._Memos(bound=25)
    monkeypatch.setattr(response, "_MEMOS", memos)
    f1, f2, f3 = (spark.range(i * 10, i * 10 + 10, 1, 2) for i in range(3))
    for f in (f1, f2, f1, f3):  # f1 replays, so f2 is the oldest delivery
        list(json_frames(f))
    assert memos.rows == 20
    assert hasattr(f1, "__sneldb_memo__") and hasattr(f3, "__sneldb_memo__")
    assert not hasattr(f2, "__sneldb_memo__")
    again, jobs = _jobs(spark, f"{tmp_path}-f2", lambda: list(json_frames(f2)))
    assert jobs == 2 and _strict(again[-1])["row_count"] == 10
    assert not hasattr(f1, "__sneldb_memo__") and memos.rows == 20


def test_memo_of_a_collected_frame_is_swept(spark, monkeypatch):
    memos = response._Memos(bound=MEMO_ROWS)
    monkeypatch.setattr(response, "_MEMOS", memos)
    list(json_frames(spark.range(0, 7, 1, 1)))  # the frame dies here
    list(json_frames(spark.range(0, 3, 1, 1)))  # the next record sweeps it
    assert memos.rows == 3


def test_memo_index_holds_under_concurrent_deliveries():
    """Server threads record and replay concurrently: the index's row
    count stays equal to the rows the frames hold, within its bound."""
    import sys
    import threading

    class Frame:  # what _Memos touches of a DataFrame: attributes, weakrefs
        pass

    memos = response._Memos(bound=50)
    frames = [Frame() for _ in range(20)]

    def deliver(seed):
        for i in range(300):
            f = frames[(seed * 7 + i) % len(frames)]
            if memos.replay(f) is None:
                memos.record(f, tuple(range((seed + i) % 9)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [threading.Thread(target=deliver, args=(n,)) for n in range(8)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers)
    held = [f for f in frames if hasattr(f, "__sneldb_memo__")]
    assert memos.rows == sum(len(f.__sneldb_memo__) for f in held) <= memos.bound
    assert {id(f) for f in held} == set(memos._order)


def test_write_hands_out_a_new_frame(spark, tmp_path):
    db = _db(spark, str(tmp_path / "db"))
    df = db.execute("QUERY t").df
    first = list(json_frames(df))
    assert db.execute("QUERY t").df is df and list(json_frames(df)) == first
    db.execute('STORE t FOR c9 PAYLOAD { "a": 99, "s": "late" }')
    fresh = db.execute("QUERY t").df
    assert fresh is not df and not hasattr(fresh, "__sneldb_memo__")
    after = list(json_frames(fresh))
    assert _strict(after[-1])["row_count"] == _strict(first[-1])["row_count"] + 1


# -- non-finite floats never reach the wire ---------------------------------

@pytest.mark.parametrize("token", ["Infinity", "-Infinity", "NaN"])
def test_store_rejects_non_finite_tokens(spark, tmp_path, token):
    with pytest.raises(ParseError, match=token):
        parse_command(f'STORE t FOR c PAYLOAD {{ "v": {token} }}')
    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE t FIELDS { "v": "f64" }')
    res = db.try_execute(f'STORE t FOR c PAYLOAD {{ "v": {token} }}')
    assert not res.ok and token in res.message


def test_json_frames_write_non_finite_as_null(spark):
    df = spark.createDataFrame(
        [(1, float("inf")), (2, float("-inf")), (3, float("nan")), (4, 1.5)],
        "k long, v double",
    )
    frames = [_strict(f) for f in json_frames(df)]
    rows = sorted(r for f in frames if f["type"] == "batch" for r in f["rows"])
    assert rows == [[1, None], [2, None], [3, None], [4, 1.5]]


@pytest.mark.parametrize(
    "literal", ["1e999", "-1e999", "9" * 400], ids=["inf", "neg_inf", "long_int"]
)
def test_store_rejects_f64_out_of_range(spark, tmp_path, literal):
    """An overflowing numeric literal is valid JSON: it decodes to ±inf,
    or to an int too large for float(). STORE rejects both with a named
    ValidationError, so no non-finite value reaches a stored f64."""
    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE t FIELDS { "v": "f64" }')
    with pytest.raises(ValidationError, match="f64 range"):
        db.execute(f'STORE t FOR c PAYLOAD {{ "v": {literal} }}')
    db.execute('STORE t FOR c PAYLOAD { "v": 1.5 }')
    assert [r["total_v"] for r in db.execute("QUERY t TOTAL v").df.collect()] == [1.5]


# -- SHOW's stored-result frame: reused while unchanged, rebuilt after any
#    change; every SHOW equals a fresh QUERY of the same text ---------------

STORAGES = {"local": lambda root: LOCAL, "grace": grace_local_storage}
SHAPES = {
    "segments": "QUERY t WHERE a >= 1",
    "partial": "QUERY t COUNT BY s",
    "sequence": SEQ,
}


def _rows(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


def _show_equals_query(db, name, text):
    db.materializer.quiesce(name)
    shown = db.execute(f"SHOW {name}").df
    assert _rows(shown) == _rows(db.compiler.compile(parse_command(text)))
    return shown


@pytest.mark.parametrize("storage", sorted(STORAGES))
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_show_frame_follows_every_change(spark, tmp_path, storage, shape):
    root = str(tmp_path / "db")
    db = _db(spark, root, storage=STORAGES[storage](root))
    text = SHAPES[shape]
    db.execute(f"REMEMBER {text} AS r")
    shown = _show_equals_query(db, "r", text)
    assert db.execute("SHOW r").df is shown  # unchanged: the same object
    list(json_frames(shown))  # delivered: a row count rides on it

    # ingest: the next SHOW refreshes, a later one rebuilds over new files
    for i in range(20, 23):
        db.execute(f'STORE t FOR c{i % 3} PAYLOAD {{ "a": {i}, "s": "late" }}')
        db.execute(f'STORE u FOR c{i % 3} PAYLOAD {{ "b": {i} }}')
    db.execute("SHOW r").df.collect()
    refreshed = _show_equals_query(db, "r", text)
    assert refreshed is not shown
    assert db.execute("SHOW r").df is refreshed

    db.materializer.compact("r")
    compacted = _show_equals_query(db, "r", text)
    if shape != "partial":  # compact() rewrites only segment layouts
        assert compacted is not refreshed

    db.execute("FORGET r")
    assert "r" not in db.materializer._show_frames
    again = "QUERY t WHERE a >= 5 COUNT BY s"
    db.execute(f"REMEMBER {again} AS r")
    reborn = _show_equals_query(db, "r", again)
    assert reborn is not compacted


def test_warm_show_reads_no_footers_and_store_refreshes(spark, tmp_path, monkeypatch):
    """EventStore.source_hwm keeps its last answer per type while the read
    signature holds: repeated SHOWs read no Parquet footers, and a STORE
    (a new pending generation) forces a fresh probe and a refresh."""
    from sneldb_spark.store import topk_prune

    db = _db(spark, str(tmp_path / "db"))
    probes = []
    columns_max = topk_prune.columns_max

    def counted(root, *a, **kw):
        probes.append(root)
        return columns_max(root, *a, **kw)

    monkeypatch.setattr(topk_prune, "columns_max", counted)
    text = "QUERY t COUNT BY s"
    _show_equals_query(db, "m", text)
    warm = len(probes)
    for _ in range(3):
        list(json_frames(db.execute("SHOW m").df))
    assert len(probes) == warm

    db.execute('STORE t FOR c1 PAYLOAD { "a": 50, "s": "x0" }')
    _show_equals_query(db, "m", text)
    assert len(probes) == warm + 1
    db.execute("FLUSH")
    _show_equals_query(db, "m", text)
    assert len(probes) == warm + 2
