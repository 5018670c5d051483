"""Result delivery (response.py): a frame streamed to its end records its
row count, and a later delivery of the same object within ONE_JOB_ROWS
fetches with one collect — one Spark job instead of one per partition —
with the same frames. SHOW hands out the same stored-result frame while
its files are unchanged (Materializer._stored_frame), so the rule reaches
SHOW too."""

import io
import json

import pyarrow as pa
import pytest

from sneldb_spark.commands.parser import parse_command
from sneldb_spark.engine import SnelDB
from sneldb_spark.errors import ParseError, ValidationError
from sneldb_spark.response import ONE_JOB_ROWS, arrow_ipc_frames, json_frames
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
    assert rows > 0 and df.__sneldb_rows__ == rows <= ONE_JOB_ROWS
    again = db.execute(text).df
    assert again is df  # the plan cache, or SHOW's stored-result reuse
    a2, jobs = _jobs(spark, f"{tmp_path}-arrow", lambda: _arrow(again))
    assert a2 == a1 and jobs == 1  # no schema job, no per-partition jobs

    jdf = _fresh(db, text)
    assert not hasattr(jdf, "__sneldb_rows__")
    first = list(json_frames(jdf, batch_size=4))
    assert sum(_strict(f).get("row_count", 0) for f in first[1:-1]) == rows
    second, jobs = _jobs(spark, f"{tmp_path}-json",
                         lambda: list(json_frames(jdf, batch_size=4)))
    assert second == first and jobs == 1


def test_jobs_per_delivery(spark, tmp_path):
    db = _db(spark, str(tmp_path / "db"))
    df = db.execute("QUERY t").df
    parts = df.rdd.getNumPartitions()  # segment files + memtable slices
    assert parts > 1
    deliver = lambda: list(json_frames(df))  # noqa: E731
    first, jobs1 = _jobs(spark, f"{tmp_path}-1", deliver)
    second, jobs2 = _jobs(spark, f"{tmp_path}-2", deliver)
    assert (jobs1, jobs2) == (parts, 1) and second == first

    show = lambda: list(json_frames(db.execute("SHOW m").df))  # noqa: E731
    first, jobs1 = _jobs(spark, f"{tmp_path}-s1", show)
    second, jobs2 = _jobs(spark, f"{tmp_path}-s2", show)
    # the first SHOW also infers the stored Parquet schema (a job)
    assert (jobs1, jobs2) == (2, 1) and second == first


@pytest.mark.parametrize("n,second_jobs", [(ONE_JOB_ROWS, 1), (ONE_JOB_ROWS + 1, 3)])
def test_the_bound_decides_the_path(spark, tmp_path, n, second_jobs):
    df = spark.range(0, n, 1, 3)
    deliver = lambda: list(json_frames(df))  # noqa: E731
    first, jobs1 = _jobs(spark, f"{tmp_path}-1", deliver)
    second, jobs2 = _jobs(spark, f"{tmp_path}-2", deliver)
    third, jobs3 = _jobs(spark, f"{tmp_path}-3", deliver)
    assert df.__sneldb_rows__ == n
    assert (jobs1, jobs2, jobs3) == (3, second_jobs, second_jobs)
    assert first == second == third


def test_abandoned_stream_records_nothing(spark, tmp_path):
    db = _db(spark, str(tmp_path / "db"))
    df = db.execute("QUERY t").df
    parts = df.rdd.getNumPartitions()
    frames = json_frames(df, batch_size=1)
    next(frames), next(frames)  # schema and the first row
    frames.close()
    assert not hasattr(df, "__sneldb_rows__")
    whole, jobs = _jobs(spark, f"{tmp_path}-1", lambda: list(json_frames(df)))
    assert jobs == parts > 1 and df.__sneldb_rows__ == _strict(whole[-1])["row_count"]


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
    assert not hasattr(df, "__sneldb_rows__")
    assert db.materializer.quiesce("ev") == []


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
