"""REMEMBER decides a materialization's refresh shape once, recorded by
the manifest keys it writes; SHOW dispatches on it. Covers the
engine-flag guard, manifests written without the newer keys, and the
Spark job trail of the partial-state shapes (plain aggregate, COMPARE,
sequence aggregate)."""

import json

import pytest

from sneldb_spark.errors import MaterializationError


def _ticking_engine(spark, root, **kw):
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    return SnelDB(spark, root, clock=tick, **kw)


def test_count_unique_state_refuses_other_approx_engine(spark, tmp_path):
    """COUNT UNIQUE state is an exact value set or an HLL sketch by
    approx_count_unique; SHOW on an engine with the other setting
    refuses before any write, naming the flag, and the materialization
    stays exact for an engine with the recorded setting."""
    from sneldb_spark.engine import SnelDB

    root = str(tmp_path / "db")
    q = "QUERY sale COUNT UNIQUE amount BY country"
    db = SnelDB(spark, root)
    db.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    db.execute('STORE sale FOR a PAYLOAD { "amount": 1, "country": "NL" }')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS uniq")
    db.close()

    approx = SnelDB(spark, root, approx_count_unique=True)
    approx.execute('STORE sale FOR b PAYLOAD { "amount": 2, "country": "NL" }')
    approx.execute("FLUSH")
    manifest = approx.materializer._manifest_path("uniq")
    before = open(manifest).read()
    with pytest.raises(MaterializationError, match="approx_count_unique"):
        approx.execute("SHOW uniq")
    assert open(manifest).read() == before
    approx.close()

    exact = SnelDB(spark, root)
    got = {r["country"]: r["count_unique_amount"]
           for r in exact.execute("SHOW uniq").df.collect()}
    assert got == {"NL": 2}


_SHAPES = {
    "segments": "QUERY visit WHERE v >= 0",
    "retained": "QUERY visit WHERE v >= 0",  # REMEMBERed with max_rows=5
    "sequence": "QUERY visit FOLLOWED BY buy LINKED BY u",
    "aggregate": "QUERY visit COUNT, TOTAL v BY k",
    "sequence_aggregate": "QUERY visit FOLLOWED BY buy LINKED BY u COUNT BY k",
    "compare": "PLOT COUNT OF buy VS COUNT OF visit BREAKDOWN BY k",
    "recompute": "QUERY visit COUNT BY k LIMIT 2",
}
_SHAPE_OF = {
    "segments": "segments",
    "retained": "retained",
    "sequence": "sequence",
    "aggregate": "partial",
    "sequence_aggregate": "partial",
    "compare": "partial",
    "recompute": "recompute",
}


def _feed(db, visits: int, buys: int, start: int):
    for i in range(visits):
        db.execute(
            f'STORE visit FOR c{start + i} PAYLOAD '
            f'{{ "u": "u{start + i}", "k": {i % 3}, "v": {i} }}'
        )
    for i in range(buys):
        db.execute(
            f'STORE buy FOR c{start + i} PAYLOAD '
            f'{{ "u": "u{start + i}", "k": {i % 3} }}'
        )
    db.execute("FLUSH")


def _define(db):
    db.execute('DEFINE visit FIELDS { "u": "string", "k": "int", "v": "int" }')
    db.execute('DEFINE buy FIELDS { "u": "string", "k": "int" }')


def _rows(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_manifest_without_new_keys_still_refreshes(spark, tmp_path, shape):
    """A manifest written before REMEMBER recorded `approx_count_unique`
    is classified from the keys it has, and SHOW after ingest equals
    the direct query."""
    from sneldb_spark.store.materialize import shape_of

    from pyspark.sql import functions as F

    from sneldb_spark.commands.parser import parse_command

    q = _SHAPES[shape]
    db = _ticking_engine(spark, str(tmp_path / "db"))
    _define(db)
    _feed(db, 6, 3, 0)
    if shape == "retained":
        db.materializer.remember("old", parse_command(q), max_rows=5)
    else:
        db.execute(f"REMEMBER {q} AS old")
    path = db.materializer._manifest_path("old")
    manifest = json.load(open(path))
    manifest.pop("approx_count_unique", None)
    with open(path, "w") as f:
        json.dump(manifest, f)
    assert shape_of(manifest) == _SHAPE_OF[shape]

    _feed(db, 4, 4, 100)
    direct = db.execute(q).df
    if shape == "retained":
        direct = direct.orderBy(
            F.col("timestamp").desc(), F.col("event_id").desc()
        ).limit(5)
    assert _rows(db.execute("SHOW old").df) == _rows(direct)
    assert db.materializer.quiesce("old") == []


# Spark jobs per REMEMBER and per SHOW (with collect) under the caller's
# job group, which the materializer's concurrent-write worker threads
# carry too, so every job the call runs is counted. When each shape kept
# its own remember/refresh method these were 7/8, 12/15 and 11/13.
_JOB_TRAIL = {
    "aggregate": (7, 8),
    "compare": (12, 15),
    "sequence_aggregate": (10, 13),
}


@pytest.mark.parametrize("shape", sorted(_JOB_TRAIL))
def test_partial_state_job_trail(spark, tmp_path, shape):
    q = _SHAPES[shape]
    sc = spark.sparkContext
    db = _ticking_engine(spark, str(tmp_path / "db"))
    _define(db)
    _feed(db, 40, 20, 0)

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    remember = jobs(f"{tmp_path}-remember", lambda: db.execute(f"REMEMBER {q} AS m"))
    _feed(db, 10, 10, 100)
    shown = []
    show = jobs(
        f"{tmp_path}-show",
        lambda: shown.extend(db.execute("SHOW m").df.collect()),
    )
    assert _rows(db.execute(q).df) == sorted(
        repr(sorted(r.asDict().items())) for r in shown
    )
    assert (remember, show) != (0, 0)  # the group did capture the jobs
    assert remember <= _JOB_TRAIL[shape][0] and show <= _JOB_TRAIL[shape][1]
