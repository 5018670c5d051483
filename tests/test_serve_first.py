"""Serve-then-refresh SHOW (reference StoredFrameStreamer parity,
src/command/handlers/show/orchestrator.rs:123-170) and the grace default
for embedded engines.

The contract under test: on the append-only segment shapes (plain /
sequence / chain event results) a stale SHOW returns `stored ∪ delta`
immediately — exact as of the probed high-water mark — while the delta
folds into the stored layout on a background thread. Values must be
exact whether the caller consumes the frame before, during, or after the
fold; lifecycle ops (FORGET, compact) must quiesce the fold first.
"""

import json
import threading
import time

import pytest


def _mk_db(spark, tmp_path, **kw):
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, **kw)
    return db


def _store(db, et, ctx, payload):
    db.execute(f"STORE {et} FOR {ctx} PAYLOAD {json.dumps(payload)}")


def test_serve_first_plain_segments_exact_and_folds(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    for i in range(10):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mp")
    for i in range(10, 16):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")

    df = db.execute("SHOW mp").df
    assert df.count() == 16  # exact before/despite the background fold
    assert db.materializer.quiesce("mp") == []
    # fold landed: manifest advanced, a second SHOW is not stale and
    # serves the folded segments with the same values
    assert not db.materializer.describe("mp")["stale"]
    assert db.execute("SHOW mp").df.count() == 16
    # second delta round folds on top of the first fold's segments
    for i in range(16, 20):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    assert db.execute("SHOW mp").df.count() == 20
    assert db.materializer.quiesce("mp") == []
    assert db.execute("SHOW mp").df.count() == 20


def test_serve_first_sequence_exact_across_fold_rounds(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    for i in range(6):
        _store(db, "signup", f"s{i}", {"user_id": f"u{i}"})
        _store(db, "purchase", f"p{i}", {"user_id": f"u{i}"})
    db.execute("FLUSH")
    db.execute(
        "REMEMBER QUERY signup FOLLOWED BY purchase LINKED BY user_id AS ms"
    )
    for i in range(6, 10):
        _store(db, "signup", f"s{i}", {"user_id": f"u{i}"})
        _store(db, "purchase", f"p{i}", {"user_id": f"u{i}"})
    db.execute("FLUSH")

    served = db.execute("SHOW ms").df
    # the serve frame is self-contained: consuming it AFTER the fold
    # published new state must still give exactly the snapshot values
    assert db.materializer.quiesce("ms") == []
    assert served.count() == 10
    assert db.execute("SHOW ms").df.count() == 10
    # a SHOW with no new data schedules nothing and serves the segments
    assert not db.materializer.describe("ms")["fold_in_flight"]


def test_serve_first_chain_and_forget_quiesces(spark, tmp_path):
    db = _mk_db(spark, tmp_path, multi_link=True)
    for t in ("a", "b", "c"):
        db.execute(f'DEFINE {t} FIELDS {{ "u": "string" }}')
    for i in range(5):
        for t in ("a", "b", "c"):
            _store(db, t, f"x{i}{t}", {"u": f"u{i}"})
    db.execute("FLUSH")
    db.execute(
        "REMEMBER QUERY a FOLLOWED BY b FOLLOWED BY c LINKED BY u AS mc"
    )
    for i in range(5, 8):
        for t in ("a", "b", "c"):
            _store(db, t, f"x{i}{t}", {"u": f"u{i}"})
    db.execute("FLUSH")
    assert db.execute("SHOW mc").df.count() == 8
    # FORGET must join the in-flight fold, then fully remove the tree —
    # a late fold commit would otherwise resurrect manifest.json
    db.execute("FORGET mc")
    assert not db.materializer.exists("mc")
    time.sleep(0.2)
    assert not db.materializer.exists("mc")


def test_serve_first_show_returns_while_fold_pending(spark, tmp_path):
    """The serving thread never blocks on the fold: with the fold thread
    deliberately stalled, SHOW still returns and its frame is exact."""
    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    for i in range(4):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mslow")
    for i in range(4, 7):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")

    gate = threading.Event()
    orig = db.materializer._refresh_plain_segments

    def stalled(*a, **kw):
        gate.wait(timeout=30)
        return orig(*a, **kw)

    db.materializer._refresh_plain_segments = stalled
    try:
        df = db.execute("SHOW mslow").df
        assert db.materializer.describe("mslow")["fold_in_flight"]
        # manifest has NOT advanced (fold stalled) but values are exact
        assert df.count() == 7
        assert db.materializer.describe("mslow")["stale"]
        # a second stale SHOW while the fold is stalled serves exactly,
        # skips scheduling a duplicate fold
        assert db.execute("SHOW mslow").df.count() == 7
    finally:
        gate.set()
        db.materializer._refresh_plain_segments = orig
    assert db.materializer.quiesce("mslow") == []
    assert not db.materializer.describe("mslow")["stale"]
    assert db.execute("SHOW mslow").df.count() == 7


def test_embedded_default_storage_is_grace(spark, tmp_path):
    """VERDICT r8 #2: an embedded SnelDB / EventStore constructed without
    a storage argument defaults to the grace backend (versioned prefixes
    + pointer flip), not the rename-publish LocalStorage whose
    reader-vs-compaction race the r8 soak reproduced."""
    from sneldb_spark.store.event_store import EventStore
    from sneldb_spark.store.storage import ObjectStoreStorage

    db = _mk_db(spark, tmp_path)
    assert isinstance(db.store.storage, ObjectStoreStorage)
    assert isinstance(db.materializer.storage, ObjectStoreStorage)
    es = EventStore(spark, str(tmp_path / "es"))
    assert isinstance(es.storage, ObjectStoreStorage)


def test_embedded_threaded_reader_vs_flush_compact(spark, tmp_path):
    """The r8 soak's reader-vs-compaction crash, embedded (no server
    wrapper): one thread REPLAYs in a loop while another ingests with
    flush-auto-compaction on. On the (now default) grace backend every
    read must succeed on a consistent snapshot."""
    db = _mk_db(spark, tmp_path, auto_compact_files=2)
    db.execute('DEFINE ev FIELDS { "u": "string", "n": "int" }')
    _store(db, "ev", "c0", {"u": "u0", "n": 0})
    db.execute("FLUSH")

    stop = threading.Event()
    errors = []

    def reader():
        while not stop.is_set():
            try:
                n = db.execute("QUERY ev").df.count()
                assert n >= 1
            except Exception as e:  # noqa: BLE001 — the failure under test
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(1, 30):
            _store(db, "ev", f"c{i}", {"u": f"u{i}", "n": i})
            if i % 3 == 0:
                db.execute("FLUSH")  # repeatedly trips auto-compaction
        db.execute("FLUSH")
    finally:
        stop.set()
        t.join()
    assert errors == []
    assert db.execute("QUERY ev").df.count() == 30


def test_collapse_exact_keeps_null_text_rows(spark):
    """ADVICE r8 (medium): NULL text must digest as '' so NULL-text rows
    collapse with ''-text rows instead of vanishing from the mapping —
    minhash_assign keeps its one-row-per-input contract."""
    from sneldb_spark.pipeline.dedup import collapse_exact, minhash_assign

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, ""), (4, "hello world"), (5, None)],
        "doc_id long, text string",
    )
    reps, mapping = collapse_exact(df)
    assert mapping.count() == 5  # every input row mapped
    m = {r["id"]: r["rep_id"] for r in mapping.collect()}
    assert m[2] == m[3] == m[5] == 2  # NULL and '' share one rep (min id)
    assert m[1] == m[4] == 1
    out = minhash_assign(df, threshold=0.9)
    assert out.count() == 5
    by_id = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert by_id[2] == by_id[3] == by_id[5]
    assert by_id[1] == by_id[4]


def test_fault_client_thread_safe_counters(tmp_path):
    """ADVICE r8 (low): concurrent round trips must not undercount
    op_count/transients_injected (lock-guarded draw section)."""
    import random

    from sneldb_spark.store.storage import (
        DirObjectClient,
        FaultInjectingObjectClient,
        ObjectStoreTransientError,
    )

    bucket = str(tmp_path / "obj")
    inner = DirObjectClient(bucket)
    client = FaultInjectingObjectClient(
        inner, rng=random.Random(7), transient_rate=0.3
    )
    n_threads, per_thread = 8, 200

    def worker(k):
        for i in range(per_thread):
            try:
                client.put(f"{bucket}/t{k}/k{i}", b"x")
            except ObjectStoreTransientError:
                pass

    ts = [threading.Thread(target=worker, args=(k,)) for k in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert client.op_count == n_threads * per_thread
    # rate 0.3 over 1600 draws: a huge margin around the mean (~480)
    assert 300 < client.transients_injected < 700


def test_fold_auto_compacts_segment_layout(spark, tmp_path):
    """When folds leave more interval segments than the bound, the NEXT
    fold compacts them into a fresh base — serve-path listing cost stays
    bounded over an arbitrarily long SHOW cadence."""
    import os

    db = _mk_db(spark, tmp_path)
    db.materializer.auto_compact_segments = 3
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    _store(db, "ev", "c0", {"u": "u0"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mc")
    for i in range(1, 7):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
        db.execute("FLUSH")
        assert db.execute("SHOW mc").df.count() == i + 1
        assert db.materializer.quiesce("mc") == []
    data = os.path.join(str(tmp_path / "db"), "materialized", "mc", "data")
    live = db.materializer.storage.resolve(data)
    n_seg = sum(1 for d in os.listdir(live) if d.startswith("d_"))
    assert n_seg <= 3 + 1  # compaction fired at least once mid-run
    assert db.execute("SHOW mc").df.count() == 7
    # still incremental afterwards
    _store(db, "ev", "c9", {"u": "u9"})
    db.execute("FLUSH")
    assert db.execute("SHOW mc").df.count() == 8
    assert db.materializer.quiesce("mc") == []


def test_serve_parts_stream_stored_first(spark, tmp_path):
    """The serve frame advertises (stored, delta) parts and the JSON
    framer streams them with identical total rows."""
    import json as _json

    from sneldb_spark.response import json_frames

    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    for i in range(4):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mparts")
    for i in range(4, 6):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    df = db.execute("SHOW mparts").df
    parts = getattr(df, "__sneldb_serve_parts__", None)
    assert parts is not None and len(parts) == 2
    assert parts[0].columns == df.columns == parts[1].columns
    frames = [_json.loads(f) for f in json_frames(df)]
    assert frames[0]["type"] == "schema"
    assert frames[-1]["type"] == "end" and frames[-1]["row_count"] == 6
    assert db.materializer.quiesce("mparts") == []


def test_fold_writes_served_delta_no_second_match(spark, tmp_path):
    """VERDICT r9 #1: one delta pipeline feeds both the stream and the
    persist (reference: src/command/handlers/show/delta/refresher.rs).
    For a sequence materialization the as-of match must be BUILT once —
    the background fold writes the serve path's checkpointed pairs
    instead of re-running sequence_match over the slice."""
    import sneldb_spark.plans.sequence as seqmod

    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    for i in range(4):
        _store(db, "signup", f"s{i}", {"user_id": f"u{i}"})
        _store(db, "purchase", f"p{i}", {"user_id": f"u{i}"})
    db.execute("FLUSH")
    db.execute(
        "REMEMBER QUERY signup FOLLOWED BY purchase LINKED BY user_id AS m1"
    )
    for i in range(4, 7):
        _store(db, "signup", f"s{i}", {"user_id": f"u{i}"})
        _store(db, "purchase", f"p{i}", {"user_id": f"u{i}"})
    db.execute("FLUSH")

    calls = []
    orig = seqmod.sequence_match

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    seqmod.sequence_match = counting
    try:
        served = db.execute("SHOW m1").df
        assert db.materializer.quiesce("m1") == []
        # serve built the match ONCE; the fold reused it
        assert len(calls) == 1
        assert served.count() == 7
    finally:
        seqmod.sequence_match = orig
    assert db.execute("SHOW m1").df.count() == 7


def test_plain_fold_skips_recompile_with_bundle(spark, tmp_path):
    """Plain segment shape: the fold writes the served (checkpointed)
    delta — compile_query runs once for the serve frame, zero times in
    the fold."""
    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    _store(db, "ev", "c0", {"u": "u0"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS m2")
    _store(db, "ev", "c1", {"u": "u1"})
    db.execute("FLUSH")

    calls = []
    orig = db.engine_compiler_compile_query = db.compiler.compile_query

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    db.compiler.compile_query = counting
    try:
        assert db.execute("SHOW m2").df.count() == 2
        assert db.materializer.quiesce("m2") == []
        assert len(calls) == 1
    finally:
        db.compiler.compile_query = orig
    assert db.execute("SHOW m2").df.count() == 2


def test_compaction_keeps_pinned_serve_listing_for_slow_reader(spark, tmp_path):
    """VERDICT r9 #6 / ADVICE r9: a serve frame pins its stored file
    listing at build time. Auto-compaction does NOT wait for readers
    (deferring would starve compaction under a steady SHOW stream and
    let the segment count grow without bound) — instead every data-path
    publish/recover passes the live frames' pinned copies as keep_live,
    so GC spares them across ARBITRARILY MANY compaction cycles until
    the reader drops. After the frame is GC'd, the next publish reclaims
    the pinned copy."""
    import gc
    import os
    from pathlib import Path

    db = _mk_db(spark, tmp_path)
    db.materializer.auto_compact_segments = 1
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    _store(db, "ev", "c0", {"u": "u0"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mgc")
    data = os.path.join(str(tmp_path / "db"), "materialized", "mgc", "data")

    def n_segments():
        live = db.materializer.storage.resolve(data)
        return sum(1 for d in os.listdir(live) if d.startswith("d_"))

    # slow reader: a serve frame held across several fold+compact rounds
    _store(db, "ev", "c1", {"u": "u1"})
    db.execute("FLUSH")
    held = db.execute("SHOW mgc").df  # never drained yet
    assert db.materializer.quiesce("mgc") == []
    pinned = getattr(held, "__sneldb_pinned_live__", None)
    assert pinned is not None
    # several more rounds; auto_compact_segments=1 forces repeated
    # compaction publishes — far past the default grace window of 1
    for i in range(2, 6):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
        db.execute("FLUSH")
        assert db.execute("SHOW mgc").df.count() == i + 1
        assert db.materializer.quiesce("mgc") == []
    assert n_segments() <= 2  # compaction kept running (no deferral)
    # the pinned copy survived every GC pass...
    assert any(Path(pinned).rglob("*.parquet"))
    # ...so the slow reader drains exactly its snapshot
    assert held.count() == 2
    del held
    gc.collect()
    assert not db.materializer._serves_outstanding("mgc")
    # next publish reclaims the no-longer-pinned copy
    _store(db, "ev", "c9", {"u": "u9"})
    db.execute("FLUSH")
    assert db.execute("SHOW mgc").df.count() == 7
    assert db.materializer.quiesce("mgc") == []
    assert not (
        Path(pinned).exists() and any(Path(pinned).rglob("*.parquet"))
    )
    assert db.execute("SHOW mgc").df.count() == 7


def test_quiesce_drains_fold_errors_and_success_clears(spark, tmp_path):
    """ADVICE r9: fold errors are consumed when surfaced (quiesce pops)
    and a later successful fold clears any stale entries — describe()
    must not report a one-off transient forever."""
    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    _store(db, "ev", "c0", {"u": "u0"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS merr")
    _store(db, "ev", "c1", {"u": "u1"})
    db.execute("FLUSH")

    orig = db.materializer._refresh_plain_segments

    def boom(*a, **kw):
        raise RuntimeError("transient fold failure")

    db.materializer._refresh_plain_segments = boom
    try:
        assert db.execute("SHOW merr").df.count() == 2  # serve still exact
        errs = db.materializer.quiesce("merr")
        assert len(errs) == 1 and "transient" in str(errs[0][1])
        # drained: surfacing consumed it
        assert db.materializer.quiesce("merr") == []
        assert db.materializer.describe("merr")["fold_errors"] == 0
    finally:
        db.materializer._refresh_plain_segments = orig
    # the manifest never advanced; the next SHOW refolds successfully
    assert db.execute("SHOW merr").df.count() == 2
    assert db.materializer.quiesce("merr") == []
    assert not db.materializer.describe("merr")["stale"]


def test_fold_falls_back_when_served_bundle_unreadable(spark, tmp_path):
    """If the served bundle's serve-time file listing outlived the
    source GC grace window, the fold's write fails with a missing-file
    error and _fold_and_commit recomputes from fresh listings."""
    import shutil

    from sneldb_spark.commands.serde import query_from_json

    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    _store(db, "ev", "c0", {"u": "u0"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mfb")
    _store(db, "ev", "c1", {"u": "u1"})
    db.execute("FLUSH")

    mat = db.materializer
    with open(mat._manifest_path("mfb")) as f:
        manifest = json.load(f)
    q = query_from_json(manifest["query"])
    path = mat._dir("mfb") + "/data"
    cur = mat._source_hwm(q)
    lower = mat._published_lower(manifest, path)
    # poisoned delta: analysis succeeds, execution hits missing files
    gone = tmp_path / "gone"
    spark.range(3).write.parquet(str(gone))
    poisoned = spark.read.parquet(str(gone))
    shutil.rmtree(gone)
    bundle = {"lower": tuple(lower), "delta": poisoned}
    mat._fold_and_commit(
        "mfb", q, manifest, path, cur, mat._refresh_plain_segments, path,
        bundle,
    )
    # fallback recomputed the real slice and committed
    with open(mat._manifest_path("mfb")) as f:
        m2 = json.load(f)
    assert (m2["hwm_ts"], m2["hwm_id"]) == tuple(cur)
    assert db.execute("SHOW mfb").df.count() == 2


def test_show_limit_bounded_service_read(spark, tmp_path):
    """SHOW <name> LIMIT n is the bounded probe pattern the soak's TTFF
    uses: capped rows on a stale serve frame, full values untouched."""
    db = _mk_db(spark, tmp_path)
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    for i in range(8):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mlim")
    for i in range(8, 12):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
    db.execute("FLUSH")
    assert db.execute("SHOW mlim LIMIT 5").df.count() == 5
    assert db.materializer.quiesce("mlim") == []
    assert db.execute("SHOW mlim").df.count() == 12
    assert db.execute("SHOW mlim LIMIT 100").df.count() == 12


def test_show_limit_transfers_serve_pin(spark, tmp_path):
    """ADVICE r10 (medium): `df.limit(n)` keeps no Python reference to
    its parent, and the serve registry is a WeakSet — so a LIMIT'd SHOW
    used to drop the serve frame's pin the moment the engine rebound
    `df`, letting a compaction publish GC the files the limited plan
    still reads mid-drain (the soak's TTFF probe path exactly).
    pin_derived must carry the pin onto the limited frame."""
    import gc
    from pathlib import Path

    db = _mk_db(spark, tmp_path)
    db.materializer.auto_compact_segments = 1
    db.execute('DEFINE ev FIELDS { "u": "string" }')
    _store(db, "ev", "c0", {"u": "u0"})
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS mpin")
    _store(db, "ev", "c1", {"u": "u1"})
    db.execute("FLUSH")

    held = db.execute("SHOW mpin LIMIT 100").df  # a stale serve, limited
    assert db.materializer.quiesce("mpin") == []
    gc.collect()  # the UNlimited parent frame is unreachable by now...
    pins = db.materializer._pinned_lives("mpin")
    assert pins, "limited SHOW frame lost the serve pin"  # ...pin survives
    pinned = next(iter(pins))
    # pinned copy survives repeated fold+auto-compact publishes (past
    # the grace window) while the limited frame is held
    for i in range(2, 5):
        _store(db, "ev", f"c{i}", {"u": f"u{i}"})
        db.execute("FLUSH")
        assert db.execute("SHOW mpin LIMIT 100").df.count() == i + 1
        assert db.materializer.quiesce("mpin") == []
        gc.collect()
    assert any(Path(pinned).rglob("*.parquet"))
    assert held.count() == 2  # slow reader drains its exact snapshot
    del held
    gc.collect()
    assert not db.materializer._serves_outstanding("mpin")
