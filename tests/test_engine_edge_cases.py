"""Edge-case scenario families: enums, dates, IN/parens combinations,
schema versioning, typed ORDER BY, USING TIME sequences, COMPARE errors.
Modeled on reference scenario families (query_in_operator_*,
query_parentheses_*, since_*/bucket_*, enum_*, birthdays leap-day)."""

import json

import pytest

from sneldb_spark.errors import QueryError


def test_enum_eq_neq_case_sensitive(engine):
    engine.execute('DEFINE subscription FIELDS { "plan": ["pro", "basic"] }')
    engine.execute('STORE subscription FOR c1 PAYLOAD { "plan": "pro" }')
    engine.execute('STORE subscription FOR c2 PAYLOAD { "plan": "basic" }')
    engine.execute("FLUSH")
    assert engine.query('QUERY subscription WHERE plan = "pro"').count() == 1
    assert engine.query('QUERY subscription WHERE plan != "pro"').count() == 1
    # wrong case matches nothing (values are case-sensitive)
    assert engine.query('QUERY subscription WHERE plan = "PRO"').count() == 0


def test_date_field_normalization_and_equality(engine):
    engine.execute('DEFINE birthdays FIELDS { "id": "int", "birthdate": "date" }')
    engine.execute('STORE birthdays FOR c1 PAYLOAD { "id": 1, "birthdate": "2024-02-29" }')
    # stored with a time-of-day component; date snaps to midnight UTC
    engine.execute(
        'STORE birthdays FOR c2 PAYLOAD { "id": 2, "birthdate": "2024-02-29T15:30:00Z" }'
    )
    engine.execute("FLUSH")
    df = engine.query('QUERY birthdays WHERE birthdate = "2024-02-29"')
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_in_numbers_and_empty_result(engine):
    engine.execute('DEFINE products FIELDS { "product_id": "int", "category": "string" }')
    for i, cat in [(1, "a"), (2, "b"), (3, "c")]:
        engine.execute(
            f'STORE products FOR c{i} PAYLOAD {{ "product_id": {i}, "category": "{cat}" }}'
        )
    engine.execute("FLUSH")
    assert engine.query("QUERY products WHERE product_id IN (1, 3)").count() == 2
    assert engine.query("QUERY products WHERE product_id IN (99)").count() == 0
    assert engine.query('QUERY products WHERE category IN ("a", "zz") OR product_id = 2').count() == 2


def test_deep_parens_and_de_morgan(engine):
    engine.execute('DEFINE t FIELDS { "a": "int", "b": "int" }')
    rows = [(1, 1), (1, 2), (2, 1), (2, 2)]
    for i, (a, b) in enumerate(rows):
        engine.execute(f'STORE t FOR c{i} PAYLOAD {{ "a": {a}, "b": {b} }}')
    engine.execute("FLUSH")
    # NOT (a = 1 OR b = 2)  ==  a != 1 AND b != 2
    df1 = engine.query("QUERY t WHERE NOT (a = 1 OR b = 2)")
    df2 = engine.query("QUERY t WHERE a != 1 AND b != 2")
    assert {r["context_id"] for r in df1.collect()} == {r["context_id"] for r in df2.collect()} == {"c2"}
    # nested parens
    df3 = engine.query("QUERY t WHERE ((a = 1 AND (b = 1 OR b = 2)) OR (a = 2 AND b = 2))")
    assert {r["context_id"] for r in df3.collect()} == {"c0", "c1", "c3"}


def test_schema_versioning_latest_wins(engine):
    engine.execute('DEFINE evt FIELDS { "x": "int" }')
    engine.execute('DEFINE evt AS 2 FIELDS { "x": "int", "y": "string | null" }')
    engine.execute('STORE evt FOR c1 PAYLOAD { "x": 1, "y": "hi" }')
    engine.execute("FLUSH")
    df = engine.query("QUERY evt")
    assert df.collect()[0]["y"] == "hi"


def test_order_by_string_field(engine):
    engine.execute('DEFINE p FIELDS { "name": "string" }')
    for i, n in enumerate(["banana", "apple", "cherry"]):
        engine.execute(f'STORE p FOR c{i} PAYLOAD {{ "name": "{n}" }}')
    engine.execute("FLUSH")
    asc = [r["name"] for r in engine.query("QUERY p ORDER BY name").collect()]
    assert asc == ["apple", "banana", "cherry"]
    desc = [r["name"] for r in engine.query("QUERY p ORDER BY name DESC LIMIT 2").collect()]
    assert desc == ["cherry", "banana"]


def test_order_by_aggregate_output(engine):
    engine.execute('DEFINE o FIELDS { "amount": "int", "country": "string" }')
    for i, (amt, c) in enumerate([(1, "NL"), (2, "NL"), (3, "DE")]):
        engine.execute(f'STORE o FOR c{i} PAYLOAD {{ "amount": {amt}, "country": "{c}" }}')
    engine.execute("FLUSH")
    df = engine.query("QUERY o COUNT BY country ORDER BY count DESC LIMIT 1")
    assert df.collect()[0]["country"] == "NL"


def test_dotted_field_names_are_literal(engine):
    engine.execute('DEFINE geo FIELDS { "geo.city": "string" }')
    engine.execute('STORE geo FOR c1 PAYLOAD { "geo.city": "ams" }')
    engine.execute("FLUSH")
    df = engine.query('QUERY geo WHERE geo.city = "ams"')
    assert df.count() == 1


def test_sequence_using_time_field(engine):
    # sequence ordering driven by a payload datetime, not server time:
    # store B events *before* A in wall-clock, but with later payload times
    engine.execute('DEFINE a FIELDS { "user_id": "string", "at": "datetime" }')
    engine.execute('DEFINE b FIELDS { "user_id": "string", "at": "datetime", "n": "int" }')
    engine.execute('STORE b FOR u1 PAYLOAD { "user_id": "u1", "at": "2024-01-05T00:00:00Z", "n": 1 }')
    engine.execute('STORE b FOR u1 PAYLOAD { "user_id": "u1", "at": "2024-01-01T00:00:00Z", "n": 2 }')
    engine.execute('STORE a FOR u1 PAYLOAD { "user_id": "u1", "at": "2024-01-03T00:00:00Z" }')
    engine.execute("FLUSH")
    df = engine.query("QUERY a FOLLOWED BY b LINKED BY user_id USING TIME at")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["b_n"] == 1  # first b with at >= a.at


def _one_sided_time_db(spark, tmp_path, events, **opts):
    """Engine whose server clock is set per STORE: `events` are
    (type, server ts, payload) triples, stored in the given order."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 0}
    db = SnelDB(spark, str(tmp_path / "db"), clock=lambda: clock["now"], **opts)
    for et, has_f in (("h", True), ("m", True), ("e", False), ("t", False)):
        f = ', "f": "int"' if has_f else ""
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string", "n": "int"{f} }}')
    for et, ts, payload in events:
        clock["now"] = ts
        db.execute(f"STORE {et} FOR {payload['u']} PAYLOAD {json.dumps(payload)}")
    db.execute("FLUSH")
    return db


@pytest.mark.parametrize(
    "kind,pairs",
    [("FOLLOWED BY", {(1, 2), (2, 1)}), ("PRECEDED BY", {(1, 1)})],
    ids=["followed_by", "preceded_by"],
)
def test_sequence_one_sided_using_time_matches_per_step(spark, tmp_path, kind, pairs):
    """USING TIME f where only the head type has f: the head matches on
    f and the tail on server timestamp. Matching both on timestamp (the
    field missing from a step) pairs every head differently: FOLLOWED BY
    would give {(1, 1)} and PRECEDED BY {(2, 2)}."""
    db = _one_sided_time_db(spark, tmp_path, [
        ("h", 100, {"u": "u1", "n": 1, "f": 500}),
        ("t", 200, {"u": "u1", "n": 1}),
        ("t", 600, {"u": "u1", "n": 2}),
        ("h", 700, {"u": "u1", "n": 2, "f": 50}),
    ])
    df = db.query(f"QUERY h {kind} t LINKED BY u USING TIME f")
    assert {(r["a_n"], r["b_n"]) for r in df.collect()} == pairs


def test_chain_one_sided_using_time_matches_and_bounds_per_link(spark, tmp_path):
    """3-step chain where h and m have f and e lacks it: link h->m
    matches and measures WITHIN on f, link m->e matches m on f and e on
    server timestamp and measures WITHIN on timestamp. u1's chain passes
    only under that rule (its h->m timestamp gap is 950 s, its m.f->e.ts
    gap 90 s); u2's h->m gap on f (100 s) breaks WITHIN 60. Matching
    every step on timestamp would give (1, 1, 1) for u1 instead."""
    db = _one_sided_time_db(spark, tmp_path, [
        ("h", 100, {"u": "u1", "n": 1, "f": 1000}),
        ("m", 150, {"u": "u1", "n": 1, "f": 900}),
        ("e", 160, {"u": "u1", "n": 1}),
        ("m", 1050, {"u": "u1", "n": 2, "f": 1010}),
        ("e", 1100, {"u": "u1", "n": 2}),
        ("h", 2000, {"u": "u2", "n": 3, "f": 2000}),
        ("m", 2010, {"u": "u2", "n": 3, "f": 2100}),
        ("e", 2120, {"u": "u2", "n": 3}),
    ], multi_link=True)
    q = "QUERY h FOLLOWED BY m FOLLOWED BY e LINKED BY u USING TIME f"
    chains = {(r["s0_n"], r["s1_n"], r["s2_n"]) for r in db.query(q).collect()}
    assert chains == {(1, 2, 2), (3, 3, 3)}
    within = db.query(q + " WITHIN 60").collect()
    assert {(r["s0_n"], r["s1_n"], r["s2_n"]) for r in within} == {(1, 2, 2)}


def test_sequence_same_timestamp_matches(engine):
    engine.execute('DEFINE x FIELDS { "user_id": "string", "at": "datetime" }')
    engine.execute('DEFINE y FIELDS { "user_id": "string", "at": "datetime" }')
    engine.execute('STORE x FOR u1 PAYLOAD { "user_id": "u1", "at": 1000 }')
    engine.execute('STORE y FOR u1 PAYLOAD { "user_id": "u1", "at": 1000 }')
    engine.execute("FLUSH")
    # FOLLOWED BY: ts_B >= ts_A -> same timestamp matches
    assert engine.query("QUERY x FOLLOWED BY y LINKED BY user_id USING TIME at").count() == 1
    # PRECEDED BY: strict < -> same timestamp does NOT match
    assert engine.query("QUERY x PRECEDED BY y LINKED BY user_id USING TIME at").count() == 0


def test_sequence_for_context_isolation(engine):
    engine.execute('DEFINE s1 FIELDS { "user_id": "string" }')
    engine.execute('DEFINE s2 FIELDS { "user_id": "string" }')
    for u in ("u1", "u2"):
        engine.execute(f'STORE s1 FOR {u} PAYLOAD {{ "user_id": "{u}" }}')
        engine.execute(f'STORE s2 FOR {u} PAYLOAD {{ "user_id": "{u}" }}')
    engine.execute("FLUSH")
    df = engine.query("QUERY s1 FOLLOWED BY s2 LINKED BY user_id FOR u1")
    assert {r["a_context_id"] for r in df.collect()} == {"u1"}


def test_compare_mismatched_groups_rejected(engine):
    from sneldb_spark.commands import ast
    from sneldb_spark.plans.compare import compile_compare

    engine.execute('DEFINE m FIELDS { "v": "int", "c": "string" }')
    engine.execute('STORE m FOR c1 PAYLOAD { "v": 1, "c": "x" }')
    engine.execute("FLUSH")
    q1 = ast.QueryCommand(sequence=ast.EventSequence("m"), aggs=[ast.AggSpec("count")], group_by=["c"])
    q2 = ast.QueryCommand(sequence=ast.EventSequence("m"), aggs=[ast.AggSpec("count")])
    with pytest.raises(QueryError):
        compile_compare(engine.compiler, ast.CompareCommand(queries=[q1, q2]))


def test_compare_same_event_type_uses_fallback_labels(engine):
    engine.execute('DEFINE m2 FIELDS { "v": "int" }')
    engine.execute('STORE m2 FOR c1 PAYLOAD { "v": 1 }')
    engine.execute("FLUSH")
    df = engine.query("PLOT COUNT OF m2 VS COUNT OF m2")
    assert sorted(df.columns) == ["left_count", "right_count"]


def test_replay_since(engine):
    engine.execute('DEFINE r FIELDS { "n": "int" }')
    engine.execute('STORE r FOR c1 PAYLOAD { "n": 1 }')
    engine.execute('STORE r FOR c1 PAYLOAD { "n": 2 }')
    engine.execute("FLUSH")
    base = engine._test_clock["now"]
    df = engine.query(f'REPLAY r FOR c1 SINCE "{base}"')
    assert [r["n"] for r in df.collect()] == [2]


def test_u64_roundtrip(engine):
    engine.execute('DEFINE big FIELDS { "n": "u64" }')
    huge = 2**62
    engine.execute(f'STORE big FOR c1 PAYLOAD {{ "n": {huge} }}')
    engine.execute("FLUSH")
    assert engine.query(f"QUERY big WHERE n >= {huge}").collect()[0]["n"] == huge


def test_compaction_preserves_data(engine):
    engine.execute('DEFINE cmp FIELDS { "n": "int" }')
    for i in range(5):
        engine.execute(f'STORE cmp FOR c{i} PAYLOAD {{ "n": {i} }}')
        engine.execute("FLUSH")  # many small files
    before = engine.query("QUERY cmp").count()
    engine.store.compact("cmp")
    assert engine.query("QUERY cmp").count() == before == 5


def test_count_field_vs_count(engine):
    engine.execute('DEFINE n FIELDS { "v": "int | null" }')
    engine.execute('STORE n FOR c1 PAYLOAD { "v": 1 }')
    engine.execute('STORE n FOR c2 PAYLOAD { }')
    engine.execute("FLUSH")
    df = engine.query("QUERY n COUNT, COUNT v")
    r = df.collect()[0]
    assert r["count"] == 2 and r["count_v"] == 1


def test_sequence_without_link_field_runs_head_query(engine):
    # Reference: event_sequence with no LINKED BY is not a sequence query —
    # it executes as a plain query on the head type (orchestrator.rs:40-48).
    # PlotQL funnel metrics (PLOT COUNT OF a->b) rely on this.
    engine.execute('DEFINE sv FIELDS { "n": "int" }')
    engine.execute('DEFINE sp FIELDS { "n": "int" }')
    engine.execute('STORE sv FOR c1 PAYLOAD { "n": 1 }')
    engine.execute('STORE sv FOR c1 PAYLOAD { "n": 2 }')
    engine.execute('STORE sp FOR c1 PAYLOAD { "n": 3 }')
    engine.execute("FLUSH")
    assert engine.query("QUERY sv FOLLOWED BY sp").count() == 2
    rows = engine.query("PLOT COUNT OF sv THEN sp").collect()
    assert len(rows) == 1 and rows[0]["sv_count"] == 2


def test_query_undefined_event_type_returns_empty(engine):
    # Reference streams row_count:0 for undefined event types on the read
    # path (scenario query_empty_event_type); only STORE requires a schema.
    assert engine.query("QUERY nonexistent_type WHERE id = 42").count() == 0
    assert engine.query("REPLAY FOR nobody").count() == 0  # nothing stored at all


def test_replay_nonexistent_context_empty(engine):
    engine.execute('DEFINE rx FIELDS { "n": "int" }')
    engine.execute('STORE rx FOR real PAYLOAD { "n": 1 }')
    engine.execute("FLUSH")
    assert engine.query("REPLAY FOR ghost").count() == 0


def test_scalar_aggregates_no_group_by(engine):
    # agg_scalar_* scenarios: aggregates without BY produce one row.
    engine.execute('DEFINE sc FIELDS { "amount": "int" }')
    for i, amt in enumerate((10, 20, 30)):
        engine.execute(f'STORE sc FOR c{i} PAYLOAD {{ "amount": {amt} }}')
    engine.execute("FLUSH")
    rows = engine.query("QUERY sc TOTAL amount, AVG amount, MIN amount, MAX amount").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["total_amount"], r["avg_amount"], r["min_amount"], r["max_amount"]) == (60, 20.0, 10, 30)


def test_concurrent_store_during_flush_not_lost(engine):
    # The frontends are threaded: a STORE racing a FLUSH must land in the
    # next flush, never vanish (atomic buffer swap in EventStore.flush).
    import threading

    engine.execute('DEFINE race FIELDS { "n": "int" }')
    stop = threading.Event()
    stored = [0]

    def writer():
        i = 0
        while not stop.is_set():
            engine.execute(f'STORE race FOR w PAYLOAD {{ "n": {i} }}')
            stored[0] = i + 1
            i += 1

    t = threading.Thread(target=writer)
    t.start()
    try:
        for _ in range(5):
            engine.execute("FLUSH")
    finally:
        stop.set()
        t.join()
    engine.execute("FLUSH")
    assert engine.query("QUERY race").count() == stored[0]


def test_wildcard_replay_with_conflicting_field_types(engine):
    # Two event types defining the same payload field with different types
    # must still replay together — the unified view demotes the conflicted
    # field to string instead of inserting a lossy ANSI cast that explodes.
    engine.execute('DEFINE ct1 FIELDS { "v": "int" }')
    engine.execute('DEFINE ct2 FIELDS { "v": "string" }')
    engine.execute('STORE ct1 FOR c1 PAYLOAD { "v": 1 }')
    engine.execute('STORE ct2 FOR c1 PAYLOAD { "v": "x" }')
    engine.execute("FLUSH")
    rows = engine.query("REPLAY FOR c1").orderBy("timestamp", "event_id").collect()
    assert [r["v"] for r in rows] == ["1", "x"]


def test_df_and_register_views_sql_interop(spark, tmp_path):
    """The Spark-native escape hatch: event types as temp views with
    QUERY's visibility (pre-flush rows included), composable via
    spark.sql joins."""
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE users FIELDS { "uid": "string", "plan": "string" }')
    db.execute('DEFINE orders FIELDS { "uid": "string", "amount": "int" }')
    db.execute('STORE users FOR c1 PAYLOAD {"uid": "u1", "plan": "pro"}')
    db.execute('STORE orders FOR c1 PAYLOAD {"uid": "u1", "amount": 5}')
    db.execute("FLUSH")
    db.execute('STORE orders FOR c1 PAYLOAD {"uid": "u1", "amount": 7}')  # pre-flush
    views = db.register_views(prefix="sdb_")
    assert set(views) == {"sdb_users", "sdb_orders"}
    rows = spark.sql(
        "SELECT u.plan, sum(o.amount) AS total FROM sdb_orders o "
        "JOIN sdb_users u ON u.uid = o.uid GROUP BY u.plan"
    ).collect()
    assert [(r["plan"], r["total"]) for r in rows] == [("pro", 12)]
    assert db.df("orders").count() == 2  # buffer visible, like QUERY


def test_sequence_unknown_link_field_clean_error(engine):
    """LINKED BY on a field no side carries (or on an undefined type's
    core-only frame) answers a QueryError frame — never a raw Spark
    AnalysisException escaping the engine."""
    engine.execute('DEFINE sq_a FIELDS { "uid": "string" }')
    engine.execute('DEFINE sq_b FIELDS { "other": "string" }')
    res = engine.try_execute(
        "QUERY sq_a FOLLOWED BY sq_b LINKED BY uid"
    )
    assert not res.ok and "unknown field 'uid'" in res.message
    # undefined types: both sides are core-only frames; still a clean error
    res2 = engine.try_execute(
        "QUERY never_defined FOLLOWED BY also_undefined LINKED BY uid"
    )
    assert not res2.ok and "unknown field 'uid'" in res2.message


def test_batch_group_commit_wal_complete(engine, tmp_path):
    """BATCH defers the WAL flush to the batch boundary (group commit):
    every sub-STORE is in the WAL after the batch returns, recovery
    replays them, and a FLUSH inside the batch (which retires the WAL
    file) doesn't break the scope-exit flush."""
    import os

    engine.execute('DEFINE gc FIELDS { "n": "int" }')
    stores = "; ".join(
        f'STORE gc FOR c{i} PAYLOAD {{"n": {i}}}' for i in range(50)
    )
    engine.execute(f"BATCH [ {stores} ]")
    wal = os.path.join(engine.store.root, "wal", "pending.jsonl")
    assert sum(1 for _ in open(wal)) == 50
    # FLUSH mid-batch retires the WAL file; post-FLUSH stores land in a
    # fresh WAL and the exit flush covers them
    engine.execute(
        'BATCH [ STORE gc FOR x1 PAYLOAD {"n": 100}; FLUSH; '
        'STORE gc FOR x2 PAYLOAD {"n": 101} ]'
    )
    assert sum(1 for _ in open(wal)) == 1  # only the post-FLUSH store
    assert engine.df("gc").count() == 52
    # recovery from the WAL sees the post-FLUSH event (fresh engine on
    # the same root replays pending.jsonl into its memtable)
    from sneldb_spark.engine import SnelDB

    db2 = SnelDB(engine.spark, engine.store.root)
    assert db2.df("gc").count() == 52


def test_wal_group_reentrant(engine):
    """Nested wal_group scopes defer to the outermost one."""
    st = engine.store
    engine.execute('DEFINE re FIELDS { "n": "int" }')
    with st.wal_group():
        with st.wal_group():
            st.store("re", "c1", {"n": 1})
        assert st._wal_defer.on is True  # still deferring after inner exit
        st.store("re", "c2", {"n": 2})
    assert getattr(st._wal_defer, "on", False) is False
    assert engine.df("re").count() == 2


def test_concurrent_batches_and_flush_lose_nothing(engine):
    """The frontend-threading shape: several connections fire pure-STORE
    BATCHes (serialized, group-committed) while another issues FLUSHes
    (NOT under the write lock — it retires the WAL file mid-flight).
    Every event must land exactly once and no thread may error (pins the
    wal_group exit-flush vs concurrent-FLUSH race)."""
    import threading

    engine.execute('DEFINE conc FIELDS { "n": "int" }')
    errors = []
    n_threads, n_batches, per_batch = 4, 10, 20

    def writer(t):
        try:
            for b in range(n_batches):
                base = (t * n_batches + b) * per_batch
                body = "; ".join(
                    f'STORE conc FOR c{base + i} PAYLOAD {{"n": {base + i}}}'
                    for i in range(per_batch)
                )
                engine.execute(f"BATCH [ {body} ]")
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    stop = threading.Event()

    def flusher():
        try:
            while not stop.is_set():
                engine.execute("FLUSH")
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    fl = threading.Thread(target=flusher)
    fl.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    stop.set()
    fl.join()
    assert errors == []
    total = n_threads * n_batches * per_batch
    rows = engine.df("conc").collect()
    assert len(rows) == total
    assert sorted(r["n"] for r in rows) == list(range(total))


def test_mixed_batch_does_not_leak_wal_deferral_to_other_threads(engine):
    """Durability under the threaded-frontend shape the write lock does
    NOT serialize: a MIXED batch (STORE; QUERY; STORE) runs its Spark
    work outside the engine write lock while holding its wal_group —
    concurrent single STOREs and pure-STORE BATCHes on other connections
    must still have their WAL lines ON DISK (readable from a fresh file
    handle) before their reply returns. Pins the thread-local defer flag:
    with a process-wide flag the mixed batch silently disabled every
    other thread's pre-reply WAL flush (acked writes lost on crash)."""
    import os as _os
    import threading

    engine.execute('DEFINE mwx FIELDS { "n": "int" }')
    engine.execute('DEFINE mws FIELDS { "n": "int" }')
    wal_path = _os.path.join(engine.store.root, "wal", "pending.jsonl")

    def on_disk(ctx: str) -> bool:
        try:
            with open(wal_path, encoding="utf-8") as f:
                return any(f'"context_id": "{ctx}"' in ln for ln in f)
        except FileNotFoundError:
            return False

    errors, missing = [], []
    done = threading.Event()

    def mixed_batcher():
        # each iteration holds wal_group across a multi-second-ish Spark
        # QUERY, the exact window where the old process-wide flag leaked
        try:
            for b in range(4):
                engine.execute(
                    f'BATCH [ STORE mwx FOR mb{b}a PAYLOAD {{"n": {b}}}; '
                    f"QUERY mwx; "
                    f'STORE mwx FOR mb{b}b PAYLOAD {{"n": {b}}} ]'
                )
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)
        finally:
            done.set()

    def pure_batcher():
        # with the old flag this thread's wal_group looked "nested" and
        # skipped its exit flush — its acked batch never reached the OS
        try:
            i = 0
            while not done.is_set():
                ctx = f"pb{i}"
                engine.execute(f'BATCH [ STORE mws FOR {ctx} PAYLOAD {{"n": {i}}} ]')
                if not on_disk(ctx):
                    missing.append(ctx)
                i += 1
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    mt = threading.Thread(target=mixed_batcher)
    pt = threading.Thread(target=pure_batcher)
    mt.start()
    pt.start()
    # single STOREs from this thread race the mixed batch's window too
    j = 0
    while not done.is_set():
        ctx = f"sg{j}"
        engine.execute(f'STORE mws FOR {ctx} PAYLOAD {{ "n": {j} }}')
        if not on_disk(ctx):
            missing.append(ctx)
        j += 1
    mt.join()
    pt.join()
    assert errors == []
    assert missing == []
    # the mixed batch's own stores are group-committed at its exit
    for b in range(4):
        assert on_disk(f"mb{b}a")
        assert on_disk(f"mb{b}b")
