"""End-to-end scenarios modeled on the reference's declarative suite
(reference: tests/integration/scenarios.json — agg_*, sequence_*,
query_in_operator_*, order_by_*, replay_*, remember_*/show_* families).

Timestamps: the engine assigns server time at ingest; the test clock ticks
one second per store so orderings are deterministic (the scenarios use
SLEEP for the same effect).
"""

import pytest

from sneldb_spark.errors import (
    MaterializationError,
    QueryError,
    SchemaError,
    ValidationError,
)


def _setup_orders(engine):
    engine.execute('DEFINE orders FIELDS { "amount": "int", "country": "string", "plan": "string" }')
    rows = [
        ("c1", 10, "NL", "pro"),
        ("c2", 20, "NL", "basic"),
        ("c3", 15, "DE", "pro"),
        ("c4", 18, "NL", "pro"),
        ("c5", 11, "NL", "basic"),
    ]
    for ctx, amount, country, plan in rows:
        engine.execute(
            f'STORE orders FOR {ctx} PAYLOAD {{ "amount": {amount}, '
            f'"country": "{country}", "plan": "{plan}" }}'
        )
    engine.execute("FLUSH")


def test_store_requires_define(engine):
    with pytest.raises(SchemaError):
        engine.execute('STORE nope FOR c1 PAYLOAD { "a": 1 }')


def test_store_validation_errors(engine):
    engine.execute('DEFINE subscription FIELDS { "plan": ["pro", "basic"] }')
    with pytest.raises(ValidationError):
        engine.execute('STORE subscription FOR c1 PAYLOAD { "plan": "PRO" }')
    with pytest.raises(ValidationError):
        engine.execute('STORE subscription FOR c1 PAYLOAD { }')
    with pytest.raises(ValidationError):
        engine.execute('STORE subscription FOR c1 PAYLOAD { "plan": "pro", "x": 1 }')


def test_filter_query(engine):
    _setup_orders(engine)
    df = engine.query('QUERY orders WHERE amount >= 15 AND country = "NL"')
    rows = {r["context_id"] for r in df.collect()}
    assert rows == {"c2", "c4"}


def test_core_columns_always_present(engine):
    _setup_orders(engine)
    df = engine.query("QUERY orders RETURN [amount]")
    assert df.columns == ["context_id", "event_type", "timestamp", "event_id", "amount"]


def test_unknown_return_field_ignored(engine):
    _setup_orders(engine)
    df = engine.query("QUERY orders RETURN [amount, nosuch]")
    assert "nosuch" not in df.columns


def test_agg_count_by_country_and_plan(engine):
    # Mirror of scenario agg_count_per_day_by_country_and_plan.
    _setup_orders(engine)
    df = engine.query("QUERY orders COUNT PER DAY BY country, plan")
    rows = {(r["country"], r["plan"]): r["count"] for r in df.collect()}
    assert rows == {("NL", "pro"): 2, ("NL", "basic"): 2, ("DE", "pro"): 1}
    assert df.columns == ["bucket", "country", "plan", "count"]


def test_agg_all_ops(engine):
    _setup_orders(engine)
    df = engine.query(
        "QUERY orders COUNT, COUNT UNIQUE plan, TOTAL amount, AVG amount, "
        "MIN amount, MAX amount BY country"
    )
    out = {r["country"]: r for r in df.collect()}
    nl = out["NL"]
    assert (nl["count"], nl["count_unique_plan"], nl["total_amount"]) == (4, 2, 59)
    assert nl["avg_amount"] == pytest.approx(14.75)
    assert (nl["min_amount"], nl["max_amount"]) == (10, 20)
    de = out["DE"]
    assert (de["count"], de["total_amount"]) == (1, 15)


def test_agg_group_limit(engine):
    _setup_orders(engine)
    df = engine.query("QUERY orders COUNT BY country LIMIT 1")
    assert df.count() == 1  # LIMIT caps distinct groups


def test_agg_group_limit_contract(engine):
    # Decided A10 contract (SURVEY §2): LIMIT caps groups AFTER full
    # aggregation — every returned group carries its exact full-scan value
    # (never a partially-updated group), the cap holds, and with ORDER BY
    # the selection is the deterministic prefix. Which groups survive
    # without ORDER BY is engine-defined, as in the reference.
    _setup_orders(engine)
    full = {r["country"]: r["count"] for r in
            engine.query("QUERY orders COUNT BY country").collect()}
    capped = engine.query("QUERY orders COUNT BY country LIMIT 2").collect()
    assert len(capped) == 2
    for r in capped:
        assert r["count"] == full[r["country"]]  # exact, not scan-truncated
    # cap above cardinality returns everything
    assert engine.query("QUERY orders COUNT BY country LIMIT 99").count() == len(full)
    ordered = engine.query(
        "QUERY orders COUNT BY country ORDER BY country LIMIT 1"
    ).collect()
    assert [(r["country"], r["count"]) for r in ordered] == [("DE", 1)]


def test_in_and_not(engine):
    _setup_orders(engine)
    df = engine.query('QUERY orders WHERE country IN ("DE", "BE") OR NOT plan = "pro"')
    assert {r["context_id"] for r in df.collect()} == {"c2", "c3", "c5"}


def test_bare_field_atom(engine):
    engine.execute('DEFINE flags FIELDS { "is_active": "bool" }')
    engine.execute('STORE flags FOR c1 PAYLOAD { "is_active": true }')
    engine.execute('STORE flags FOR c2 PAYLOAD { "is_active": false }')
    engine.execute("FLUSH")
    df = engine.query("QUERY flags WHERE is_active")
    assert [r["context_id"] for r in df.collect()] == ["c1"]


def test_null_semantics_not_includes_null(engine):
    engine.execute('DEFINE t FIELDS { "v": "int | null" }')
    engine.execute('STORE t FOR c1 PAYLOAD { "v": 1 }')
    engine.execute('STORE t FOR c2 PAYLOAD { }')
    engine.execute("FLUSH")
    # reference two-valued logic: comparison on null is false, NOT flips it
    assert {r["context_id"] for r in engine.query("QUERY t WHERE v = 1").collect()} == {"c1"}
    assert {r["context_id"] for r in engine.query("QUERY t WHERE NOT v = 1").collect()} == {"c2"}


def test_order_by_limit_offset(engine):
    _setup_orders(engine)
    df = engine.query("QUERY orders ORDER BY amount DESC LIMIT 2 OFFSET 1")
    assert [r["amount"] for r in df.collect()] == [18, 15]


def test_limit_zero_no_results(engine):
    _setup_orders(engine)
    assert engine.query("QUERY orders LIMIT 0").count() == 0


def test_offset_requires_limit(engine):
    _setup_orders(engine)
    with pytest.raises(QueryError):
        engine.query("QUERY orders OFFSET 5")


def test_since_filters_and_unparsable_since(engine):
    _setup_orders(engine)
    base = engine._test_clock["now"]
    df = engine.query(f'QUERY orders SINCE "{base - 1}"')
    assert df.count() == 2  # last two stores
    assert engine.query('QUERY orders SINCE "garbage"').count() == 5


def test_since_using_payload_datetime_skips_nulls(engine):
    engine.execute('DEFINE clicks FIELDS { "id": "int", "created_at": "datetime | null" }')
    engine.execute('STORE clicks FOR c1 PAYLOAD { "id": 1, "created_at": "2024-01-05T00:00:00Z" }')
    engine.execute('STORE clicks FOR c2 PAYLOAD { "id": 2, "created_at": "2024-01-01T00:00:00Z" }')
    engine.execute('STORE clicks FOR c3 PAYLOAD { "id": 3 }')
    engine.execute("FLUSH")
    df = engine.query('QUERY clicks SINCE "2024-01-03" USING created_at')
    assert [r["id"] for r in df.collect()] == [1]


def test_replay_append_order_and_projection(engine):
    engine.execute('DEFINE product FIELDS { "name": "string", "price": "int", "color": "string" }')
    engine.execute('STORE product FOR user-1 PAYLOAD { "name": "a", "price": 1, "color": "red" }')
    engine.execute('STORE product FOR user-1 PAYLOAD { "name": "b", "price": 2, "color": "blue" }')
    engine.execute('STORE product FOR user-2 PAYLOAD { "name": "c", "price": 3, "color": "green" }')
    engine.execute("FLUSH")
    df = engine.query("REPLAY product FOR user-1 RETURN [name]")
    rows = df.collect()
    assert [r["name"] for r in rows] == ["a", "b"]
    assert "price" not in df.columns and "color" not in df.columns


def test_replay_wildcard_all_types(engine):
    engine.execute('DEFINE a FIELDS { "x": "int" }')
    engine.execute('DEFINE b FIELDS { "y": "int" }')
    engine.execute('STORE a FOR c1 PAYLOAD { "x": 1 }')
    engine.execute('STORE b FOR c1 PAYLOAD { "y": 2 }')
    engine.execute("FLUSH")
    df = engine.query("REPLAY FOR c1")
    assert [r["event_type"] for r in df.collect()] == ["a", "b"]


def test_sequence_followed_by(engine):
    # Mirror of scenario sequence_followed_by_basic.
    engine.execute('DEFINE page_view FIELDS { "page": "string", "user_id": "string" }')
    engine.execute('DEFINE order_created FIELDS { "order_id": "int", "user_id": "string" }')
    engine.execute('STORE page_view FOR u1 PAYLOAD { "page": "/home", "user_id": "u1" }')
    engine.execute('STORE order_created FOR u1 PAYLOAD { "order_id": 1, "user_id": "u1" }')
    engine.execute('STORE page_view FOR u2 PAYLOAD { "page": "/checkout", "user_id": "u2" }')
    engine.execute('STORE order_created FOR u2 PAYLOAD { "order_id": 2, "user_id": "u2" }')
    engine.execute("FLUSH")
    df = engine.query("QUERY page_view FOLLOWED BY order_created LINKED BY user_id")
    rows = {(r["a_user_id"], r["b_order_id"]) for r in df.collect()}
    assert rows == {("u1", 1), ("u2", 2)}
    # per-side WHERE narrows to one funnel
    df2 = engine.query(
        'QUERY page_view FOLLOWED BY order_created LINKED BY user_id '
        'WHERE page_view.page = "/checkout"'
    )
    assert {r["a_user_id"] for r in df2.collect()} == {"u2"}


def test_sequence_followed_by_picks_first_b_at_or_after(engine):
    engine.execute('DEFINE a FIELDS { "user_id": "string" }')
    engine.execute('DEFINE b FIELDS { "user_id": "string", "n": "int" }')
    engine.execute('STORE b FOR u1 PAYLOAD { "user_id": "u1", "n": 1 }')   # before A: skipped
    engine.execute('STORE a FOR u1 PAYLOAD { "user_id": "u1" }')
    engine.execute('STORE b FOR u1 PAYLOAD { "user_id": "u1", "n": 2 }')   # first B >= A
    engine.execute('STORE b FOR u1 PAYLOAD { "user_id": "u1", "n": 3 }')
    engine.execute("FLUSH")
    df = engine.query("QUERY a FOLLOWED BY b LINKED BY user_id")
    assert [r["b_n"] for r in df.collect()] == [2]


def test_sequence_preceded_by_latest_strictly_before(engine):
    engine.execute('DEFINE pay FIELDS { "user_id": "string" }')
    engine.execute('DEFINE warn FIELDS { "user_id": "string", "n": "int" }')
    engine.execute('STORE warn FOR u1 PAYLOAD { "user_id": "u1", "n": 1 }')
    engine.execute('STORE warn FOR u1 PAYLOAD { "user_id": "u1", "n": 2 }')  # latest before
    engine.execute('STORE pay FOR u1 PAYLOAD { "user_id": "u1" }')
    engine.execute('STORE warn FOR u1 PAYLOAD { "user_id": "u1", "n": 3 }')  # after: ignored
    engine.execute("FLUSH")
    df = engine.query("QUERY pay PRECEDED BY warn LINKED BY user_id")
    assert [r["b_n"] for r in df.collect()] == [2]


def test_sequence_limit_caps_matches(engine):
    engine.execute('DEFINE a FIELDS { "user_id": "string" }')
    engine.execute('DEFINE b FIELDS { "user_id": "string" }')
    for u in ("u1", "u2", "u3"):
        engine.execute(f'STORE a FOR {u} PAYLOAD {{ "user_id": "{u}" }}')
        engine.execute(f'STORE b FOR {u} PAYLOAD {{ "user_id": "{u}" }}')
    engine.execute("FLUSH")
    df = engine.query("QUERY a FOLLOWED BY b LINKED BY user_id LIMIT 2")
    assert df.count() == 2


def test_multi_link_sequence_returns_empty(engine):
    engine.execute('DEFINE a FIELDS { "user_id": "string" }')
    engine.execute('STORE a FOR u1 PAYLOAD { "user_id": "u1" }')
    engine.execute("FLUSH")
    df = engine.query("QUERY a FOLLOWED BY a FOLLOWED BY a LINKED BY user_id")
    assert df.count() == 0


def test_remember_show_incremental(engine):
    _setup_orders(engine)
    engine.execute('REMEMBER QUERY orders WHERE country = "NL" AS nl_orders')
    df = engine.execute("SHOW nl_orders").df
    assert df.count() == 4
    # new data arrives; SHOW refreshes incrementally from the high-water mark
    engine.execute('STORE orders FOR c9 PAYLOAD { "amount": 99, "country": "NL", "plan": "pro" }')
    engine.execute("FLUSH")
    df2 = engine.execute("SHOW nl_orders").df
    assert df2.count() == 5
    with pytest.raises(MaterializationError):
        engine.execute('REMEMBER QUERY orders AS nl_orders')
    with pytest.raises(MaterializationError):
        engine.execute("SHOW nope")


def test_remember_show_aggregate_incremental_all_ops(spark, tmp_path):
    """Aggregate SHOW refresh merges a delta partial aggregate into stored
    per-group state; after more data arrives the result must equal a full
    recompute for every mergeable op (count/total/avg/min/max) plus the
    set-merged COUNT UNIQUE, including new groups born in the delta."""
    from sneldb_spark.engine import SnelDB

    q = (
        "QUERY sale COUNT, TOTAL amount, AVG amount, MIN amount, "
        "MAX amount, COUNT UNIQUE amount BY country"
    )
    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    first = [("NL", 10), ("NL", 20), ("DE", 5), ("DE", 5)]
    second = [("NL", 10), ("DE", 7), ("FR", 100)]  # dup value, new group

    for i, (c, amt) in enumerate(first):
        db.execute(f'STORE sale FOR a{i} PAYLOAD {{ "amount": {amt}, "country": "{c}" }}')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS sale_stats")
    for i, (c, amt) in enumerate(second):
        db.execute(f'STORE sale FOR b{i} PAYLOAD {{ "amount": {amt}, "country": "{c}" }}')
    db.execute("FLUSH")

    shown = db.execute("SHOW sale_stats").df
    expected = db.query(q)
    assert shown.columns == expected.columns
    key = lambda r: r["country"]  # noqa: E731
    got = sorted((r.asDict() for r in shown.collect()), key=key)
    want = sorted((r.asDict() for r in expected.collect()), key=key)
    assert got == want
    assert {r["country"] for r in got} == {"NL", "DE", "FR"}
    # a second SHOW with no new data is a no-op and stays correct
    again = sorted(
        (r.asDict() for r in db.execute("SHOW sale_stats").df.collect()), key=key
    )
    assert again == want


def test_remember_show_aggregate_global_and_bucketed(spark, tmp_path):
    """Ungrouped (single global row) and PER-bucketed aggregate
    materializations refresh through the same partial-state merge."""
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE tick FIELDS { "v": "int" }')
    db.execute('STORE tick FOR c1 PAYLOAD { "v": 1 }')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY tick COUNT, TOTAL v AS tick_total")
    db.execute("REMEMBER QUERY tick COUNT PER DAY AS tick_daily")
    db.execute('STORE tick FOR c2 PAYLOAD { "v": 41 }')
    db.execute("FLUSH")
    row = db.execute("SHOW tick_total").df.collect()[0]
    assert (row["count"], row["total_v"]) == (2, 42)
    daily = db.execute("SHOW tick_daily").df.collect()
    assert sum(r["count"] for r in daily) == 2


def test_remember_show_aggregate_incremental_approx_sketches(spark, tmp_path):
    """With approx_count_unique on, COUNT UNIQUE materializations keep an
    HLL sketch per group (O(1) state) and still refresh incrementally;
    REMEMBER and every refresh go through the same sketch estimator, so
    SHOW values never flip estimators. Small cardinalities estimate
    exactly."""
    from sneldb_spark.engine import SnelDB

    q = "QUERY sale COUNT, COUNT UNIQUE amount BY country"
    db = SnelDB(spark, str(tmp_path / "db"), approx_count_unique=True)
    db.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    for i, (c, amt) in enumerate([("NL", 10), ("NL", 20), ("DE", 5)]):
        db.execute(f'STORE sale FOR a{i} PAYLOAD {{ "amount": {amt}, "country": "{c}" }}')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS sale_u")
    first = {r["country"]: r["count_unique_amount"]
             for r in db.execute("SHOW sale_u").df.collect()}
    assert first == {"NL": 2, "DE": 1}
    # state is a binary sketch, not a value set
    state = spark.read.parquet(str(tmp_path / "db/materialized/sale_u/state"))
    assert dict(state.dtypes)["__set_amount"] == "binary"
    for i, (c, amt) in enumerate([("NL", 30), ("FR", 1)]):
        db.execute(f'STORE sale FOR b{i} PAYLOAD {{ "amount": {amt}, "country": "{c}" }}')
    db.execute("FLUSH")
    got = {r["country"]: (r["count"], r["count_unique_amount"])
           for r in db.execute("SHOW sale_u").df.collect()}
    assert got == {"NL": (3, 3), "DE": (1, 1), "FR": (1, 1)}


def test_aggregate_refresh_scans_only_delta(spark, tmp_path):
    """The refresh delta predicate must reach the Parquet scan: a
    materialized aggregate over 100 TB of history refreshes by reading
    the post-hwm slice, not by rescanning everything."""
    from sneldb_spark.commands.parser import parse_command
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    db.execute('STORE sale FOR c1 PAYLOAD { "amount": 1, "country": "NL" }')
    db.execute("FLUSH")
    q = parse_command("QUERY sale COUNT BY country")
    delta, keys = db.compiler.compile_aggregate_partial(q, hwm=(10_000, 5))
    assert keys == ["country"]
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThan(timestamp,10000)" in plan, plan


def test_compare_via_plot(engine):
    engine.execute('DEFINE purchase FIELDS { "amount": "int", "country": "string" }')
    engine.execute('DEFINE refund FIELDS { "amount": "int", "country": "string" }')
    for c, amt in (("NL", 10), ("NL", 20), ("DE", 5)):
        engine.execute(f'STORE purchase FOR c PAYLOAD {{ "amount": {amt}, "country": "{c}" }}')
    engine.execute('STORE refund FOR c PAYLOAD { "amount": 3, "country": "NL" }')
    engine.execute("FLUSH")
    df = engine.query("PLOT COUNT OF purchase VS COUNT OF refund BREAKDOWN BY country")
    rows = {r["country"]: (r["purchase_count"], r["refund_count"]) for r in df.collect()}
    assert rows == {"NL": (2, 1), "DE": (1, None)}


def test_ping_and_batch(engine):
    assert engine.execute("PING").message == "PONG"
    res = engine.execute(
        'BATCH DEFINE z FIELDS { "x": "int" }; STORE z FOR c1 PAYLOAD { "x": 1 }; FLUSH'
    )
    assert res.ok
    assert engine.query("QUERY z").count() == 1


def _setup_created_at(engine):
    engine.execute('DEFINE evt FIELDS { "id": "int", "created_at": "datetime" }')
    engine.execute('STORE evt FOR ctx1 PAYLOAD { "id": 1, "created_at": "2025-01-01T00:00:00Z" }')
    engine.execute('STORE evt FOR ctx2 PAYLOAD { "id": 2, "created_at": "2025-01-01T00:00:01Z" }')
    engine.execute("FLUSH")


def test_where_datetime_iso_equality_and_tz_offset(engine):
    # scenarios query_created_at_eq_iso8601 / created_at_tz_plus00_equivalent_to_z
    _setup_created_at(engine)
    rows = engine.query('QUERY evt WHERE created_at = "2025-01-01T00:00:01Z"').collect()
    assert [r["id"] for r in rows] == [2]
    # +02:00 offset names the same instant as 00:00:01Z
    rows = engine.query('QUERY evt WHERE created_at = "2025-01-01T02:00:01+02:00"').collect()
    assert [r["id"] for r in rows] == [2]


def test_where_datetime_invalid_string_no_results(engine):
    # scenario query_created_at_invalid_string_no_results: not an error
    _setup_created_at(engine)
    assert engine.query('QUERY evt WHERE created_at = "not-a-time"').count() == 0
    assert engine.query('QUERY evt WHERE created_at IN ("not-a-time", "2025-01-01T00:00:00Z")').count() == 1


def test_where_datetime_numeric_seconds_and_or(engine):
    # scenarios query_created_at_gt_seconds / created_at_or_two_values
    _setup_created_at(engine)
    rows = engine.query("QUERY evt WHERE created_at > 1735689600").collect()
    assert [r["id"] for r in rows] == [2]
    assert (
        engine.query(
            'QUERY evt WHERE created_at = "2025-01-01T00:00:00Z" '
            'OR created_at = "2025-01-01T00:00:01Z"'
        ).count()
        == 2
    )


def test_since_using_numeric_unit_sniffing(engine):
    # scenarios since_using_created_at_{ms,us,ns}_input*: the SINCE literal
    # magnitude selects seconds/millis/micros/nanos
    _setup_created_at(engine)
    ms = engine.query('QUERY evt SINCE "1735689600000" USING created_at')
    assert ms.count() == 2  # 00:00:00 inclusive
    us = engine.query('QUERY evt SINCE "1735689601000000" USING created_at')
    assert [r["id"] for r in us.collect()] == [2]
    ns = engine.query('QUERY evt SINCE "1735689601000000000" USING created_at')
    assert [r["id"] for r in ns.collect()] == [2]


def test_store_numeric_datetime_normalized_at_ingest(engine):
    # scenario since_using_created_at_numeric_units_selection: payload may
    # carry epoch millis; storage normalizes to epoch seconds
    engine.execute('DEFINE evn FIELDS { "id": "int", "created_at": "datetime" }')
    engine.execute('STORE evn FOR a PAYLOAD { "id": 1, "created_at": 1600000000000 }')
    engine.execute('STORE evn FOR b PAYLOAD { "id": 2, "created_at": 1600000100000 }')
    engine.execute("FLUSH")
    rows = engine.query('QUERY evn SINCE "1600000000" USING created_at').collect()
    assert sorted(r["id"] for r in rows) == [1, 2]
    assert {r["created_at"] for r in rows} == {1600000000, 1600000100}


def test_since_using_date_field_midnight_snap(engine):
    # scenario since_using_date_field: date payloads snap to midnight UTC
    engine.execute('DEFINE people FIELDS { "id": "int", "birthdate": "date" }')
    engine.execute('STORE people FOR p PAYLOAD { "id": 1, "birthdate": "2025-09-06" }')
    engine.execute('STORE people FOR p PAYLOAD { "id": 2, "birthdate": "2025-09-07" }')
    engine.execute("FLUSH")
    rows = engine.query('QUERY people SINCE "2025-09-07T00:00:00Z" USING birthdate').collect()
    assert [r["id"] for r in rows] == [2]


def test_in_operator_family(engine):
    # distills reference query_in_operator_* scenarios: negative numbers,
    # multiple IN clauses, NOT IN null-inclusion, IN + ORDER BY LIMIT,
    # IN inside aggregation
    engine.execute(
        'DEFINE items FIELDS { "id": "int", "status": "string | null", '
        '"region": "string", "score": "float" }'
    )
    rows = [
        (1, '"active"', "US", 9.5), (2, '"pending"', "EU", 7.0),
        (3, 'null', "US", 8.1), (-3, '"active"', "EU", 6.2), (0, '"done"', "US", 5.0),
    ]
    for i, st, rg, sc in rows:
        engine.execute(
            f'STORE items FOR c{i} PAYLOAD {{ "id": {i}, "status": {st}, '
            f'"region": "{rg}", "score": {sc} }}'
        )
    engine.execute("FLUSH")
    q = engine.query
    assert sorted(r["id"] for r in q("QUERY items WHERE id IN (-3, 0, 99)").collect()) == [-3, 0]
    assert sorted(
        r["id"] for r in q('QUERY items WHERE id IN (1, 2, 3) AND status IN ("active", "pending")').collect()
    ) == [1, 2]
    # NOT IN includes the null-status row (two-valued semantics)
    assert sorted(
        r["id"] for r in q('QUERY items WHERE NOT status IN ("active", "pending")').collect()
    ) == [0, 3]
    top = q("QUERY items WHERE id IN (1, 2, 3, 0) ORDER BY score DESC LIMIT 2").collect()
    assert [r["id"] for r in top] == [1, 3]
    agg = {
        r["region"]: r["count"]
        for r in q('QUERY items WHERE region IN ("US", "EU") COUNT BY region').collect()
    }
    assert agg == {"US": 3, "EU": 2}


def test_restart_recovery(engine, spark):
    # wal_recover_* analogue: durability lives in committed Parquet + the
    # JSON schema registry; a fresh engine on the same root sees both, and
    # materializations survive too.
    from sneldb_spark.engine import SnelDB

    engine.execute('DEFINE ev FIELDS { "n": "int" }')
    for i in range(3):
        engine.execute(f'STORE ev FOR c{i} PAYLOAD {{ "n": {i} }}')
    engine.execute("FLUSH")
    engine.execute("REMEMBER QUERY ev WHERE n >= 1 AS big")

    reopened = SnelDB(spark, engine.root)
    assert reopened.query("QUERY ev").count() == 3
    assert reopened.store.registry.get("ev").fields["n"].kind == "i64"
    assert reopened.execute("SHOW big").df.count() == 2
    # and the reopened engine can keep writing
    reopened.execute('STORE ev FOR c9 PAYLOAD { "n": 9 }')
    reopened.execute("FLUSH")
    assert reopened.query("QUERY ev").count() == 4


# -- pre-flush (memtable) visibility -----------------------------------------
# The reference serves STOREd events immediately from the memtable
# (src/engine/core/read/flow/operators/memtable_source.rs); 55 of its 256
# integration scenarios STORE then QUERY/REPLAY with no FLUSH. These port
# the canonical shapes WITHOUT the FLUSH crutch.


def test_query_in_memory_only(engine):
    # scenario query_in_memory_only: STORE then QUERY, nothing flushed.
    engine.execute('DEFINE cart_updated FIELDS { "sku": "string", "qty": "int" }')
    engine.execute('STORE cart_updated FOR user-1 PAYLOAD { "sku": "ABC123", "qty": 2 }')
    rows = engine.query('QUERY cart_updated WHERE sku = "ABC123"').collect()
    assert [r["sku"] for r in rows] == ["ABC123"]


def test_multi_context_query_pre_flush(engine):
    # scenario multi_context_query: four STOREs, filtered QUERY, no FLUSH.
    engine.execute('DEFINE login FIELDS { "device": "string" }')
    for u, dev in [("user-1", "android"), ("user-2", "android"),
                   ("user-3", "web"), ("user-4", "android")]:
        engine.execute(f'STORE login FOR {u} PAYLOAD {{ "device": "{dev}" }}')
    rows = engine.query('QUERY login WHERE device = "android"').collect()
    assert {r["context_id"] for r in rows} == {"user-1", "user-2", "user-4"}


def test_segment_memory_hybrid_query(engine):
    # scenario segment_memory_hybrid_query: some events committed to
    # segments, some still buffered — one QUERY sees both.
    engine.execute('DEFINE order_created FIELDS { "order_id": "int", "status": "string" }')
    for i, status in [(1, "confirmed"), (2, "confirmed"), (3, "confirmed")]:
        engine.execute(
            f'STORE order_created FOR customer-{i} '
            f'PAYLOAD {{ "order_id": {i}, "status": "{status}" }}'
        )
    engine.execute("FLUSH")
    for i, status in [(4, "confirmed"), (5, "pending"), (6, "pending"), (7, "confirmed")]:
        engine.execute(
            f'STORE order_created FOR customer-{i} '
            f'PAYLOAD {{ "order_id": {i}, "status": "{status}" }}'
        )
    rows = engine.query('QUERY order_created WHERE status = "confirmed"').collect()
    assert {r["context_id"] for r in rows} == {
        "customer-1", "customer-2", "customer-3", "customer-4", "customer-7"
    }


def test_replay_pre_flush(engine):
    engine.execute('DEFINE tap FIELDS { "n": "int" }')
    engine.execute('STORE tap FOR c1 PAYLOAD { "n": 1 }')
    engine.execute('STORE tap FOR c2 PAYLOAD { "n": 2 }')
    engine.execute('STORE tap FOR c1 PAYLOAD { "n": 3 }')
    rows = engine.query("REPLAY tap FOR c1").collect()
    assert [r["n"] for r in rows] == [1, 3]  # replay order preserved


def test_wildcard_replay_sees_pending_only_type(engine):
    # A type whose ONLY rows are still buffered must appear in the
    # all-types wildcard read.
    engine.execute('DEFINE seen FIELDS { "x": "int" }')
    engine.execute('DEFINE hidden FIELDS { "y": "int" }')
    engine.execute('STORE seen FOR c1 PAYLOAD { "x": 1 }')
    engine.execute("FLUSH")
    engine.execute('STORE hidden FOR c1 PAYLOAD { "y": 2 }')
    rows = engine.query("REPLAY FOR c1").collect()
    assert {r["event_type"] for r in rows} == {"seen", "hidden"}


def test_aggregate_over_hybrid_memtable_segment(engine):
    engine.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    engine.execute('STORE sale FOR c1 PAYLOAD { "amount": 10, "country": "NL" }')
    engine.execute("FLUSH")
    engine.execute('STORE sale FOR c2 PAYLOAD { "amount": 5, "country": "NL" }')
    engine.execute('STORE sale FOR c3 PAYLOAD { "amount": 7, "country": "DE" }')
    out = {
        r["country"]: (r["count"], r["total_amount"])
        for r in engine.query("QUERY sale COUNT, TOTAL amount BY country").collect()
    }
    assert out == {"NL": (2, 15), "DE": (1, 7)}


def test_flush_then_query_unchanged(engine):
    # The same command returns the same rows before and after FLUSH —
    # visibility is continuous across the memtable->segment handover.
    engine.execute('DEFINE ping FIELDS { "n": "int" }')
    for i in range(5):
        engine.execute(f'STORE ping FOR c{i} PAYLOAD {{ "n": {i} }}')
    before = sorted(r["n"] for r in engine.query("QUERY ping WHERE n >= 2").collect())
    engine.execute("FLUSH")
    after = sorted(r["n"] for r in engine.query("QUERY ping WHERE n >= 2").collect())
    assert before == after == [2, 3, 4]


def test_using_time_drives_sequence_not_since(engine):
    # USING TIME <f> orders the FOLLOWED BY match on <f>; SINCE and PER
    # buckets stay on server timestamp (reference splits Clause::UsingTime
    # from Clause::Using, query.rs:106-113). Hand-computed: on created_at
    # the first close >= open(100) is the one at 150, even though on
    # server time the close at created_at=50 arrives first.
    engine.execute('DEFINE open FIELDS { "created_at": "int" }')
    engine.execute('DEFINE close FIELDS { "created_at": "int" }')
    engine.execute('STORE open FOR c1 PAYLOAD { "created_at": 100 }')
    engine.execute('STORE close FOR c1 PAYLOAD { "created_at": 50 }')
    engine.execute('STORE close FOR c1 PAYLOAD { "created_at": 150 }')
    engine.execute("FLUSH")

    rows = engine.query(
        "QUERY open FOLLOWED BY close LINKED BY context_id USING TIME created_at"
    ).collect()
    assert [(r["a_created_at"], r["b_created_at"]) for r in rows] == [(100, 150)]

    # Default (no USING TIME) matches on server time: earliest close wins.
    default = engine.query(
        "QUERY open FOLLOWED BY close LINKED BY context_id"
    ).collect()
    assert [(r["a_created_at"], r["b_created_at"]) for r in default] == [(100, 50)]

    # SINCE 1000 binds on server timestamp (~1.7e9, all rows pass); were it
    # wrongly bound on created_at (50..150 < 1000) the result would be empty.
    since = engine.query(
        "QUERY open FOLLOWED BY close LINKED BY context_id "
        "USING TIME created_at SINCE 1000"
    ).collect()
    assert [(r["a_created_at"], r["b_created_at"]) for r in since] == [(100, 150)]

    # PER DAY buckets on server timestamp too: one epoch-day bucket ~1.7e9.
    bucketed = engine.query(
        "QUERY open FOLLOWED BY close LINKED BY context_id "
        "USING TIME created_at COUNT PER DAY"
    ).collect()
    assert len(bucketed) == 1 and bucketed[0]["bucket"] > 1_000_000_000
    assert bucketed[0]["count"] == 1


def test_wal_recovers_unflushed_stores(engine, spark):
    # wal_recover_no_flush / wal_recover_multi_shard: STORE without FLUSH,
    # restart the engine on the same root, rows are still there — the
    # pending buffer is WAL-backed (reference src/engine/core/wal/).
    from sneldb_spark.engine import SnelDB

    engine.execute('DEFINE login FIELDS { "device": "string" }')
    engine.execute('STORE login FOR u1 PAYLOAD { "device": "android" }')
    engine.execute('STORE login FOR u2 PAYLOAD { "device": "web" }')

    reopened = SnelDB(spark, engine.root)
    rows = {r["context_id"]: r["device"]
            for r in reopened.query('QUERY login WHERE device = "android"').collect()}
    assert rows == {"u1": "android"}
    # replayed rows keep their original event ids and flush cleanly
    ids_before = {r["event_id"] for r in reopened.query("QUERY login").collect()}
    reopened.execute("FLUSH")
    ids_after = {r["event_id"] for r in reopened.query("QUERY login").collect()}
    assert ids_before == ids_after and len(ids_after) == 2
    # wal is gone after the commit; a third engine sees committed data only
    third = SnelDB(spark, engine.root)
    assert third.store._pending == {}
    assert third.query("QUERY login").count() == 2


def test_wal_conservative_mode_archives_before_delete(spark, tmp_path):
    # wal_archiving.md: with conservative_mode on, every retired WAL file
    # is compressed into archive_dir before deletion; archives are
    # self-describing (header) and recoverable as a distributed scan.
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store import wal_archive as wa

    arch = str(tmp_path / "archive")
    db = SnelDB(spark, str(tmp_path / "db"), wal_archive_dir=arch)
    db.execute('DEFINE tap FIELDS { "n": "int" }')
    for i in range(5):
        db.execute(f'STORE tap FOR c{i} PAYLOAD {{ "n": {i} }}')
    db.execute("FLUSH")
    db.execute('STORE tap FOR c9 PAYLOAD { "n": 9 }')
    db.execute("FLUSH")

    archives = wa.list_archives(arch)
    assert len(archives) == 2
    assert [a["n_entries"] for a in archives] == [5, 1]
    assert all(a["ts_min"] is not None for a in archives)
    # wal dir holds no retired logs
    import os
    leftover = [f for f in os.listdir(db.store._wal_dir)
                if f.startswith("commit-")] if os.path.isdir(db.store._wal_dir) else []
    assert leftover == []

    # single-archive inspection + export round-trip
    entries = list(wa.iter_entries(archives[0]["path"]))
    assert len(entries) == 5 and {e["t"] for e in entries} == {"tap"}
    out = str(tmp_path / "exp.jsonl")
    assert wa.export_json(archives[0]["path"], out) == 5

    # distributed recovery sees every archived entry with payload intact
    rec = wa.recover_df(spark, arch)
    assert rec.count() == 6
    ns = sorted(r["r"]["n"] for r in rec.collect())
    assert ns == [0, 1, 2, 3, 4, 9]


def test_wal_archive_failure_quarantines_instead_of_duplicating(
    spark, tmp_path, monkeypatch
):
    # A persistent archive failure (full/unwritable archive dir) must NOT
    # leave the committed WAL in the live wal dir: its rows are already
    # durable in Parquet, and replay at reopen would write them to
    # Parquet AGAIN on the next flush — duplicating history on every
    # restart. The retired log goes to wal/quarantine instead.
    import os

    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store import wal_archive as wa

    arch = str(tmp_path / "archive")
    db = SnelDB(spark, str(tmp_path / "db"), wal_archive_dir=arch)
    db.execute('DEFINE tap FIELDS { "n": "int" }')
    db.execute('STORE tap FOR c1 PAYLOAD { "n": 1 }')

    def boom(*a, **k):
        raise OSError("archive dir unwritable")

    monkeypatch.setattr(wa, "archive_wal_file", boom)
    db.execute("FLUSH")

    wal_dir = db.store._wal_dir
    live = [f for f in os.listdir(wal_dir) if f.endswith(".jsonl")]
    assert live == []  # nothing left for _replay_wal to re-ingest
    qdir = os.path.join(wal_dir, "quarantine")
    assert os.path.isdir(qdir) and len(os.listdir(qdir)) == 1

    # a reopened engine sees the row exactly once, and a further flush
    # does not duplicate it
    reopened = SnelDB(spark, db.root, wal_archive_dir=arch)
    assert reopened.query("QUERY tap").count() == 1
    reopened.execute("FLUSH")
    assert reopened.query("QUERY tap").count() == 1


def test_wal_conservative_mode_off_archives_nothing(spark, tmp_path):
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store import wal_archive as wa

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE tap FIELDS { "n": "int" }')
    db.execute('STORE tap FOR c1 PAYLOAD { "n": 1 }')
    db.execute("FLUSH")
    assert wa.list_archives(str(tmp_path / "db" / "wal_archive")) == []


def test_remember_show_sequence_incremental_followed_by(spark, tmp_path):
    """FOLLOWED BY materializations refresh from carried state (pending
    A's + boundary-second B's) instead of rescanning history. Covers: a
    new B completing an OLD pending A, a wholly-new pair, a new pending A
    carried across TWO refreshes, and the boundary tie — a new A landing
    on the high-water second pairing with an old B stored that same
    second."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    q = "QUERY signup FOLLOWED BY purchase LINKED BY user_id"

    def store(et, user, same_second=False):
        if same_second:
            clock["now"] -= 1
        db.execute(f'STORE {et} FOR c{clock["now"]}x{user} PAYLOAD {{ "user_id": "{user}" }}')

    def pairs(df):
        return sorted((r["a_event_id"], r["b_event_id"]) for r in df.collect())

    # phase 1: u1 complete pair; u2 pending signup; boundary B: purchase
    # for u7 with no signup yet, stored on what becomes the hwm second
    store("signup", "u1"); store("purchase", "u1"); store("signup", "u2")
    store("purchase", "u7")
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS funnel")
    assert pairs(db.execute("SHOW funnel").df) == pairs(db.query(q))
    state = tmp_path / "db" / "materialized" / "funnel" / "state"
    # round 12: carry parts land in ONE partitioned write + schema sidecar
    live = db.materializer._live(str(state))
    # a single link carries the state of a 2-step chain
    assert db.materializer._state_part_at(live, "pending_s0") is not None
    assert db.materializer._state_part_at(live, "boundary_1") is not None

    # prove SHOW goes through the delta path, never the full recompute
    refreshes = {"n": 0}
    orig_refresh = db.materializer._refresh_chain

    def spy(*args, **kw):
        refreshes["n"] += 1
        return orig_refresh(*args, **kw)

    db.materializer._refresh_chain = spy

    # phase 2: u7 signup lands ON the old hwm second (ties: B >= A holds);
    # u2's purchase completes the old pending A; u4 is a fresh pair; u5 pending
    store("signup", "u7", same_second=True)
    store("purchase", "u2"); store("signup", "u4"); store("purchase", "u4")
    store("signup", "u5")
    db.execute("FLUSH")
    shown = pairs(db.execute("SHOW funnel").df)
    assert shown == pairs(db.query(q))
    users = {(r["a_user_id"]) for r in db.execute("SHOW funnel").df.collect()}
    assert users == {"u1", "u2", "u4", "u7"}

    # phase 3: u5 (pending since phase 2) completes — state survived a refresh
    store("purchase", "u5")
    db.execute("FLUSH")
    assert pairs(db.execute("SHOW funnel").df) == pairs(db.query(q))
    # no-op SHOW stays stable and does NOT re-run the refresh
    assert pairs(db.execute("SHOW funnel").df) == pairs(db.query(q))
    assert refreshes["n"] == 2  # two stale SHOWs, one no-op


def test_remember_show_sequence_incremental_preceded_by(spark, tmp_path):
    """PRECEDED BY materializations carry only two B rows per link group
    (latest overall + latest before the hwm second). Covers: a new A
    pairing with the last old B, and the strict-tie case — a new A on the
    hwm second must skip same-second B's and pair with the carried
    last-before-boundary B."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    q = "QUERY signup PRECEDED BY purchase LINKED BY user_id"

    def store(et, user, same_second=False):
        if same_second:
            clock["now"] -= 1
        db.execute(f'STORE {et} FOR c{clock["now"]}x{user} PAYLOAD {{ "user_id": "{user}" }}')

    def pairs(df):
        return sorted((r["a_event_id"], r["b_event_id"]) for r in df.collect())

    # phase 1: u9 has an early purchase AND one on the hwm second; u8 has
    # one purchase; u1 has a matched pair already
    store("purchase", "u1"); store("signup", "u1")
    store("purchase", "u9"); store("purchase", "u8")
    store("purchase", "u9")   # this becomes the hwm second
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS preq")
    assert pairs(db.execute("SHOW preq").df) == pairs(db.query(q))

    # phase 2: u9 signup ON the hwm second -> strict 'before' must pick
    # the EARLY u9 purchase (carried as last-before-boundary state);
    # u8 signup later -> pairs with the carried last-overall B
    store("signup", "u9", same_second=True)
    store("signup", "u8")
    db.execute("FLUSH")
    shown = db.execute("SHOW preq").df
    assert pairs(shown) == pairs(db.query(q))
    by_user = {r["a_user_id"]: (r["a_timestamp"], r["b_timestamp"]) for r in shown.collect()}
    assert set(by_user) == {"u1", "u8", "u9"}
    a_ts9, b_ts9 = by_user["u9"]
    assert b_ts9 < a_ts9  # strict: skipped the same-second purchase

    # phase 3: one more round through the refreshed state
    store("purchase", "u2"); store("signup", "u2")
    db.execute("FLUSH")
    assert pairs(db.execute("SHOW preq").df) == pairs(db.query(q))


def test_remember_show_sequence_aggregate_incremental(spark, tmp_path):
    """Sequence AGGREGATE materializations refresh by aggregating only
    the delta pairs into the stored per-group state. After new events
    complete old pending A's, create new pairs, and birth a new group,
    SHOW must equal a full recompute — including COUNT UNIQUE via exact
    set union — and must go through the delta path, not a recompute."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string", "k": "int" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    q = ("QUERY signup FOLLOWED BY purchase LINKED BY user_id "
         "COUNT, COUNT UNIQUE user_id BY k")

    def store(et, user, k=None):
        payload = f'{{ "user_id": "{user}" }}' if k is None else (
            f'{{ "user_id": "{user}", "k": {k} }}')
        db.execute(f'STORE {et} FOR c{clock["now"]}x{user} PAYLOAD {payload}')

    def rows(df):
        return sorted((r.asDict() for r in df.collect()), key=lambda d: repr(d))

    # phase 1: k=1 has one pair (u1) and a pending signup (u2); k=2 empty
    store("signup", "u1", 1); store("purchase", "u1")
    store("signup", "u2", 1)
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS funnel_by_k")
    assert rows(db.execute("SHOW funnel_by_k").df) == rows(db.query(q))

    refreshes = {"n": 0}
    orig = db.materializer._refresh_partial

    def spy(*a, **k):
        refreshes["n"] += not k.get("bootstrap")
        return orig(*a, **k)

    db.materializer._refresh_partial = spy

    # phase 2: u2's purchase completes the pending pair (k=1 count grows);
    # u3/u4 create a brand-new group k=7
    store("purchase", "u2")
    store("signup", "u3", 7); store("purchase", "u3")
    store("signup", "u4", 7); store("purchase", "u4")
    db.execute("FLUSH")
    shown = db.execute("SHOW funnel_by_k").df
    assert rows(shown) == rows(db.query(q))
    got = {r["k"]: (r["count"], r["count_unique_user_id"]) for r in shown.collect()}
    assert got == {1: (2, 2), 7: (2, 2)}

    # phase 3: one more delta through the refreshed state
    store("signup", "u5", 7); store("purchase", "u5")
    db.execute("FLUSH")
    assert rows(db.execute("SHOW funnel_by_k").df) == rows(db.query(q))
    assert refreshes["n"] == 2

    # ungrouped sequence aggregate refreshes through the same path
    g = "QUERY signup FOLLOWED BY purchase LINKED BY user_id COUNT"
    db.execute(f"REMEMBER {g} AS funnel_total")
    store("signup", "u6", 1); store("purchase", "u6")
    db.execute("FLUSH")
    assert rows(db.execute("SHOW funnel_total").df) == rows(db.query(g))


@pytest.mark.parametrize(
    "q",
    [
        "QUERY signup COUNT",
        "QUERY signup FOLLOWED BY purchase LINKED BY user_id COUNT",
        "PLOT COUNT OF signup VS COUNT OF purchase",
    ],
    ids=["aggregate", "sequence_aggregate", "compare"],
)
def test_partial_state_refresh_is_crash_idempotent(spark, tmp_path, q):
    """If a refresh dies after publishing the state but before the
    manifest hwm write, the next SHOW must NOT re-merge the same delta
    (the state-dir hwm marker is authoritative) — for every partial-state
    shape. Simulated by resetting the manifest hwm to its pre-refresh
    value after a successful SHOW."""
    import json as _json

    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')

    def store(et, user):
        db.execute(f'STORE {et} FOR c{clock["now"]}x{user} PAYLOAD {{ "user_id": "{user}" }}')

    def counts(df):
        return {v for r in df.collect() for v in r}

    store("signup", "u1"); store("purchase", "u1")
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS ft")
    mpath = tmp_path / "db" / "materialized" / "ft" / "manifest.json"
    pre = _json.loads(mpath.read_text())

    store("signup", "u2"); store("purchase", "u2")
    db.execute("FLUSH")
    assert counts(db.execute("SHOW ft").df) == {2}

    # crash simulation: manifest hwm rolls back, state dirs stay swapped
    post = _json.loads(mpath.read_text())
    post["hwm_ts"], post["hwm_id"] = pre["hwm_ts"], pre["hwm_id"]
    mpath.write_text(_json.dumps(post))
    assert counts(db.execute("SHOW ft").df) == {2}  # not 3
    # and the system has healed: further data still refreshes exactly once
    store("signup", "u3"); store("purchase", "u3")
    db.execute("FLUSH")
    assert counts(db.execute("SHOW ft").df) == {3}
    assert counts(db.execute(q).df) == {3}


def test_sequence_event_refresh_is_crash_idempotent(spark, tmp_path):
    """Event-shaped sequence refresh: rolling the manifest hwm back (a
    crash between the state swap and the manifest write) must not
    duplicate pairs — the in-state marker wins and the interval segment
    overwrites itself."""
    import json as _json

    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    q = "QUERY signup FOLLOWED BY purchase LINKED BY user_id"

    def store(et, user):
        db.execute(f'STORE {et} FOR c{clock["now"]}x{user} PAYLOAD {{ "user_id": "{user}" }}')

    store("signup", "u1"); store("purchase", "u1")
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS fx")
    mpath = tmp_path / "db" / "materialized" / "fx" / "manifest.json"
    pre = _json.loads(mpath.read_text())

    store("signup", "u2"); store("purchase", "u2")
    db.execute("FLUSH")
    assert db.execute("SHOW fx").df.count() == 2
    # serve-first SHOW folds in the background: join it so the manifest
    # rollback below actually simulates a crash AFTER the state swap
    assert db.materializer.quiesce("fx") == []

    post = _json.loads(mpath.read_text())
    post["hwm_ts"], post["hwm_id"] = pre["hwm_ts"], pre["hwm_id"]
    mpath.write_text(_json.dumps(post))
    assert db.execute("SHOW fx").df.count() == 2  # not 3/4
    assert db.materializer.quiesce("fx") == []

    store("signup", "u3"); store("purchase", "u3")
    db.execute("FLUSH")
    assert db.execute("SHOW fx").df.count() == 3


def test_remember_show_compare_incremental(spark, tmp_path):
    """REMEMBER of a COMPARE/PLOT (extension): each aggregate side keeps
    its own partial state; SHOW after new data merges only per-side
    deltas and re-runs the group-count-sized side merge — the result must
    equal a fresh COMPARE compile, including groups born in the delta on
    one side only (full-outer null semantics)."""
    from sneldb_spark.engine import SnelDB

    cmp_q = "PLOT COUNT OF buy VS TOTAL(ms) OF visit OVER day(timestamp)"
    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE buy FIELDS { "amount": "int" }')
    db.execute('DEFINE visit FIELDS { "ms": "int" }')
    db.execute('STORE buy FOR c1 PAYLOAD { "amount": 5 }')
    db.execute('STORE visit FOR c1 PAYLOAD { "ms": 30 }')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {cmp_q} AS funnel_board")
    db.execute('STORE buy FOR c2 PAYLOAD { "amount": 7 }')
    db.execute('STORE visit FOR c2 PAYLOAD { "ms": 12 }')
    db.execute('STORE visit FOR c3 PAYLOAD { "ms": 9 }')
    db.execute("FLUSH")

    shown = db.execute(f"SHOW funnel_board").df
    expected = db.execute(cmp_q).df
    assert shown.columns == expected.columns
    got = sorted((tuple(r) for r in shown.collect()))
    want = sorted((tuple(r) for r in expected.collect()))
    assert got == want and len(got) >= 1
    # refresh state advanced: a second SHOW with no new data is stable
    again = sorted(tuple(r) for r in db.execute("SHOW funnel_board").df.collect())
    assert again == want


def test_remember_show_compare_refresh_is_delta_scan(spark, tmp_path):
    """The compare refresh must aggregate only rows past the stored
    high-water mark: the per-side delta plan carries the hwm predicate
    down to the scan."""
    from sneldb_spark.commands.serde import compare_from_json
    import json as _json
    import os as _os

    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE m1 FIELDS { "v": "int" }')
    db.execute('DEFINE m2 FIELDS { "v": "int" }')
    db.execute('STORE m1 FOR c1 PAYLOAD { "v": 1 }')
    db.execute('STORE m2 FOR c1 PAYLOAD { "v": 2 }')
    db.execute("FLUSH")
    db.execute("REMEMBER PLOT COUNT OF m1 VS COUNT OF m2 "
               "BREAKDOWN BY context_id AS board")
    mp = _os.path.join(str(tmp_path / "db"), "materialized", "board", "manifest.json")
    with open(mp) as f:
        manifest = _json.load(f)
    assert manifest["query"].get("compare") and len(
        manifest["compare_state_keys"]) == 2
    c = compare_from_json(manifest["query"])
    plan = db.compiler.compile_aggregate_partial(
        c.queries[0], hwm=(manifest["hwm_ts"], manifest["hwm_id"])
    )[0]._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "timestamp" in plan


def test_remember_compare_with_limit_side_recomputes(spark, tmp_path):
    """A COMPARE side with LIMIT is not state-mergeable (the capped group
    set can change); the materialization must fall back to full recompute
    and still be correct."""
    from sneldb_spark.engine import SnelDB

    # TOP caps each side's group set -> sides carry LIMIT -> not mergeable
    cmp_q = "PLOT COUNT OF a1 VS COUNT OF a2 BREAKDOWN BY context_id TOP 1"
    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE a1 FIELDS { "v": "int" }')
    db.execute('DEFINE a2 FIELDS { "v": "int" }')
    db.execute('STORE a1 FOR x PAYLOAD { "v": 1 }')
    db.execute('STORE a2 FOR x PAYLOAD { "v": 1 }')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {cmp_q} AS capped_board")
    db.execute('STORE a1 FOR x PAYLOAD { "v": 2 }')
    db.execute("FLUSH")
    got = sorted(tuple(r) for r in db.execute("SHOW capped_board").df.collect())
    want = sorted(tuple(r) for r in db.execute(cmp_q).df.collect())
    assert got == want


def test_materializer_lifecycle_forget_names_describe(spark, tmp_path):
    """names/describe/forget lifecycle: describe reports kind + staleness
    without running a Spark job; FORGET drops everything; SHOW after
    FORGET errors."""
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE t FIELDS { "v": "int" }')
    db.execute('STORE t FOR c1 PAYLOAD { "v": 1 }')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY t COUNT AS t_count")
    db.execute("REMEMBER QUERY t AS t_rows")
    m = db.materializer
    assert m.names() == ["t_count", "t_rows"]
    d = m.describe("t_count")
    assert d["kind"] == "aggregate" and d["stale"] is False
    assert d["refresh"] == "incremental"
    assert m.describe("t_rows")["kind"] == "events"
    assert m.describe("t_rows")["refresh"] == "incremental"
    # kind comes from the query, refresh from the shape REMEMBER chose: a
    # group-LIMIT aggregate and a USING TIME sequence recompute
    db.execute('DEFINE u FIELDS { "v": "int", "seen": "int" }')
    db.execute('STORE u FOR c1 PAYLOAD { "v": 1, "seen": 5 }')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY t COUNT BY v LIMIT 1 AS t_top")
    db.execute(
        "REMEMBER QUERY u FOLLOWED BY u LINKED BY v USING TIME seen AS t_seq"
    )
    db.execute("REMEMBER QUERY t FOLLOWED BY u LINKED BY v AS t_steps")
    assert (m.describe("t_top")["kind"], m.describe("t_top")["refresh"]) == (
        "aggregate", "recompute")
    assert (m.describe("t_seq")["kind"], m.describe("t_seq")["refresh"]) == (
        "sequence", "recompute")
    assert (m.describe("t_steps")["kind"], m.describe("t_steps")["refresh"]) == (
        "sequence", "incremental")
    for extra in ("t_top", "t_seq", "t_steps"):
        db.execute(f"FORGET {extra}")
    db.execute('STORE t FOR c2 PAYLOAD { "v": 2 }')
    db.execute("FLUSH")
    assert m.describe("t_count")["stale"] is True
    r = db.execute("FORGET t_count")
    assert r.ok and m.names() == ["t_rows"]
    bad = db.try_execute("SHOW t_count")
    assert not bad.ok


def test_materializer_compact_segments(spark, tmp_path):
    """Segment compaction rewrites the append-only interval layout into
    one base segment: same rows, fewer directories, refresh bookkeeping
    (consumed-hwm marker) preserved so later SHOWs stay incremental."""
    import os as _os

    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE ev FIELDS { "v": "int" }')
    db.execute('STORE ev FOR c0 PAYLOAD { "v": 0 }')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY ev AS ev_all")
    for i in range(1, 4):  # three refreshes -> three interval segments
        db.execute(f'STORE ev FOR c{i} PAYLOAD {{ "v": {i} }}')
        db.execute("FLUSH")
        db.execute("SHOW ev_all")
        assert db.materializer.quiesce("ev_all") == []  # fold lands
    data = _os.path.join(str(tmp_path / "db"), "materialized", "ev_all", "data")
    # resolve(): compaction on the (default) grace backend publishes the
    # rewritten layout into a versioned sibling prefix
    live = lambda: db.materializer.storage.resolve(data)  # noqa: E731
    before = {d for d in _os.listdir(live()) if d.startswith("d_")}
    assert len(before) == 3
    db.materializer.compact("ev_all")
    after = {d for d in _os.listdir(live()) if d.startswith("d_")}
    assert after == set()
    rows = sorted(r["v"] for r in db.execute("SHOW ev_all").df.collect())
    assert rows == [0, 1, 2, 3]
    # still incremental after compaction
    db.execute('STORE ev FOR c9 PAYLOAD { "v": 9 }')
    db.execute("FLUSH")
    rows = sorted(r["v"] for r in db.execute("SHOW ev_all").df.collect())
    assert rows == [0, 1, 2, 3, 9]
    assert db.materializer.quiesce("ev_all") == []
    assert any(d.startswith("d_") for d in _os.listdir(live()))


def test_multi_link_chain_extension(spark, tmp_path):
    """Default keeps reference parity (multi-link chains return empty);
    with multi_link=True the same query compiles as composed as-of
    windows — including WHERE side-rewrites, chain aggregates, and LIMIT
    capping matched chains."""
    from sneldb_spark.engine import SnelDB

    def seed(db):
        db.execute('DEFINE visit FIELDS { "page": "string" }')
        db.execute('DEFINE signup FIELDS { "plan": "string" }')
        db.execute('DEFINE buy FIELDS { "amount": "int" }')
        for ctx, cmds in {
            "u1": [('visit', '{ "page": "/" }'), ('signup', '{ "plan": "pro" }'),
                   ('buy', '{ "amount": 10 }')],
            "u2": [('visit', '{ "page": "/" }'), ('signup', '{ "plan": "basic" }')],
            "u3": [('signup', '{ "plan": "pro" }'), ('visit', '{ "page": "/" }'),
                   ('buy', '{ "amount": 5 }')],
        }.items():
            for et, payload in cmds:
                db.execute(f"STORE {et} FOR {ctx} PAYLOAD {payload}")
        db.execute("FLUSH")

    q = "QUERY visit FOLLOWED BY signup FOLLOWED BY buy LINKED BY context_id"

    def ticking(start):
        clock = {"now": start}

        def tick():
            clock["now"] += 1
            return clock["now"]

        return tick

    plain = SnelDB(spark, str(tmp_path / "plain"), clock=ticking(1_700_000_000))
    seed(plain)
    assert plain.query(q).count() == 0  # reference parity

    db = SnelDB(spark, str(tmp_path / "ext"), multi_link=True,
                clock=ticking(1_700_000_000))
    seed(db)
    rows = db.query(q).collect()
    # u1: visit -> signup -> buy in order. u2: no buy. u3: signup precedes
    # visit, but a LATER signup does not exist, so no chain (the cursor
    # needs signup at-or-after the visit -> absent).
    assert {r["s0_context_id"] for r in rows} == {"u1"}
    r = rows[0]
    assert r["s0_timestamp"] <= r["s1_timestamp"] <= r["s2_timestamp"]

    # WHERE on a step + chain aggregate + LIMIT caps chains
    agg = db.query(
        "QUERY visit FOLLOWED BY signup FOLLOWED BY buy LINKED BY context_id "
        'WHERE signup.plan = "pro" COUNT BY context_id'
    ).collect()
    assert {(r["context_id"], r["count"]) for r in agg} == {("u1", 1)}
    assert db.query(q + " LIMIT 0").count() == 0


def test_remember_compare_crash_between_side_merge_and_manifest(
    spark, tmp_path, monkeypatch
):
    """A crash after side 0's state publish (marker advanced) but before
    side 1's — so before the manifest write — must NOT double-merge side
    0's delta on the next SHOW: the in-state hwm marker wins over the
    stale manifest lower bound."""
    import os

    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE m1 FIELDS { "v": "int" }')
    db.execute('DEFINE m2 FIELDS { "v": "int" }')
    db.execute('STORE m1 FOR c1 PAYLOAD { "v": 1 }')
    db.execute('STORE m2 FOR c1 PAYLOAD { "v": 1 }')
    db.execute("FLUSH")
    db.execute("REMEMBER PLOT COUNT OF m1 VS COUNT OF m2 "
               "BREAKDOWN BY context_id AS board")
    db.execute('STORE m1 FOR c1 PAYLOAD { "v": 2 }')
    db.execute('STORE m2 FOR c1 PAYLOAD { "v": 2 }')
    db.execute("FLUSH")

    m = db.materializer
    side1 = os.path.join(m._dir("board"), "cstate", "side_1")
    publish = m.storage.publish_dir

    def crash_on_side1(dst, *a, **k):
        if dst == side1:
            raise OSError("injected crash before side 1's state publish")
        return publish(dst, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(m.storage, "publish_dir", crash_on_side1)
        with pytest.raises(OSError, match="injected"):
            db.execute("SHOW board")
    # next SHOW resumes: side 0 skipped via marker, side 1 merged, result exact
    got = sorted(tuple(r) for r in db.execute("SHOW board").df.collect())
    want = sorted(tuple(r) for r in db.execute(
        "PLOT COUNT OF m1 VS COUNT OF m2 BREAKDOWN BY context_id").df.collect())
    assert got == want
    assert got[0][1] == 2 and got[0][2] == 2  # counts include the delta ONCE


def test_within_conversion_window(spark, tmp_path):
    """WITHIN <seconds> (extension): a funnel pair only counts when the
    matched event lands inside the window; the closest-candidate rule
    means no fallback to a later in-window event."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE s FIELDS { "v": "int" }')
    db.execute('DEFINE p FIELDS { "v": "int" }')
    db.execute('STORE s FOR fast PAYLOAD { "v": 1 }')
    db.execute('STORE p FOR fast PAYLOAD { "v": 1 }')   # gap 1s
    db.execute('STORE s FOR slow PAYLOAD { "v": 1 }')
    for _ in range(10):
        db.execute("PING")  # PING doesn't tick; pad with stores elsewhere
    for i in range(8):
        db.execute(f'STORE s FOR pad{i} PAYLOAD {{ "v": 1 }}')
    db.execute('STORE p FOR slow PAYLOAD { "v": 1 }')   # gap 9s
    db.execute("FLUSH")

    base = "QUERY s FOLLOWED BY p LINKED BY context_id"
    assert {r["a_context_id"] for r in db.query(base).collect()} == {"fast", "slow"}
    within = db.query(base + " WITHIN 5").collect()
    assert {r["a_context_id"] for r in within} == {"fast"}
    # WITHIN survives the materializer round trip (full-recompute path)
    db.execute(f"REMEMBER {base} WITHIN 5 AS fast_funnel")
    db.execute('STORE s FOR x PAYLOAD { "v": 1 }')
    db.execute('STORE p FOR x PAYLOAD { "v": 1 }')
    db.execute("FLUSH")
    got = {r["a_context_id"] for r in db.execute("SHOW fast_funnel").df.collect()}
    assert got == {"fast", "x"}


def test_remember_compare_closes_read_at_probed_hwm(spark, tmp_path):
    """ADVICE r4: non-incrementable COMPARE remember must probe the
    high-water mark BEFORE compiling and close the scan at it. A row
    racing in mid-materialization is then excluded from the stored rows
    AND from the recorded hwm, so the next SHOW sees staleness and
    recomputes — instead of serving the pre-race rows as fresh."""
    from sneldb_spark.engine import SnelDB

    cmp_q = "PLOT COUNT OF a1 VS COUNT OF a2 BREAKDOWN BY context_id TOP 1"
    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE a1 FIELDS { "v": "int" }')
    db.execute('DEFINE a2 FIELDS { "v": "int" }')
    db.execute('STORE a1 FOR x PAYLOAD { "v": 1 }')
    db.execute('STORE a2 FOR x PAYLOAD { "v": 1 }')
    db.execute("FLUSH")

    m = db.materializer
    real_probe = m._source_hwm
    raced = {"done": False}

    def racing_probe(q):
        mark = real_probe(q)
        if not raced["done"]:
            raced["done"] = True
            db.store.store("a1", "x", {"v": 99})
            db.store.flush()
        return mark

    m._source_hwm = racing_probe
    try:
        db.execute(f"REMEMBER {cmp_q} AS raceboard")
    finally:
        m._source_hwm = real_probe

    got = sorted(tuple(r) for r in db.execute("SHOW raceboard").df.collect())
    want = sorted(tuple(r) for r in db.execute(cmp_q).df.collect())
    assert got == want  # the raced row is visible after SHOW's refresh


def test_within_sequence_remember_refreshes_incrementally(spark, tmp_path):
    """WITHIN funnels are delta-safe: the materializer matches
    UNFILTERED (so an A whose first B missed the window is consumed, not
    pending) and window-filters only the emitted pairs. Refreshes land
    on the direct-query result, including the consumed-A case."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE a FIELDS { "u": "string" }')
    db.execute('DEFINE b FIELDS { "u": "string" }')

    def store(et, u, at):
        clock["now"] = at
        db.execute(f'STORE {et} FOR c-{u}-{at} PAYLOAD {{ "u": "{u}" }}')

    q = "QUERY a FOLLOWED BY b LINKED BY u WITHIN 10"
    # u1: converts in-window. u2: A at 100, no B yet (pending).
    # u3: A at 100, first B at 150 — OUT of window: A consumed.
    store("a", "u1", 100); store("b", "u1", 105)
    store("a", "u2", 100)
    store("a", "u3", 100); store("b", "u3", 150)
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS winfun")
    assert {r["a_u"] for r in db.execute("SHOW winfun").df.collect()} == {"u1"}

    # delta: u2's B arrives in-window relative to... A at 100, B at 400
    # — far out of window; and a FRESH u3 A converts. A later u3 B must
    # NOT resurrect the consumed first A.
    store("b", "u2", 400)            # u2's first B: out of window, consumes A
    store("a", "u3", 500); store("b", "u3", 504)   # fresh pair converts
    db.execute("FLUSH")
    shown = {(r["a_u"], r["a_timestamp"], r["b_timestamp"])
             for r in db.execute("SHOW winfun").df.collect()}
    direct = {(r["a_u"], r["a_timestamp"], r["b_timestamp"])
              for r in db.query(q).collect()}
    assert shown == direct == {("u1", 101, 106), ("u3", 501, 505)}

    # sequence AGGREGATE with WITHIN refreshes through the same path
    g = "QUERY a FOLLOWED BY b LINKED BY u WITHIN 10 COUNT BY u"
    db.execute(f"REMEMBER {g} AS winagg")
    store("a", "u1", 600); store("b", "u1", 603)
    db.execute("FLUSH")
    got = {r["u"]: r["count"] for r in db.execute("SHOW winagg").df.collect()}
    want = {r["u"]: r["count"] for r in db.query(g).collect()}
    assert got == want == {"u1": 2, "u3": 1}


def test_chain_remember_refreshes_incrementally(spark, tmp_path):
    """Multi-link chain REMEMBERs refresh by stepwise delta match against
    per-step pending-chain state — across several refreshes, including
    chains completing link-by-link over separate flushes, same-second
    boundary ties, and heads that never convert."""
    import json as _json

    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')

    def store(et, u):
        db.execute(f'STORE {et} FOR x-{u}-{clock["now"]} PAYLOAD {{ "u": "{u}" }}')

    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u"

    def rows(df):
        return sorted(
            (r["s0_u"], r["s0_event_id"], r["s1_event_id"], r["s2_event_id"])
            for r in df.collect()
        )

    # u1 completes pre-remember; u2 at step 1; u3 head only
    store("v", "u1"); store("c", "u1"); store("b", "u1")
    store("v", "u2"); store("c", "u2")
    store("v", "u3")
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS chmat")
    manifest = _json.load(open(db.materializer._manifest_path("chmat")))
    assert manifest.get("chain_steps") == 3  # the incremental path engaged
    assert rows(db.execute("SHOW chmat").df) == rows(db.query(q))

    # refresh 1: u2 completes; u3 advances one step; u4 full chain in one
    # delta; a second u1 chain does NOT appear (one per head)
    store("b", "u2"); store("c", "u3")
    store("v", "u4"); store("c", "u4"); store("b", "u4")
    db.execute("FLUSH")
    shown = rows(db.execute("SHOW chmat").df)
    assert shown == rows(db.query(q)) and len(shown) == 3

    # refresh 2: u3 completes from carried step-2 state
    store("b", "u3")
    db.execute("FLUSH")
    shown = rows(db.execute("SHOW chmat").df)
    assert shown == rows(db.query(q)) and len(shown) == 4

    # refresh 3: nothing new for the chain -> unchanged
    store("v", "u9")
    db.execute("FLUSH")
    assert rows(db.execute("SHOW chmat").df) == shown ==  rows(db.query(q))


def test_chain_refresh_same_second_boundary_tie(spark, tmp_path):
    """A delta head whose cursor lands in the high-water second must
    match a PRE-hwm same-second next-step event (smaller event_id, equal
    ts) — that is exactly what the carried boundary frames exist for."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')

    def store_at(et, u, at):
        clock["now"] = at - 1
        db.execute(f'STORE {et} FOR y-{u}-{et}-{at} PAYLOAD {{ "u": "{u}" }}')

    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u"
    T = 1_700_000_100
    store_at("c", "u5", T)          # pre-hwm c AT the hwm second
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS tiemat")
    assert db.execute("SHOW tiemat").df.count() == 0

    store_at("v", "u5", T)          # delta head, SAME second, later id
    store_at("b", "u5", T + 5)
    db.execute("FLUSH")
    shown = [
        (r["s0_u"], r["s0_timestamp"], r["s1_timestamp"], r["s2_timestamp"])
        for r in db.execute("SHOW tiemat").df.collect()
    ]
    direct = [
        (r["s0_u"], r["s0_timestamp"], r["s1_timestamp"], r["s2_timestamp"])
        for r in db.query(q).collect()
    ]
    assert shown == direct == [("u5", T, T, T + 5)]


def test_chain_within_remember_refreshes_incrementally(spark, tmp_path):
    """WITHIN chains are chain-delta-safe: unfiltered stepwise state,
    all-gap emission filter, stale pending pruned. A chain whose middle
    gap misses the window must NOT appear even when matched across
    refreshes; an in-window chain completing link-by-link must."""
    import json as _json

    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')

    def store_at(et, u, at):
        clock["now"] = at - 1
        db.execute(f'STORE {et} FOR w-{u}-{et}-{at} PAYLOAD {{ "u": "{u}" }}')

    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u WITHIN 10"
    T = 1_700_000_100
    # server time moves forward only (the delta invariant)
    store_at("v", "wide", T); store_at("c", "wide", T + 50)   # first gap 50: doomed
    store_at("v", "ok", T + 51); store_at("c", "ok", T + 55)  # gap 4: fine
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS winch")
    m = _json.load(open(db.materializer._manifest_path("winch")))
    assert m.get("chain_steps") == 3  # incremental path engaged for WITHIN
    assert db.execute("SHOW winch").df.count() == 0

    # both finish their LAST link in window — 'wide' must still be
    # suppressed by its first gap (the all-gap emission filter)
    store_at("b", "ok", T + 59)      # gap 4
    store_at("b", "wide", T + 60)    # gap 10 from c@T+50: last link in window
    db.execute("FLUSH")
    shown = {(r["s0_u"],) for r in db.execute("SHOW winch").df.collect()}
    direct = {(r["s0_u"],) for r in db.query(q).collect()}
    assert shown == direct == {("ok",)}


def test_chain_aggregate_remember_refreshes_incrementally(spark, tmp_path):
    """Chain AGGREGATE REMEMBERs (grouped funnel counts over 3 steps)
    refresh by partial-aggregating only the delta's completed chains and
    merging per-group state — across two refreshes, with WITHIN."""
    import json as _json

    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string", "k": "int" }}')

    def store(et, u, k):
        db.execute(
            f'STORE {et} FOR z-{u}-{clock["now"]} PAYLOAD {{ "u": "{u}", "k": {k} }}'
        )

    q = ("QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u WITHIN 60 "
         "COUNT, COUNT UNIQUE u BY k")
    store("v", "u1", 1); store("c", "u1", 1); store("b", "u1", 1)
    store("v", "u2", 2); store("c", "u2", 2)
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS chagg")
    m = _json.load(open(db.materializer._manifest_path("chagg")))
    assert m.get("chain_steps") == 3 and m.get("state_keys") == ["k"]

    def rows(df):
        return sorted(
            (r["k"], r["count"], r["count_unique_u"]) for r in df.collect()
        )

    assert rows(db.execute("SHOW chagg").df) == rows(db.query(q)) == [(1, 1, 1)]

    # refresh 1: u2 completes; u3 full chain; state merges per group
    store("b", "u2", 2)
    store("v", "u3", 1); store("c", "u3", 1); store("b", "u3", 1)
    db.execute("FLUSH")
    assert rows(db.execute("SHOW chagg").df) == rows(db.query(q)) == [
        (1, 2, 2), (2, 1, 1),
    ]

    # refresh 2: another k=1 chain by an EXISTING user: count moves,
    # exact COUNT UNIQUE must not
    store("v", "u1", 1); store("c", "u1", 1); store("b", "u1", 1)
    db.execute("FLUSH")
    assert rows(db.execute("SHOW chagg").df) == rows(db.query(q)) == [
        (1, 3, 2), (2, 1, 1),
    ]


def test_chain_materialization_forget_and_redefine(spark, tmp_path):
    """FORGET fully clears the chain's per-step state; the name is
    immediately reusable and the new materialization starts clean."""
    import os

    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')
    for et in ("v", "c", "b"):
        db.execute(f'STORE {et} FOR f-{et} PAYLOAD {{ "u": "u1" }}')
    db.execute("FLUSH")
    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u"
    db.execute(f"REMEMBER {q} AS fm")
    assert db.execute("SHOW fm").df.count() == 1
    state = db.materializer._state_path("fm")
    assert db.materializer._state_part_at(
        db.materializer._live(state), "pending_s0"
    ) is not None
    db.execute("FORGET fm")
    assert not os.path.exists(db.materializer._dir("fm"))
    db.execute(f"REMEMBER {q} AS fm")  # name reusable
    assert db.execute("SHOW fm").df.count() == 1


def test_chain_aggregate_per_bucket_incremental(spark, tmp_path):
    """PER DAY chain aggregates bucket on the HEAD event's timestamp in
    both the direct compile and the incremental state path."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')

    def store_at(et, u, at):
        clock["now"] = at - 1
        db.execute(f'STORE {et} FOR p-{u}-{et}-{at} PAYLOAD {{ "u": "{u}" }}')

    day1, day2 = 1_700_000_000, 1_700_000_000 + 86_400
    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u COUNT PER DAY"
    store_at("v", "u1", day1); store_at("c", "u1", day1 + 10)
    store_at("v", "u2", day2); store_at("c", "u2", day2 + 10)
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS chday")
    store_at("b", "u1", day2 + 20); store_at("b", "u2", day2 + 30)
    db.execute("FLUSH")
    got = sorted((r["bucket"], r["count"]) for r in db.execute("SHOW chday").df.collect())
    want = sorted((r["bucket"], r["count"]) for r in db.query(q).collect())
    assert got == want and len(got) == 2  # one chain per head DAY


def _ticking_clock():
    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    return clock, tick


def test_chain_order_by_remember_refreshes_incrementally(spark, tmp_path):
    """ORDER BY without LIMIT keeps a chain on the incremental path (the
    segment layout serves rows in no fixed order, as plain ORDER BY
    materializations always have): REMEMBER -> ingest -> SHOW equals the
    direct query as a set."""
    import json as _json

    from sneldb_spark.engine import SnelDB

    clock, tick = _ticking_clock()
    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')

    def store(et, u):
        db.execute(f'STORE {et} FOR o-{u}-{clock["now"]} PAYLOAD {{ "u": "{u}" }}')

    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u ORDER BY u DESC"
    store("v", "u1"); store("c", "u1"); store("b", "u1")
    store("v", "u2"); store("c", "u2")
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS ordch")
    m = _json.load(open(db.materializer._manifest_path("ordch")))
    assert m.get("chain_steps") == 3 and m.get("seq_state")

    store("b", "u2")
    store("v", "u3"); store("c", "u3"); store("b", "u3")
    db.execute("FLUSH")

    def rows(df):
        return {
            (r["s0_u"], r["s0_event_id"], r["s1_event_id"], r["s2_event_id"])
            for r in df.collect()
        }

    shown = rows(db.execute("SHOW ordch").df)
    assert shown == rows(db.query(q)) and len(shown) == 3


def test_chain_show_without_multi_link_refuses(spark, tmp_path):
    """A chain REMEMBERed with multi_link must not be refreshed by an
    engine opened without it: that engine compiles the chain to the
    reference's empty frame, and the refresh would replace the stored
    chains with it for good. SHOW refuses before any write, naming the
    flag, and the materialization stays exact for a multi_link engine."""
    from sneldb_spark.engine import SnelDB

    clock, tick = _ticking_clock()
    root = str(tmp_path / "db")
    q = "QUERY v FOLLOWED BY c FOLLOWED BY b LINKED BY u"

    def store_chain(eng, u):
        for et in ("v", "c", "b"):
            eng.execute(f'STORE {et} FOR m-{u}-{et} PAYLOAD {{ "u": "{u}" }}')
        eng.execute("FLUSH")

    db = SnelDB(spark, root, clock=tick, multi_link=True)
    for et in ("v", "c", "b"):
        db.execute(f'DEFINE {et} FIELDS {{ "u": "string" }}')
    store_chain(db, "u1"); store_chain(db, "u2")
    db.execute(f"REMEMBER {q} AS mlch")
    assert db.execute("SHOW mlch").df.count() == 2
    db.close()

    plain = SnelDB(spark, root, clock=tick)
    store_chain(plain, "u3")
    manifest = plain.materializer._manifest_path("mlch")
    before = open(manifest).read()
    with pytest.raises(MaterializationError, match="multi_link"):
        plain.execute("SHOW mlch")
    assert open(manifest).read() == before
    plain.close()

    again = SnelDB(spark, root, clock=tick, multi_link=True)
    assert again.execute("SHOW mlch").df.count() == again.query(q).count() == 3


def _rewrite_to_pair_layout(db, name: str, aggregate: bool):
    """Rewrite a single-link materialization's state into the layout
    written before single links ran as 2-step chains: parts named after
    the pair sides (partition dirs and sidecar keys), no chain_steps in
    the manifest, and for aggregates no hwm marker beside the parts."""
    import json as _json
    import os

    m = db.materializer
    d = m._live(m._state_path(name))
    names = {"pending_s0": "pending_a", "boundary_1": "boundary_b"}
    for new, old in names.items():
        src = os.path.join(d, "parts", f"__part={new}")
        if os.path.isdir(src):
            os.rename(src, os.path.join(d, "parts", f"__part={old}"))
    sidecar = os.path.join(d, "_state_parts.json")
    schemas = _json.load(open(sidecar))
    with open(sidecar, "w") as f:
        _json.dump({names.get(k, k): v for k, v in schemas.items()}, f)
    if aggregate:
        os.remove(os.path.join(d, "_hwm.json"))
    path = m._manifest_path(name)
    manifest = _json.load(open(path))
    del manifest["chain_steps"]
    with open(path, "w") as f:
        _json.dump(manifest, f)


@pytest.mark.parametrize(
    "q",
    [
        "QUERY signup FOLLOWED BY purchase LINKED BY user_id",
        "QUERY signup PRECEDED BY purchase LINKED BY user_id",
        "QUERY signup FOLLOWED BY purchase LINKED BY user_id COUNT BY k",
    ],
    ids=["followed_by", "preceded_by", "followed_by_count"],
)
def test_single_link_pair_layout_state_still_refreshes(spark, tmp_path, q):
    """Single-link state written as pending_a/boundary_b with no
    chain_steps in the manifest reads as the 2-step chain it is: SHOW
    after ingest equals the direct query, and again after the refresh
    rewrote the state under the step names."""
    from sneldb_spark.engine import SnelDB

    clock, tick = _ticking_clock()
    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string", "k": "int" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')

    def store(et, user):
        payload = f'"user_id": "{user}"' + (', "k": 1' if et == "signup" else "")
        db.execute(f'STORE {et} FOR c{clock["now"]}x{user} PAYLOAD {{ {payload} }}')

    def rows(df):
        return sorted(sorted(r.asDict().items()) for r in df.collect())

    store("purchase", "u3"); store("signup", "u1"); store("purchase", "u1")
    store("signup", "u2"); store("purchase", "u4")
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS legacy")
    _rewrite_to_pair_layout(db, "legacy", aggregate="COUNT" in q)
    live = db.materializer._live(db.materializer._state_path("legacy"))
    assert db.materializer._state_part_at(live, "pending_s0") is not None

    store("purchase", "u2"); store("signup", "u3"); store("signup", "u4")
    store("signup", "u5"); store("purchase", "u5")
    db.execute("FLUSH")
    shown = db.execute("SHOW legacy").df
    direct = db.query(q)
    assert rows(shown) == rows(direct)
    assert db.materializer.quiesce("legacy") == []

    store("signup", "u6"); store("purchase", "u6")
    db.execute("FLUSH")
    assert rows(db.execute("SHOW legacy").df) == rows(db.query(q))


def test_sequence_state_in_per_directory_layout_refuses(spark, tmp_path):
    """The per-directory carry layout (one parquet dir per part, no
    sidecar) is no longer read: SHOW names the way out — FORGET and
    REMEMBER again — instead of guessing, and the re-REMEMBER works."""
    import os
    import shutil

    from sneldb_spark.engine import SnelDB

    clock, tick = _ticking_clock()
    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
    q = "QUERY signup FOLLOWED BY purchase LINKED BY user_id"
    for et, u in (("signup", "u1"), ("purchase", "u1"), ("signup", "u2")):
        db.execute(f'STORE {et} FOR c-{et}-{u} PAYLOAD {{ "user_id": "{u}" }}')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS olddirs")

    m = db.materializer
    d = m._live(m._state_path("olddirs"))
    for part, df in m._read_carry("olddirs", 2).items():
        old = {"pending_s0": "pending_a", "boundary_1": "boundary_b"}[part]
        df.write.parquet(os.path.join(d, old))
    shutil.rmtree(os.path.join(d, "parts"))
    os.remove(os.path.join(d, "_state_parts.json"))

    db.execute('STORE purchase FOR c-purchase-u2 PAYLOAD { "user_id": "u2" }')
    db.execute("FLUSH")
    with pytest.raises(MaterializationError, match="FORGET"):
        db.execute("SHOW olddirs")

    db.execute("FORGET olddirs")
    db.execute(f"REMEMBER {q} AS olddirs")
    assert db.execute("SHOW olddirs").df.count() == db.query(q).count() == 2
