"""Physical-plan assertions: the engine must produce the plans you'd want
at 100 TB, not merely correct ones.

- filters reach the Parquet scan (PushedFilters — the analogue of the
  reference's zone-skipping indexes);
- projections prune the read schema (column files, P2);
- small dimension joins broadcast (no shuffle of the fact table);
- aggregates do partial (map-side) aggregation before the exchange;
- sequence matching is a single shuffle (one Exchange on the link key);
- whole-stage codegen covers the hot path.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture()
def entry_compiler(spark):
    import __spark_entry__ as e

    return e._compiler(spark, SF)


def test_filter_pushdown_reaches_scan(engine):
    engine.execute('DEFINE orders FIELDS { "amount": "int", "country": "string" }')
    engine.execute('STORE orders FOR c1 PAYLOAD { "amount": 5, "country": "NL" }')
    engine.execute("FLUSH")
    plan = _formatted(engine.query('QUERY orders WHERE amount >= 5 AND country = "NL"'))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(amount,5)" in plan
    assert "EqualTo(country,NL)" in plan


def test_projection_prunes_read_schema(engine):
    engine.execute('DEFINE product FIELDS { "name": "string", "price": "int", "color": "string" }')
    engine.execute('STORE product FOR c1 PAYLOAD { "name": "a", "price": 1, "color": "red" }')
    engine.execute("FLUSH")
    plan = _formatted(engine.query("QUERY product RETURN [name]"))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "name" in read_schema
    assert "price" not in read_schema and "color" not in read_schema


def test_tpch_q3_broadcasts_dimension(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q3(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_aggregate_is_partial_then_final(entry_compiler):
    from sneldb_spark.commands.parser import parse_command

    df = entry_compiler.compile(parse_command("QUERY purchase COUNT BY k"))
    plan = _plan(df)
    # two HashAggregate phases around one exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(k" in plan


def test_sequence_is_single_shuffle(entry_compiler):
    from sneldb_spark.commands.parser import parse_command

    df = entry_compiler.compile(
        parse_command("QUERY signup FOLLOWED BY purchase LINKED BY context_id")
    )
    plan = _plan(df)
    # one exchange for the window over the link key; the union sides
    # themselves must not add extra shuffles
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_orderby_limit_is_take_ordered(entry_compiler):
    from sneldb_spark.commands.parser import parse_command

    df = entry_compiler.compile(
        parse_command("QUERY purchase ORDER BY event_id DESC LIMIT 10")
    )
    plan = _plan(df)
    # top-k should never globally sort: TakeOrderedAndProject is the
    # built-in equivalent of the reference's RLTE top-k pruning outcome
    assert "TakeOrderedAndProject" in plan


def test_since_prunes_partitions(engine):
    """SINCE on server time must prune ingest_date partitions."""
    engine.execute('DEFINE ts_t FIELDS { "n": "int" }')
    engine._test_clock["now"] = 1700000000
    engine.execute('STORE ts_t FOR c1 PAYLOAD { "n": 1 }')
    engine._test_clock["now"] = 1700000000 + 40 * 86400  # 40 days later
    engine.execute('STORE ts_t FOR c2 PAYLOAD { "n": 2 }')
    engine.execute("FLUSH")
    df = engine.query(f'QUERY ts_t SINCE "{1700000000 + 39 * 86400}"')
    assert df.count() == 1
    plan = _formatted(df)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(timestamp" in plan


def test_whole_stage_codegen_on_filter_path(entry_compiler):
    from sneldb_spark.commands.parser import parse_command

    df = entry_compiler.compile(parse_command("QUERY purchase WHERE value >= 100"))
    # formatted explain marks codegen'd operators with "[codegen id : N]"
    assert "codegen id" in _formatted(df)


def test_week_bucket_sunday_start_and_timezone(spark):
    """PER WEEK with configurable week start + timezone-aware day buckets
    (reference: src/shared/datetime/time_bucketing.rs:24-105, [time] config)."""
    from datetime import datetime, timezone as tz

    from sneldb_spark.plans.time_bucket import bucket_column

    # 2026-08-13 12:00 UTC is a Thursday; Sunday-start week began 08-09.
    ts = int(datetime(2026, 8, 13, 12, 0, tzinfo=tz.utc).timestamp())
    df = spark.createDataFrame([(ts,)], "t long")
    sun = df.select(
        bucket_column(F.col("t"), "week", week_start="sunday").alias("b")
    ).collect()[0]["b"]
    assert sun == int(datetime(2026, 8, 9, tzinfo=tz.utc).timestamp())
    mon = df.select(
        bucket_column(F.col("t"), "week", week_start="monday").alias("b")
    ).collect()[0]["b"]
    assert mon == int(datetime(2026, 8, 10, tzinfo=tz.utc).timestamp())

    # 2026-01-01T03:00Z is 2025-12-31 22:00 in New York: the local day
    # bucket is Dec 31 midnight EST = 05:00 UTC.
    ts2 = int(datetime(2026, 1, 1, 3, 0, tzinfo=tz.utc).timestamp())
    ny = spark.createDataFrame([(ts2,)], "t long").select(
        bucket_column(F.col("t"), "day", timezone="America/New_York").alias("b")
    ).collect()[0]["b"]
    assert ny == int(datetime(2025, 12, 31, 5, 0, tzinfo=tz.utc).timestamp())


def test_tpch_q4_exists_compiles_to_semi_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q4"](spark, SF))
    assert "LeftSemi" in plan  # EXISTS must not multiply or distinct rows
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q19_or_of_ands_stays_hash_join(spark):
    # The disjunction shares the p_partkey equi-condition; Catalyst must
    # extract it so the OR lands as a hash-join residual, never a BNL.
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q19"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sessionize_single_window_no_self_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["events_sessionize"](spark, SF))
    assert "Window" in plan
    assert "Join" not in plan  # running-sum sessions, not a self-join
    # window shuffle on context_id; the (context_id, session_seq) groupBy
    # may add at most one more exchange
    assert plan.count("Exchange hashpartitioning") <= 2


def test_memtable_union_keeps_parquet_pushdown(engine):
    # Hybrid (segment + pending) reads must still push filters into the
    # Parquet child of the union.
    engine.execute('DEFINE hyb FIELDS { "amount": "int" }')
    engine.execute('STORE hyb FOR c1 PAYLOAD { "amount": 5 }')
    engine.execute("FLUSH")
    engine.execute('STORE hyb FOR c2 PAYLOAD { "amount": 9 }')
    df = engine.query("QUERY hyb WHERE amount >= 5")
    plan = _formatted(df)
    assert "Union" in plan
    assert "PushedFilters: [IsNotNull(amount), GreaterThanOrEqual(amount,5)]" in plan
    assert df.count() == 2


def test_tpch_q7_broadcasts_both_nation_roles(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q7"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_self_exists_compiles_to_semi_and_anti(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q21"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q11_threshold_is_single_row_broadcast(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q11"](spark, SF))
    # global-total HAVING must attach as a broadcast (nested-loop over ONE
    # build row), never a shuffled join or cartesian over the fact
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_gates_pin_utc_regardless_of_session_timezone(spark):
    """The driver supplies its own session; every gate must produce the
    UTC-evaluated result even if that session starts on another zone
    (events.ts is TIMESTAMP_NTZ — epoch arithmetic is tz-sensitive)."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = SF
    baseline = {r["bucket"]: r["count"]
                for r in qs["agg_per_day"](spark, sf).collect()}
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = {r["bucket"]: r["count"]
                   for r in qs["agg_per_day"](spark, sf).collect()}
        assert shifted == baseline
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_sequence_hot_link_key_warns(spark, caplog):
    """A link key whose group exceeds the threshold serializes one window
    partition; the pre-flight must say so loudly instead of letting a
    100x run stall silently."""
    import logging

    from sneldb_spark.plans.sequence import check_link_skew, sequence_match

    a = spark.createDataFrame(
        [("hot", i, i) for i in range(50)] + [("cold", 1, 1)],
        ["user_id", "timestamp", "event_id"],
    )
    b = a
    with caplog.at_level(logging.WARNING, logger="sneldb_spark.plans.sequence"):
        hot = check_link_skew(a, b, "user_id", threshold=60)
    assert hot == [("hot", 100)]  # both sides counted
    assert any("skew" in r.message for r in caplog.records)
    # quiet below threshold, and the opt-in flag routes through the same check
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="sneldb_spark.plans.sequence"):
        assert check_link_skew(a, b, "user_id", threshold=1_000) == []
        sequence_match(a, b, "user_id", "followed_by", skew_check=True)
    assert not any("skew" in r.message and "1000" in r.message for r in caplog.records)


def test_count_unique_approx_mode_flag(spark, tmp_path):
    """Default COUNT UNIQUE stays exact (reference semantics); the
    approx_count_unique opt-in swaps in HyperLogLog++ with the same
    output schema."""
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "exact_db"))
    db.execute('DEFINE visit FIELDS { "who": "string", "site": "string" }')
    for i in range(40):
        db.execute(
            f'STORE visit FOR c{i} PAYLOAD {{ "who": "u{i % 7}", "site": "s{i % 2}" }}'
        )
    db.execute("FLUSH")
    q = "QUERY visit COUNT UNIQUE who BY site"
    exact = {r["site"]: r["count_unique_who"] for r in db.query(q).collect()}
    assert exact == {"s0": 7, "s1": 7}
    plan = db.query(q)._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" not in plan

    approx_db = SnelDB(spark, db.root, approx_count_unique=True)
    approx_plan = approx_db.query(q)._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" in approx_plan
    got = {r["site"]: r["count_unique_who"] for r in approx_db.query(q).collect()}
    assert set(got) == {"s0", "s1"}
    for v in got.values():  # HLL++ at this cardinality is exact in practice
        assert abs(v - 7) <= 1


def test_sliced_sequence_matches_plain_exactly(spark):
    """sequence_match_sliced must return the same (A, B) pairs as the
    single-window matcher on adversarial data: hot keys, heavy ts ties
    (where the A-before-B-at-equal-ts rule decides), Bs before/after
    every A, and keys with no B at all. Both link kinds."""
    import random

    from sneldb_spark.commands.ast import FOLLOWED_BY, PRECEDED_BY
    from sneldb_spark.plans.sequence import sequence_match, sequence_match_sliced

    rng = random.Random(7)
    rows_a, rows_b, eid = [], [], 0
    for key in ["hot", "k2", "k3", "only_a", "only_b"]:
        n = 400 if key == "hot" else 25
        for _ in range(n):
            eid += 1
            ts = rng.randint(0, 99)  # dense -> many exact ts collisions
            if key != "only_b":
                rows_a.append((key, ts, eid))
            eid += 1
            if key != "only_a":
                rows_b.append((key, rng.randint(0, 99), eid))
    a = spark.createDataFrame(rows_a, ["user_id", "timestamp", "event_id"])
    b = spark.createDataFrame(rows_b, ["user_id", "timestamp", "event_id"])

    for kind in (FOLLOWED_BY, PRECEDED_BY):
        plain = sorted(
            (r["a_event_id"], r["b_event_id"])
            for r in sequence_match(a, b, "user_id", kind).collect()
        )
        for n_slices in (2, 7, 64):
            sliced = sorted(
                (r["a_event_id"], r["b_event_id"])
                for r in sequence_match_sliced(
                    a, b, "user_id", kind, n_slices=n_slices
                ).collect()
            )
            assert sliced == plain, (kind, n_slices)
    # n_slices wider than the ts domain degenerates safely (width >= 1)
    assert sorted(
        (r["a_event_id"], r["b_event_id"])
        for r in sequence_match_sliced(
            a, b, "user_id", FOLLOWED_BY, n_slices=1000
        ).collect()
    ) == sorted(
        (r["a_event_id"], r["b_event_id"])
        for r in sequence_match(a, b, "user_id", FOLLOWED_BY).collect()
    )


def test_sliced_sequence_empty_and_compiler_flag(spark, tmp_path):
    """Empty inputs survive the bounds probe, and the engine-level
    sequence_slices opt-in produces the same rows as the default path."""
    from sneldb_spark.commands.ast import FOLLOWED_BY
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.plans.sequence import sequence_match_sliced

    empty = spark.createDataFrame([], "user_id string, timestamp long, event_id long")
    assert sequence_match_sliced(empty, empty, "user_id", FOLLOWED_BY).count() == 0

    q = 'QUERY signup FOLLOWED BY purchase LINKED BY user_id'
    rows = []
    for slices, root in ((0, "seq_plain"), (8, "seq_sliced")):
        db = SnelDB(spark, str(tmp_path / root), sequence_slices=slices)
        db.execute('DEFINE signup FIELDS { "user_id": "string" }')
        db.execute('DEFINE purchase FIELDS { "user_id": "string" }')
        for i in range(40):
            u = f"u{i % 5}"
            db.execute(f'STORE signup FOR c{i} PAYLOAD {{ "user_id": "{u}" }}')
            db.execute(f'STORE purchase FOR c{i} PAYLOAD {{ "user_id": "{u}" }}')
        db.execute("FLUSH")
        # event_ids are time-minted snowflakes, different per instance;
        # context ids are the stable pair identity here
        rows.append(sorted(
            (r["a_context_id"], r["b_context_id"]) for r in db.query(q).collect()
        ))
    assert rows[0] == rows[1] and len(rows[0]) > 0
