"""MEDIAN / P<nn> percentile aggregates (extension beyond the reference's
aggregate set): exact interpolated percentiles through the real
parser+compiler, PER/BY composition, and the materializer's incremental
refresh (exact percentiles keep a mergeable value-multiset state; only
the approx-sketch opt-in falls back to full recompute)."""

import pytest

from sneldb_spark.commands.parser import parse_command
from sneldb_spark.errors import ParseError


def test_parse_median_and_percentiles():
    c = parse_command("QUERY t MEDIAN amount, P90 amount, P5 lat BY country")
    assert [(a.op, a.field) for a in c.aggs] == [
        ("median", "amount"),
        ("p90", "amount"),
        ("p5", "lat"),
    ]
    assert [a.output_name for a in c.aggs] == ["median_amount", "p90_amount", "p5_lat"]
    # keywords are case-insensitive like the rest of the grammar
    c2 = parse_command("query t median amount, p99 amount")
    assert [a.op for a in c2.aggs] == ["median", "p99"]


def test_parse_percentile_errors():
    with pytest.raises(ParseError):
        parse_command("QUERY t MEDIAN")  # field required
    with pytest.raises(ParseError):
        parse_command("QUERY t P90")
    # P0/P100 are MIN/MAX, not percentile ops
    with pytest.raises(ParseError):
        parse_command("QUERY t P0 amount")
    with pytest.raises(ParseError):
        parse_command("QUERY t P100 amount")
    # a FIELD named p50/median still works as an aggregate operand
    c = parse_command("QUERY t TOTAL p50, AVG median")
    assert [(a.op, a.field) for a in c.aggs] == [("total", "p50"), ("avg", "median")]


@pytest.fixture()
def pct_engine(engine):
    engine.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    rows = [(i * 10, "NL") for i in range(5)] + [(50 + i * 10, "DE") for i in range(4)]
    for i, (amt, cty) in enumerate(rows):
        engine.execute(
            f'STORE sale FOR c{i} PAYLOAD {{"amount": {amt}, "country": "{cty}"}}'
        )
    engine.execute("FLUSH")
    return engine


def test_percentile_values_match_interpolated_definition(pct_engine):
    rows = pct_engine.query(
        "QUERY sale MEDIAN amount, P90 amount, COUNT BY country ORDER BY country"
    ).collect()
    by = {r["country"]: r for r in rows}
    # NL: [0,10,20,30,40] -> median 20, p90 = 0.9*(5-1)=3.6 -> 30+0.6*10=36
    assert by["NL"]["median_amount"] == 20.0
    assert by["NL"]["p90_amount"] == pytest.approx(36.0)
    # DE: [50,60,70,80] -> median 65, p90 = 0.9*3=2.7 -> 70+0.7*10=77
    assert by["DE"]["median_amount"] == 65.0
    assert by["DE"]["p90_amount"] == pytest.approx(77.0)
    assert by["NL"]["count"] == 5 and by["DE"]["count"] == 4


def test_percentile_global_and_per_bucket(pct_engine):
    rows = pct_engine.query("QUERY sale MEDIAN amount").collect()
    # all 9 values 0..80 step 10 -> median 40
    assert rows[0]["median_amount"] == 40.0
    rows = pct_engine.query("QUERY sale MEDIAN amount PER DAY").collect()
    assert len(rows) == 1 and rows[0]["median_amount"] == 40.0


def test_remember_percentile_refreshes_incrementally(pct_engine):
    """Exact percentiles carry a mergeable value-multiset state: the
    REMEMBER is incrementable and a delta refresh (state merge + the same
    interpolation the query path applies) lands on the recompute answer."""
    import json

    from sneldb_spark.store.materialize import PARTIAL, shape_of

    pct_engine.execute("REMEMBER QUERY sale MEDIAN amount BY country AS med")
    assert shape_of(
        json.load(open(pct_engine.materializer._manifest_path("med")))
    ) == PARTIAL
    first = {r["country"]: r["median_amount"] for r in pct_engine.execute("SHOW med").df.collect()}
    assert first == {"NL": 20.0, "DE": 65.0}
    # new rows shift the percentile; the merged state must re-interpolate
    pct_engine.execute('STORE sale FOR cx PAYLOAD {"amount": 1000, "country": "NL"}')
    refreshed = {r["country"]: r["median_amount"] for r in pct_engine.execute("SHOW med").df.collect()}
    assert refreshed["NL"] == 25.0  # [0,10,20,30,40,1000] -> (20+30)/2
    assert refreshed["DE"] == 65.0
    # and the refreshed answer equals a from-scratch query
    direct = {
        r["country"]: r["median_amount"]
        for r in pct_engine.query("QUERY sale MEDIAN amount BY country").collect()
    }
    assert refreshed == direct


def test_remember_approx_percentile_still_full_recompute(spark, tmp_path):
    """The percentile_approx sketch exposes no merge — with the approx
    opt-in, percentile REMEMBERs route to full recompute."""
    import json

    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store.materialize import PARTIAL, shape_of

    db = SnelDB(spark, str(tmp_path / "apxm"), approx_percentiles=True)
    db.execute('DEFINE t FIELDS { "v": "int" }')
    db.execute('STORE t FOR c PAYLOAD {"v": 1}')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY t MEDIAN v AS m")
    assert shape_of(
        json.load(open(db.materializer._manifest_path("m")))
    ) != PARTIAL
    assert db.execute("SHOW m").df.collect()[0]["median_v"] == 1


def test_exact_percentile_materialization_survives_approx_engine(spark, tmp_path):
    """The refresh shape is decided once at REMEMBER: an exact-percentile
    materialization keeps merging its value-multiset state when the root
    is reopened with approx_percentiles=True. Re-deciding per SHOW sent
    that SHOW to a full recompute, which moved the manifest hwm but not
    the state marker, so the next exact SHOW lost the rows in between."""
    from sneldb_spark.engine import SnelDB

    root = str(tmp_path / "db")
    q = "QUERY sale MEDIAN amount BY country"

    def median_nl(db, text):
        return {r["country"]: r["median_amount"] for r in db.execute(text).df.collect()}["NL"]

    db = SnelDB(spark, root)
    db.execute('DEFINE sale FIELDS { "amount": "int", "country": "string" }')
    for i, amt in enumerate((10, 20, 30)):
        db.execute(f'STORE sale FOR a{i} PAYLOAD {{"amount": {amt}, "country": "NL"}}')
    db.execute("FLUSH")
    db.execute(f"REMEMBER {q} AS med")
    db.close()

    approx = SnelDB(spark, root, approx_percentiles=True)
    approx.execute('STORE sale FOR b0 PAYLOAD {"amount": 40, "country": "NL"}')
    approx.execute("FLUSH")
    assert median_nl(approx, "SHOW med") == 25.0  # exact: [10,20,30,40]
    approx.close()

    exact = SnelDB(spark, root)
    exact.execute('STORE sale FOR b1 PAYLOAD {"amount": 1000, "country": "NL"}')
    exact.execute("FLUSH")
    assert median_nl(exact, "SHOW med") == median_nl(exact, q) == 30.0


def test_plotql_percentile_metric(pct_engine):
    rows = pct_engine.query(
        "PLOT MEDIAN(amount) OF sale VS P90(amount) OF sale BREAKDOWN BY country"
    ).collect()
    by = {r["country"]: r for r in rows}
    assert by["NL"]["left_median_amount"] == 20.0
    assert by["DE"]["right_p90_amount"] == pytest.approx(77.0)


def test_plotql_top_by_field_named_like_percentile():
    c = parse_command("PLOT COUNT OF x TOP 3 BY p50")
    assert c.queries[0].order_by is not None  # ranked by the FIELD p50
    c2 = parse_command("PLOT COUNT OF x TOP 3 BY P90(lat)")
    assert any(a.op == "p90" for a in c2.queries[0].aggs)


def test_approx_percentiles_opt_in(spark, tmp_path):
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "apx"), approx_percentiles=True)
    db.execute('DEFINE t FIELDS { "v": "int" }')
    for i in range(11):
        db.execute(f'STORE t FOR c PAYLOAD {{"v": {i}}}')
    db.execute("FLUSH")
    rows = db.query("QUERY t MEDIAN v, P90 v").collect()
    # percentile_approx returns an EXISTING value nearest the rank —
    # exact on small inputs (median of 0..10 is 5; p90 -> 9 or 10)
    assert rows[0]["median_v"] == 5
    assert rows[0]["p90_v"] in (9, 10)


def test_remember_multi_percentile_same_field_incremental(pct_engine):
    """MEDIAN f and P90 f share ONE buffered multiset state column; the
    merged refresh finalizes both from it."""
    pct_engine.execute(
        "REMEMBER QUERY sale MEDIAN amount, P90 amount, COUNT BY country AS multi"
    )
    pct_engine.execute('STORE sale FOR cy PAYLOAD {"amount": 90, "country": "DE"}')
    got = {
        r["country"]: (r["median_amount"], r["p90_amount"], r["count"])
        for r in pct_engine.execute("SHOW multi").df.collect()
    }
    direct = {
        r["country"]: (r["median_amount"], r["p90_amount"], r["count"])
        for r in pct_engine.query(
            "QUERY sale MEDIAN amount, P90 amount, COUNT BY country"
        ).collect()
    }
    assert got == direct
    assert got["DE"][2] == 5  # the delta row reached the merged state


def test_remember_compare_with_percentile_incremental(pct_engine):
    """A COMPARE side carrying a MEDIAN refreshes through the mergeable
    multiset state like any other aggregate side (pre-fix this crashed in
    partial_agg_exprs: 'unknown aggregate op median')."""
    pct_engine.execute(
        "REMEMBER PLOT MEDIAN(amount) OF sale VS COUNT OF sale "
        "BREAKDOWN BY country AS cmp_med"
    )
    pct_engine.execute('STORE sale FOR cz PAYLOAD {"amount": 1000, "country": "NL"}')
    got = {
        r["country"]: (r["left_median_amount"], r["right_count"])
        for r in pct_engine.execute("SHOW cmp_med").df.collect()
    }
    direct = {
        r["country"]: (r["left_median_amount"], r["right_count"])
        for r in pct_engine.query(
            "PLOT MEDIAN(amount) OF sale VS COUNT OF sale BREAKDOWN BY country"
        ).collect()
    }
    assert got == direct
    assert got["NL"][1] == 6  # the delta row reached both sides


def test_remember_sequence_aggregate_percentile_incremental(spark, tmp_path):
    """Sequence aggregates with MEDIAN refresh by delta-pair state merge
    through the same multiset state (previously this path would crash in
    partial_agg_exprs for percentile ops)."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE signup FIELDS { "user_id": "string" }')
    db.execute('DEFINE purchase FIELDS { "user_id": "string", "amount": "int" }')
    for u, amt in [("u1", 10), ("u2", 20), ("u3", 30)]:
        db.execute(f'STORE signup FOR c{u} PAYLOAD {{"user_id": "{u}"}}')
        db.execute(
            f'STORE purchase FOR c{u} PAYLOAD {{"user_id": "{u}", "amount": {amt}}}'
        )
    db.execute("FLUSH")
    q = "QUERY signup FOLLOWED BY purchase LINKED BY user_id MEDIAN amount, COUNT"
    db.execute(f"REMEMBER {q} AS med_funnel")
    db.execute('STORE signup FOR cu4 PAYLOAD {"user_id": "u4"}')
    db.execute('STORE purchase FOR cu4 PAYLOAD {"user_id": "u4", "amount": 1000}')
    db.execute("FLUSH")
    shown = db.execute("SHOW med_funnel").df.collect()
    assert (shown[0]["median_amount"], shown[0]["count"]) == (25.0, 4)
    direct = db.query(q).collect()
    assert (direct[0]["median_amount"], direct[0]["count"]) == (25.0, 4)
