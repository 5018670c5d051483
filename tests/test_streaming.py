"""Structured Streaming ingest path: JSON-lines dir -> validate -> Parquet,
with FLUSH as the commit barrier (reference scenarios use FLUSH the same
way to cross the memory/disk boundary)."""

import json
import os

import pytest


@pytest.fixture()
def ingest(engine, tmp_path):
    from sneldb_spark.streaming.ingest import StreamingIngest

    engine.execute(
        'DEFINE metrics FIELDS { "value": "int", "region": "string", '
        '"at": "datetime | null" }'
    )
    ing = StreamingIngest(engine.store)
    yield engine, ing, tmp_path
    ing.stop()


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_ingest_end_to_end(ingest):
    engine, ing, tmp_path = ingest
    in_dir = tmp_path / "incoming"
    os.makedirs(in_dir)
    _write_jsonl(
        in_dir / "batch1.jsonl",
        [
            {"event_type": "metrics", "context_id": "c1",
             "payload": json.dumps({"value": 10, "region": "eu", "at": "2024-01-01T00:00:00Z"})},
            {"event_type": "metrics", "context_id": "c2",
             "payload": json.dumps({"value": 20, "region": "us"})},
            # invalid: value not a number -> quarantined, stream keeps going
            {"event_type": "metrics", "context_id": "c3",
             "payload": json.dumps({"value": "NaN-ish", "region": "eu"})},
        ],
    )
    ing.start_from_json_dir(str(in_dir))
    ing.flush()

    df = engine.query("QUERY metrics")
    rows = {r["context_id"]: r for r in df.collect()}
    assert set(rows) == {"c1", "c2"}
    assert rows["c1"]["value"] == 10
    assert rows["c1"]["at"] == 1704067200
    assert rows["c2"]["at"] is None

    # late-arriving file is picked up by the running stream
    _write_jsonl(
        in_dir / "batch2.jsonl",
        [{"event_type": "metrics", "context_id": "c4",
          "payload": json.dumps({"value": 40, "region": "eu"})}],
    )
    ing.flush()
    assert engine.query("QUERY metrics").count() == 3
    # engine queries compose on top of streamed data
    agg = engine.query("QUERY metrics TOTAL value BY region").collect()
    assert {r["region"]: r["total_value"] for r in agg} == {"eu": 50, "us": 20}

    # quarantine captured the bad row
    q_dir = os.path.join(engine.store.root, "_quarantine", "metrics")
    assert os.path.isdir(q_dir)


def test_streaming_ingest_quarantines_non_finite_f64(engine, tmp_path):
    """An overflowing literal is valid JSON but casts to ±inf (and "NaN"
    to NaN): the row goes to quarantine, as STORE rejects it."""
    from sneldb_spark.streaming.ingest import StreamingIngest

    engine.execute('DEFINE gauge FIELDS { "v": "f64" }')
    in_dir = tmp_path / "incoming"
    os.makedirs(in_dir)
    bad = ["1e999", "-1e999", "9" * 400, '"NaN"']
    rows = [{"event_type": "gauge", "context_id": "ok", "payload": '{"v": 1.5}'}] + [
        {"event_type": "gauge", "context_id": f"bad{i}", "payload": f'{{"v": {v}}}'}
        for i, v in enumerate(bad)
    ]
    _write_jsonl(in_dir / "batch1.jsonl", rows)
    ing = StreamingIngest(engine.store)
    try:
        ing.start_from_json_dir(str(in_dir))
        ing.flush()
    finally:
        ing.stop()
    stored = [(r["context_id"], r["v"]) for r in engine.query("QUERY gauge").collect()]
    assert stored == [("ok", 1.5)]
    q_dir = os.path.join(engine.store.root, "_quarantine", "gauge")
    quarantined = engine.spark.read.json(q_dir).select("context_id").collect()
    assert sorted(r["context_id"] for r in quarantined) == [f"bad{i}" for i in range(4)]


def test_streaming_validation_batch_api(ingest):
    """validate_and_type is usable as a plain batch transform."""
    engine, ing, _ = ingest
    spark = engine.spark
    from sneldb_spark.streaming.ingest import INPUT_SCHEMA

    raw = spark.createDataFrame(
        [
            ("metrics", "c1", json.dumps({"value": 5, "region": "eu"})),
            ("metrics", None, json.dumps({"value": 5, "region": "eu"})),  # no ctx
            ("metrics", "c2", json.dumps({"region": "eu"})),  # missing value
        ],
        schema=INPUT_SCHEMA,
    )
    ok, bad = ing.validate_and_type(raw, "metrics")
    assert ok.count() == 1 and bad.count() == 2


def test_streaming_restart_exactly_once(ingest):
    # WAL-recovery analogue: a restarted stream resumes from the
    # checkpoint — files committed before the stop are not re-ingested.
    from sneldb_spark.streaming.ingest import StreamingIngest

    engine, ing, tmp_path = ingest
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_jsonl(
        in_dir / "a.jsonl",
        [
            {"event_type": "metrics", "context_id": f"c{i}",
             "payload": json.dumps({"value": i, "region": "EU"})}
            for i in range(10)
        ],
    )
    ing.start_from_json_dir(str(in_dir))
    ing.flush()
    ing.stop()
    assert engine.store.read("metrics").count() == 10

    # second stream instance, same checkpoint; new file arrives
    _write_jsonl(
        in_dir / "b.jsonl",
        [
            {"event_type": "metrics", "context_id": "c99",
             "payload": json.dumps({"value": 99, "region": "US"})}
        ],
    )
    ing2 = StreamingIngest(engine.store, checkpoint_dir=ing.checkpoint_dir)
    ing2.start_from_json_dir(str(in_dir))
    ing2.flush()
    ing2.stop()
    df = engine.store.read("metrics")
    assert df.count() == 11  # no duplicates of the first 10
    assert df.where("context_id = 'c99'").count() == 1


def test_streaming_followed_by_matches_across_batches(spark, tmp_path):
    """Stateful funnel matching (A FOLLOWED BY B = a 2-step chain): pending
    As persist across micro-batches and match the first B at-or-after;
    matched As leave the state."""
    got = _chain_harness(
        spark,
        tmp_path,
        [
            # batch 1: two As (s1, s2), one B for s1 only
            [("view", 10, 1, "s1"), ("view", 11, 2, "s2"), ("buy", 12, 3, "s1")],
            # batch 2: B for s2 arrives later (state carried across
            # batches); another B for s1 must NOT rematch the already-
            # matched A; same-ts A/B pair (s3) matches within one batch.
            [("buy", 20, 4, "s2"), ("buy", 21, 5, "s1"),
             ("view", 30, 6, "s3"), ("buy", 30, 7, "s3")],
        ],
        ["view", "buy"],
        "funnel_matches",
    )
    assert got == {("s1", 1, 3), ("s2", 2, 4), ("s3", 6, 7)}


def test_streaming_preceded_by_latest_before(spark, tmp_path):
    """Each A pairs with the latest B strictly before it, across
    micro-batches. The latest B of an earlier micro-batch can tie a later
    A's timestamp (s3); the A then pairs with the B before it, which state
    must still hold."""
    got = _preceded_harness(
        spark,
        tmp_path,
        [
            [("pay", 10, 1, "s1"), ("pay", 12, 2, "s1"), ("ship", 15, 3, "s1"),
             ("ship", 5, 4, "s2"),  # s2: ship with no prior pay -> no match
             ("pay", 10, 8, "s3"), ("pay", 12, 9, "s3")],
            [("ship", 20, 5, "s1"),  # still pairs with latest pay (id 2)
             # same ts: strict < -> no match
             ("pay", 30, 6, "s2"), ("ship", 30, 7, "s2"),
             ("ship", 12, 10, "s3")],
        ],
        "ship", "pay", "preceded_matches",
    )
    assert got == {("s1", 3, 2), ("s1", 5, 2), ("s3", 10, 8)}


def test_query_stream_live_aggregate(spark, tmp_path):
    """The same command text compiles against a streaming source: new FLUSH
    commits update the aggregate continuously (update output mode)."""
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"))
    db.execute('DEFINE qs FIELDS { "country": "string", "amount": "int" }')
    db.execute('STORE qs FOR c1 PAYLOAD { "country": "NL", "amount": 10 }')
    db.execute('STORE qs FOR c2 PAYLOAD { "country": "NL", "amount": 20 }')
    db.execute("FLUSH")
    agg = db.query_stream("QUERY qs COUNT, TOTAL amount BY country")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("qs_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["country"]: r for r in spark.sql("SELECT * FROM qs_live").collect()}
        assert rows["NL"]["count"] == 2 and rows["NL"]["total_amount"] == 30
        db.execute('STORE qs FOR c3 PAYLOAD { "country": "DE", "amount": 5 }')
        db.execute('STORE qs FOR c4 PAYLOAD { "country": "NL", "amount": 1 }')
        db.execute("FLUSH")
        q.processAllAvailable()
        rows = {r["country"]: r for r in spark.sql("SELECT * FROM qs_live").collect()}
        assert rows["NL"]["count"] == 3 and rows["NL"]["total_amount"] == 31
        assert rows["DE"]["count"] == 1
    finally:
        q.stop()

    import pytest

    from sneldb_spark.errors import SnelDBError

    with pytest.raises(SnelDBError, match="batch-only"):
        db.query_stream("QUERY qs ORDER BY amount LIMIT 5")


def test_auto_compaction_bounds_file_count(spark, tmp_path):
    import glob
    import json as _json
    import os

    from sneldb_spark.engine import SnelDB
    from sneldb_spark.streaming.ingest import StreamingIngest

    db = SnelDB(spark, str(tmp_path / "db"))
    db.store.registry.define("ac", {"n": "int"})
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    ing = StreamingIngest(db.store, auto_compact_every=3)
    # one file per trigger = one commit each -> compaction after every 3
    for i in range(7):
        with open(os.path.join(in_dir, f"f{i}.jsonl"), "w") as f:
            f.write(_json.dumps({"event_type": "ac", "context_id": f"c{i}",
                                 "payload": _json.dumps({"n": i})}) + "\n")
    raw = spark.readStream.schema(
        "event_type string, context_id string, payload string"
    ).option("maxFilesPerTrigger", 1).json(in_dir)
    q = (raw.writeStream.foreachBatch(ing._process_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    ing._query = q
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert db.store.read("ac").count() == 7  # nothing lost across rewrites
    files = glob.glob(str(tmp_path / "db/events/ac/*/*.parquet"))
    # 7 appends uncompacted would leave >=7 files; two compactions (after
    # commits 3 and 6) fold them into one file per date partition + the
    # post-compaction appends.
    assert len(files) <= 3, files


def test_streaming_event_ids_unique_across_types_and_batches(engine, tmp_path):
    """Ids from base+monotonically_increasing_id collided across types in
    one batch and across batches seconds apart; block reservation must not.
    Also: bulk ids stay unique against interleaved interactive STOREs."""
    from sneldb_spark.streaming.ingest import StreamingIngest

    engine.execute('DEFINE t1 FIELDS { "n": "int" }')
    engine.execute('DEFINE t2 FIELDS { "n": "int" }')
    ing = StreamingIngest(engine.store)
    in_dir = tmp_path / "incoming"
    os.makedirs(in_dir)
    # two types in ONE batch file, enough rows to span partitions
    _write_jsonl(
        in_dir / "b1.jsonl",
        [{"event_type": f"t{1 + (i % 2)}", "context_id": f"c{i}",
          "payload": json.dumps({"n": i})} for i in range(400)],
    )
    try:
        ing.start_from_json_dir(str(in_dir))
        ing.flush()
        # interactive stores interleave with the stream
        for i in range(5):
            engine.execute(f'STORE t1 FOR x{i} PAYLOAD {{ "n": {i} }}')
        engine.execute("FLUSH")
        _write_jsonl(
            in_dir / "b2.jsonl",
            [{"event_type": "t1", "context_id": f"d{i}",
              "payload": json.dumps({"n": i})} for i in range(300)],
        )
        ing.flush()
    finally:
        ing.stop()

    all_ids = []
    for t in ("t1", "t2"):
        all_ids += [r["event_id"] for r in engine.query(f"QUERY {t}").collect()]
    assert len(all_ids) == 400 + 5 + 300
    assert len(set(all_ids)) == len(all_ids), "event_id collision"


def test_streaming_sessionize_closes_on_gap_across_batches(spark, tmp_path):
    """Sessions split at inactivity gaps; open sessions persist across
    micro-batches and close only when a later event opens the next one."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from sneldb_spark.streaming.sessionize import streaming_sessionize

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    schema = T.StructType(
        [
            T.StructField("context_id", T.StringType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value_cents", T.LongType()),
        ]
    )

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            for ctx, ts, eid, v in rows:
                f.write(_json.dumps(
                    {"context_id": ctx, "timestamp": ts, "event_id": eid,
                     "value_cents": v}) + "\n")

    # c1: two events 10s apart (one session); c2: one event
    write_batch("b1.jsonl", [("c1", 100, 1, 5), ("c1", 110, 2, 7), ("c2", 100, 3, 1)])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in_dir)
    sessions = streaming_sessionize(stream, gap_s=60, flush_idle=False)
    q = (
        sessions.writeStream.format("memory")
        .queryName("live_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM live_sessions").count() == 0  # all open
        # batch 2: c1 jumps past the gap (closes session 1, opens 2);
        # c2 stays within the gap (extends)
        write_batch("b2.jsonl", [("c1", 200, 4, 11), ("c2", 150, 5, 2)])
        q.processAllAvailable()
        rows = {
            (r["context_id"], r["session_seq"]): r
            for r in spark.sql("SELECT * FROM live_sessions").collect()
        }
        assert set(rows) == {("c1", 1)}
        s = rows[("c1", 1)]
        assert (s["n_events"], s["session_start"], s["session_end"],
                s["total_value_cents"], s["duration_s"]) == (2, 100, 110, 12, 10)
        # batch 3: another c1 gap closes session 2 with the single event
        write_batch("b3.jsonl", [("c1", 400, 6, 3)])
        q.processAllAvailable()
        rows = {
            (r["context_id"], r["session_seq"]): r
            for r in spark.sql("SELECT * FROM live_sessions").collect()
        }
        assert set(rows) == {("c1", 1), ("c1", 2)}
        s2 = rows[("c1", 2)]
        assert (s2["n_events"], s2["session_start"], s2["session_end"],
                s2["total_value_cents"]) == (1, 200, 200, 11)
    finally:
        q.stop()


def test_streaming_sessionize_matches_batch_rollup(spark, tmp_path):
    """Closed streaming sessions equal the batch sessionization rollup on
    the same events (the open tail sessions are the only difference)."""
    import json as _json
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sneldb_spark.streaming.sessionize import streaming_sessionize

    rows = []
    eid = 0
    for ctx in ("u1", "u2", "u3"):
        base = 1000
        for burst in range(3):
            for i in range(4):
                eid += 1
                rows.append((ctx, base + i * 10, eid, eid % 7))
            base += 10_000  # > gap: next burst is a new session
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "all.jsonl"), "w") as f:
        for ctx, ts, e, v in rows:
            f.write(_json.dumps(
                {"context_id": ctx, "timestamp": ts, "event_id": e,
                 "value_cents": v}) + "\n")
    schema = T.StructType(
        [
            T.StructField("context_id", T.StringType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value_cents", T.LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(in_dir)
    sessions = streaming_sessionize(stream, gap_s=1800, flush_idle=False)
    q = (
        sessions.writeStream.format("memory")
        .queryName("live_sessions2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["context_id"], r["session_seq"]):
                (r["n_events"], r["session_start"], r["session_end"],
                 r["total_value_cents"])
            for r in spark.sql("SELECT * FROM live_sessions2").collect()
        }
    finally:
        q.stop()

    # batch oracle: same gap rule via window + running sum
    bdf = spark.createDataFrame(rows, schema)
    w = Window.partitionBy("context_id").orderBy("timestamp", "event_id")
    gap = F.col("timestamp") - F.lag("timestamp").over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    sess = bdf.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    batch = {
        (r["context_id"], r["session_seq"]):
            (r["n_events"], r["session_start"], r["session_end"],
             r["total_value_cents"])
        for r in sess.groupBy("context_id", "session_seq").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("timestamp").alias("session_start"),
            F.max("timestamp").alias("session_end"),
            F.sum("value_cents").alias("total_value_cents"),
        ).collect()
    }
    # every closed streaming session equals its batch row; the open tail
    # (last session per context) is the only thing missing
    assert got
    for key, val in got.items():
        assert batch[key] == val
    open_tails = set(batch) - set(got)
    assert open_tails == {("u1", 3), ("u2", 3), ("u3", 3)}


def test_streaming_sessionize_idle_flush(spark, tmp_path):
    """With flush_idle, an open session emits after gap_s of
    processing-time inactivity (triggered by a later micro-batch)."""
    import json as _json
    import os
    import time

    from pyspark.sql import types as T

    from sneldb_spark.streaming.sessionize import streaming_sessionize

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    schema = T.StructType(
        [
            T.StructField("context_id", T.StringType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value_cents", T.LongType()),
        ]
    )
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write(_json.dumps({"context_id": "c1", "timestamp": 100,
                             "event_id": 1, "value_cents": 5}) + "\n")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in_dir)
    sessions = streaming_sessionize(stream, gap_s=1, flush_idle=True)
    q = (
        sessions.writeStream.format("memory")
        .queryName("idle_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # ProcessingTimeTimeout makes the engine run micro-batches
        # continuously (shouldRunAnotherBatch is always true), so
        # processAllAvailable() never latches "no new data" — poll the
        # sink with a deadline instead. The continuous batches are also
        # what fires the timeout, with no second input batch needed.
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            rows = spark.sql("SELECT * FROM idle_sessions").collect()
            if rows:
                break
            time.sleep(0.5)
        assert [(r["context_id"], r["session_seq"], r["n_events"],
                 r["total_value_cents"]) for r in rows] == [("c1", 1, 1, 5)]
    finally:
        q.stop()


def test_streaming_window_agg_drops_late_rows(spark, tmp_path):
    """Watermarked tumbling windows: a window emits exactly once when the
    watermark passes its end, and rows arriving later than the watermark
    are dropped instead of mutating a closed window."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from sneldb_spark.streaming.window_agg import tumbling_counts

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    schema = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            for ts, et in rows:
                f.write(_json.dumps({"ts": ts, "event_type": et}) + "\n")

    # 10-minute windows, 5-minute watermark. Window A = [600, 1200),
    # window B = [1800, 2400).
    write_batch("b1.jsonl", [(1000, "click"), (1900, "click")])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in_dir)
    )
    agg = tumbling_counts(
        stream, time_col="ts", group_cols=("event_type",),
        window_s=600, watermark_s=300,
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark after b1 = 1900 - 300 = 1600: past window A's end.
        # b2 delivers a LATE row for window A (dropped) + one more into B;
        # window A emits during b2 with count 1.
        write_batch("b2.jsonl", [(700, "click"), (2000, "click")])
        q.processAllAvailable()
        # watermark after b2 = 2000 - 300 = 1700 < 2400: B still open.
        # b3 pushes the watermark past B's end; B emits with both rows.
        write_batch("b3.jsonl", [(3000, "click")])
        q.processAllAvailable()
        write_batch("b4.jsonl", [(5000, "click")])
        q.processAllAvailable()
        rows = {
            r["bucket"]: r["count"]
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        assert rows[600] == 1  # late row at t=700 was dropped
        assert rows[1800] == 2  # 1900 + 2000
    finally:
        q.stop()


def test_streaming_dedup_rollup_incremental_across_batches(spark, tmp_path):
    """The running (digest, min id, count) rollup must land on the batch
    GROUP BY answer regardless of which micro-batch a duplicate arrives
    in — min/count are order-insensitive, update mode re-emits the key."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from sneldb_spark.streaming.dedup import streaming_dedup_rollup

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")

    # duplicate of "aa" split across batches, with the SMALLER id arriving
    # LATER — the representative must still be the min id
    write_batch("b1.jsonl", [(5, "aa"), (6, "bb")])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in_dir)
    )
    q = (
        streaming_dedup_rollup(stream)
        .writeStream.format("memory")
        .queryName("dedup_roll")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2.jsonl", [(2, "aa"), (7, "aa"), (8, "cc")])
        q.processAllAvailable()
        rows = {
            r["keep_id"]: r["n_copies"]
            for r in spark.sql("SELECT * FROM dedup_roll").collect()
        }
        assert rows == {2: 3, 6: 1, 8: 1}
    finally:
        q.stop()


def test_streaming_dedup_filter_drops_within_watermark(spark, tmp_path):
    import json as _json
    import os

    from pyspark.sql import types as T

    from sneldb_spark.streaming.dedup import streaming_dedup_filter

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        for did, ts, text in [(1, 100, "aa"), (2, 110, "aa"), (3, 120, "bb")]:
            f.write(_json.dumps({"doc_id": did, "ts": ts, "text": text}) + "\n")
    stream = spark.readStream.schema(schema).json(in_dir)
    q = (
        streaming_dedup_filter(stream, time_col="ts", watermark_s=300)
        .writeStream.format("memory")
        .queryName("dedup_filter")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = sorted(
            r["doc_id"] for r in spark.sql("SELECT * FROM dedup_filter").collect()
        )
        assert kept == [1, 3]  # second "aa" dropped
    finally:
        q.stop()


def test_streaming_dedup_filter_state_evicted_past_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract: a digest's state is freed
    once the watermark passes its arrival + horizon, so duplicates
    separated by more than the horizon BOTH survive (bounded state at
    100 TB/day — the documented tradeoff). Plain dropDuplicates under a
    watermark would keep the key forever and emit only the first copy."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from sneldb_spark.streaming.dedup import streaming_dedup_filter

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            for did, ts, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "ts": ts, "text": text}) + "\n"
                )

    write_batch("b1.jsonl", [(1, 100, "aa")])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(in_dir)
    q = (
        streaming_dedup_filter(stream, time_col="ts", watermark_s=300)
        .writeStream.format("memory")
        .queryName("dedup_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far beyond 100 + 300 so "aa"'s state is
        # evicted, then replay the same content
        write_batch("b2.jsonl", [(2, 10_000, "bb")])
        q.processAllAvailable()
        write_batch("b3.jsonl", [(3, 10_100, "aa")])
        q.processAllAvailable()
        kept = sorted(
            r["doc_id"] for r in spark.sql("SELECT * FROM dedup_evict").collect()
        )
        assert kept == [1, 2, 3]  # both "aa" copies survive across horizons
    finally:
        q.stop()


def test_streaming_followed_by_conversion_window(spark, tmp_path):
    """max_gap_s: only in-window Bs pair, the FIRST B settles an A even
    when out-of-window (no fallback — batch parity), and As older than
    the window relative to the newest event are expired from state."""
    got = _chain_harness(
        spark,
        tmp_path,
        [
            # s1 converts in-window; s2's first B is out of window (gap
            # 50); s3's A expires silently (newest key event moves past
            # the horizon)
            [("view", 10, 1, "s1"), ("buy", 12, 2, "s1"),
             ("view", 10, 3, "s2"),
             ("view", 10, 5, "s3")],
            [("buy", 60, 4, "s2"),
             ("view", 100, 6, "s3"),  # advances s3's horizon; old A expired
             ("buy", 101, 7, "s3")],  # only the NEW A should pair
        ],
        ["view", "buy"],
        "funnel_window",
        max_gap_s=10,
    )
    assert got == {("s1", 1, 2), ("s3", 6, 7)}


def _drain_batches(spark, tmp_path, batches, qname, build, cols, start=0, got=None):
    """Feed jsonl micro-batches (one file each) of (event_type, timestamp,
    event_id, session) rows through `build(stream)` and return the set
    (`got`, if given) of emitted `cols` tuples. A restart on the same
    checkpoint passes a `start` past the files the earlier run wrote."""
    import json as _json
    import os

    from pyspark.sql import types as T

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("session", T.StringType()),
        ]
    )
    def write_batch(i, rows):
        with open(os.path.join(in_dir, f"b{start + i}.jsonl"), "w") as f:
            for et, ts, eid, sess in rows:
                f.write(_json.dumps({
                    "event_type": et, "timestamp": ts, "event_id": eid,
                    "session": sess}) + "\n")

    write_batch(0, batches[0])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in_dir)
    got = set() if got is None else got
    # foreachBatch rather than the memory sink: it supports restarting
    # from a checkpoint
    q = (
        build(stream).writeStream.queryName(qname)
        .foreachBatch(lambda df, _: got.update(tuple(r) for r in df.select(*cols).collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # drain each micro-batch before writing the next so arrival order
        # is the intended one (the file source orders by mod time)
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            write_batch(i, rows)
            q.processAllAvailable()
        return got
    finally:
        q.stop()


def _chain_harness(spark, tmp_path, batches, step_types, qname, **kw):
    """streaming_chain over `batches`: the set of (link, s0_id, s1_id, ...,
    sN_id) emitted tuples."""
    from sneldb_spark.streaming.sequence import streaming_chain

    cols = ["link"] + [f"s{i}_event_id" for i in range(len(step_types))]
    return _drain_batches(
        spark, tmp_path, batches, qname,
        lambda stream: streaming_chain(stream, step_types, "session", **kw), cols,
    )


def _preceded_harness(spark, tmp_path, batches, head, tail, qname, **kw):
    """streaming_preceded_by over `batches`: the set of (link, a_id, b_id)
    emitted tuples."""
    from sneldb_spark.streaming.sequence import streaming_preceded_by

    return _drain_batches(
        spark, tmp_path, batches, qname,
        lambda stream: streaming_preceded_by(stream, head, tail, "session", **kw),
        ["link", "a_event_id", "b_event_id"],
    )


def _link_buckets(spark, *links):
    """The set of state buckets the links hash to."""
    from pyspark.sql import functions as F

    from sneldb_spark.streaming.sequence import STATE_BUCKETS

    return {
        r[0]
        for r in spark.createDataFrame([(x,) for x in links], "link string")
        .select(F.pmod(F.xxhash64("link"), F.lit(STATE_BUCKETS)))
        .collect()
    }


def _same_bucket(spark, *links):
    """Assert the links share one state bucket, so a test exercises
    several links multiplexed through one state row."""
    buckets = _link_buckets(spark, *links)
    assert len(buckets) == 1, buckets


def test_streaming_chain_three_steps_across_batches(spark, tmp_path):
    """Chains persist across micro-batches; each step matches the first
    at-or-after event; a completed chain emits exactly once; an event can
    advance several pending chains at the same step."""
    got = _chain_harness(
        spark,
        tmp_path,
        [
            # two heads on s1 (both awaiting cart), head on s2
            [("view", 10, 1, "s1"), ("view", 11, 2, "s1"), ("view", 10, 3, "s2")],
            # one cart advances BOTH s1 chains; s2 stays at step 0
            [("cart", 20, 4, "s1")],
            # buy completes both s1 chains; a later buy must not re-emit
            [("buy", 30, 5, "s1"), ("buy", 31, 6, "s1"), ("cart", 40, 7, "s2")],
            [("buy", 50, 8, "s2")],
        ],
        ["view", "cart", "buy"],
        "chain3",
    )
    assert got == {
        ("s1", 1, 4, 5),
        ("s1", 2, 4, 5),
        ("s2", 3, 7, 8),
    }


def test_streaming_chain_equal_ts_cascade(spark, tmp_path):
    """The batch tie rule: an equal-timestamp event can serve adjacent
    steps, and within one micro-batch earlier-position events process
    first at equal ts."""
    got = _chain_harness(
        spark,
        tmp_path,
        [[("buy", 10, 3, "s1"), ("cart", 10, 2, "s1"), ("view", 10, 1, "s1")]],
        ["view", "cart", "buy"],
        "chain_ties",
    )
    assert got == {("s1", 1, 2, 3)}


def test_streaming_chain_conversion_window(spark, tmp_path):
    """max_gap_s bounds every adjacent link gap and expires stale pending
    chains only after the batch that moved the horizon."""
    got = _chain_harness(
        spark,
        tmp_path,
        [
            [("view", 10, 1, "s1"), ("cart", 15, 2, "s1"),
             ("view", 10, 3, "s2")],
            # s1 buy inside window of cart(15); s2 cart way out of window
            [("buy", 20, 4, "s1"), ("cart", 100, 5, "s2"),
             ("buy", 105, 6, "s2")],
        ],
        ["view", "cart", "buy"],
        "chain_win",
        max_gap_s=10,
    )
    assert got == {("s1", 1, 2, 4)}


@pytest.mark.parametrize(
    "seed,gap,links",
    [(7, None, 6), (23, None, 6), (5, 30, 6), (13, None, 6), (11, None, 400)],
)
def test_streaming_chain_matches_batch_chain(spark, tmp_path, seed, gap, links):
    """Parity: draining an in-timestamp-order stream equals the batch
    sequence_match_chain over the same events (the gate's oracle shape).
    With a conversion window, streaming's during-match gap check equals
    the batch WITHIN post-filter (first-at-or-after out of window kills
    the chain in both: later candidates are only farther). The 400-link
    case has more links than state buckets, so several links share a
    bucket's state row."""
    import random

    from pyspark.sql import functions as F

    from sneldb_spark.plans.sequence import sequence_match_chain
    from sneldb_spark.streaming.sequence import STATE_BUCKETS

    rng = random.Random(seed)
    rows, ts, eid = [], 100, 0
    for _ in range(max(120, 8 * links)):
        ts += rng.randint(1, 3)
        eid += 1
        rows.append((
            rng.choice(["view", "cart", "buy", "other"]),
            ts, eid, f"s{rng.randint(1, links)}",
        ))
    assert links <= 6 or len({r[3] for r in rows}) > STATE_BUCKETS
    # three micro-batches, order preserved (server-ts arrival order)
    third = len(rows) // 3
    batches = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    got = _chain_harness(spark, tmp_path, batches, ["view", "cart", "buy"],
                         f"chain_parity_{seed}_{links}", max_gap_s=gap)

    ev = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, session string"
    )
    frames = [
        ev.where(F.col("event_type") == t).select("session", "timestamp", "event_id")
        for t in ["view", "cart", "buy"]
    ]
    chain = sequence_match_chain(
        frames, "session", ["followed_by", "followed_by"]
    )
    if gap is not None:
        for i in range(2):
            chain = chain.where(
                F.col(f"s{i + 1}_timestamp") - F.col(f"s{i}_timestamp") <= gap
            )
    want = {
        (r["s0_session"], r["s0_event_id"], r["s1_event_id"], r["s2_event_id"])
        for r in chain.collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.parametrize("shared", [0, 1])
def test_streaming_chain_ttl_cap_keeps_newest(spark, tmp_path, shared):
    """state_ttl_rows caps PENDING chains per link at batch end, keeping
    the NEWEST (documented output contract: oldest silently dropped on
    hot keys): 5 heads on the hot link, cap 2 -> only the newest two
    complete; the cold link (1 chain, under cap) is untouched. Pinned
    with the cold link in a state bucket of its own (shared=0) and in
    the hot link's bucket (shared=1), where one state row holds both."""
    cold = "c70" if shared else "c"
    assert len(_link_buckets(spark, "h", cold)) == 2 - shared
    got = _chain_harness(
        spark,
        tmp_path,
        [
            # 5 pending heads on h (cap drops ids 1-3 at batch end), 1 on cold
            [("view", 10, 1, "h"), ("view", 11, 2, "h"), ("view", 12, 3, "h"),
             ("view", 13, 4, "h"), ("view", 14, 5, "h"), ("view", 10, 6, cold)],
            [("cart", 20, 7, "h"), ("buy", 21, 8, "h"),
             ("cart", 20, 9, cold), ("buy", 21, 10, cold)],
        ],
        ["view", "cart", "buy"],
        f"chain_ttl_{shared}",
        state_ttl_rows=2,
    )
    assert got == {("h", 4, 7, 8), ("h", 5, 7, 8), (cold, 6, 9, 10)}


def test_streaming_chain_expiry_horizon_is_per_link(spark, tmp_path):
    """Expiry horizons are PER LINK, from each link's own batch-max ts —
    a link that saw no events this batch must keep its pending chains
    even when another link in the same bucket moved time far forward
    (both links share one state row, so a bucket-max horizon would
    wrongly evict c5's chain in batch 2)."""
    _same_bucket(spark, "a", "c5")
    got = _chain_harness(
        spark,
        tmp_path,
        [
            [("view", 10, 1, "a"), ("view", 10, 2, "c5")],
            # only a sees events; its chain expires (cursor 10 < 100-10).
            # c5 is untouched: horizon must not move for it.
            [("cart", 100, 3, "a")],
            [("cart", 15, 4, "c5"), ("buy", 20, 5, "c5"),
             ("cart", 110, 6, "a"), ("buy", 115, 7, "a")],
        ],
        ["view", "cart", "buy"],
        "chain_perlink_horizon",
        max_gap_s=10,
    )
    assert got == {("c5", 2, 4, 5)}


@pytest.mark.parametrize("gap", [None, 3])
def test_streaming_preceded_by_matches_board_oracle(spark, tmp_path, gap):
    """Parity with the correctness board's as-of oracle SQL (DuckDB) over
    three micro-batches. Timestamps repeat, so batch boundaries split
    equal-ts runs (cross-batch ties); with a window the oracle's pairs
    are post-filtered on the gap (the latest B is the closest)."""
    import random

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    rng = random.Random(26)
    rows, ts = [], 100
    for eid in range(1, 241):
        ts += rng.randint(0, 2)
        rows.append((rng.choice(["error", "click", "click", "other"]),
                     ts, eid, f"s{rng.randint(1, 3)}"))
    assert rows[79][1] == rows[80][1]  # a batch boundary splits a ts run
    got = _preceded_harness(
        spark, tmp_path, [rows[:80], rows[80:160], rows[160:]],
        "error", "click", f"preceded_parity_{gap}", max_gap_s=gap,
    )

    events = pd.DataFrame(rows, columns=["event_type", "t", "event_id", "user_id"])
    events["ts"] = pd.to_datetime(events["t"], unit="s")
    events["props"] = "{}"
    events["value"] = 0.0
    con = duckdb.connect()
    con.register("events", events)
    oracle = con.execute(entry.oracle_sql()["streaming_seq_preceded_by"]).fetchall()
    want = {
        (link, a_id, b_id)
        for link, a_id, a_ts, b_id, b_ts in oracle
        if gap is None or a_ts - b_ts <= gap
    }
    assert got == want and len(want) > 0


@pytest.mark.parametrize("layout", ["per_link_key", "unstamped_buckets"])
def test_streaming_chain_rejects_old_layout_checkpoint(spark, tmp_path, layout):
    """Checkpoints of the earlier layouts fail Spark's state schema check
    on restart instead of emitting rows from mismatched state: the
    per-link-key layout (state grouped by a string `__link`) on its key
    schema, the bucketed layout without the bucket-count stamp on its
    value schema."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sneldb_spark.streaming.sequence import streaming_chain

    flat = [
        T.StructField("steps", T.ArrayType(T.IntegerType())),
        T.StructField("flat_ts", T.ArrayType(T.LongType())),
        T.StructField("flat_id", T.ArrayType(T.LongType())),
    ]
    if layout == "per_link_key":
        key_name, key, fields = "__link", F.col("session"), flat
        error = "STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"
    else:
        key_name, key = "__bucket", F.pmod(F.xxhash64("session"), F.lit(256))
        fields = [T.StructField("links", T.ArrayType(T.StringType())), *flat]
        error = "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"

    def old_matcher(_key, pdfs, state):
        for pdf in pdfs:
            row = ([1], [int(pdf["timestamp"].max())], [1])
            state.update(row if layout == "per_link_key" else ([pdf["link"].iloc[0]], *row))
        return iter(())

    def build(stream):
        return (
            stream.select(key.alias(key_name), F.col("session").alias("link"), "timestamp")
            .groupBy(key_name)
            .applyInPandasWithState(
                old_matcher,
                outputStructType="link string",
                stateStructType=T.StructType(fields),
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    _drain_batches(spark, tmp_path, [[("view", 10, 1, "s1")]], "old_layout",
                   build, ["link"])
    emitted = set()
    with pytest.raises(Exception, match=error):
        _drain_batches(
            spark, tmp_path, [[("cart", 20, 2, "s1")]], "new_layout",
            lambda st: streaming_chain(st, ["view", "cart"], "session"),
            ["link"], start=1, got=emitted,
        )
    assert not emitted


def test_streaming_chain_rejects_other_bucket_count(spark, tmp_path, monkeypatch):
    """State rows are stamped with the bucket count: a restart under a
    different count raises a RuntimeError naming both counts instead of
    reading pending chains from the wrong buckets."""
    from sneldb_spark.streaming import sequence

    def build(stream):
        return sequence.streaming_chain(stream, ["view", "cart"], "session")

    # s13 hashes below 8 under 256 buckets, so it keeps its bucket key
    # under 8 buckets and the restart finds the stamped state row
    assert sequence.STATE_BUCKETS == 256
    _drain_batches(spark, tmp_path, [[("view", 10, 1, "s13")]], "stamp_256",
                   build, ["link"])
    monkeypatch.setattr(sequence, "STATE_BUCKETS", 8)
    with pytest.raises(
        Exception,
        match=r"RuntimeError.*written with 256 key buckets but this engine "
              r"uses 8: delete the checkpoint and re-drain",
    ):
        _drain_batches(spark, tmp_path, [[("cart", 20, 2, "s13")]], "stamp_8",
                       build, ["link"], start=1)


def test_streaming_chain_over_live_store_stream(spark, tmp_path):
    """End to end on the ENGINE's own storage: streaming_chain over a
    union of the store's per-type parquet streams, drained availableNow
    at FLUSH barriers (the multi-source pattern — an always-on trigger
    could consume one type's commit before another's, breaking the
    cross-type arrival order the matcher assumes; the per-flush drain
    puts every complete flush in order). The second drain restarts from
    the checkpoint, proving the flat-encoded chain state round-trips."""
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.streaming.sequence import streaming_chain

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    for et in ("view", "cart", "buy"):
        db.execute(f'DEFINE {et} FIELDS {{ "user_id": "string" }}')

    def store(et, user):
        db.execute(f'STORE {et} FOR c-{user} PAYLOAD {{ "user_id": "{user}" }}')

    def drain():
        ev = None
        for et in ("view", "cart", "buy"):
            s = db.store.read_stream(et)
            ev = s if ev is None else ev.unionByName(s, allowMissingColumns=True)
        matches = streaming_chain(ev, ["view", "cart", "buy"], "user_id")
        out = str(tmp_path / "out")
        q = (
            matches.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["link"] for r in spark.read.parquet(out).collect()}

    store("view", "u1"); store("cart", "u1")
    store("view", "u2")
    db.execute("FLUSH")
    assert drain() == set()  # no buys yet; chains pending in state

    store("buy", "u1"); store("cart", "u2"); store("buy", "u2")
    db.execute("FLUSH")
    # fresh query, same checkpoint: state recovered, both chains complete
    assert drain() == {"u1", "u2"}
    batch = db.query(
        "QUERY view FOLLOWED BY cart FOLLOWED BY buy LINKED BY user_id"
    )
    assert batch.count() == 2


def test_stream_sequence_from_command_text(spark, tmp_path):
    """Engine surface: the SAME sequence-QUERY text runs live — WHERE
    sides, WITHIN, and multi-link chains through stream_sequence, drained
    availableNow at flush barriers."""
    import pytest as _pytest

    from sneldb_spark.engine import SnelDB
    from sneldb_spark.errors import SnelDBError

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick, multi_link=True)
    db.execute('DEFINE view FIELDS { "user_id": "string", "page": "string" }')
    db.execute('DEFINE buy FIELDS { "user_id": "string", "amount": "int" }')

    def store(et, user, extra):
        db.execute(f'STORE {et} FOR c-{user} PAYLOAD {{ "user_id": "{user}", {extra} }}')

    store("view", "u1", '"page": "/checkout"')
    store("buy", "u1", '"amount": 50')
    store("view", "u2", '"page": "/home"')   # filtered out by the side WHERE
    store("buy", "u2", '"amount": 70')
    store("view", "u3", '"page": "/checkout"')
    store("buy", "u3", '"amount": 5')        # filtered out by the buy side
    db.execute("FLUSH")

    matches = db.stream_sequence(
        'QUERY view FOLLOWED BY buy LINKED BY user_id '
        'WHERE view.page = "/checkout" AND buy.amount >= 10'
    )
    assert matches.isStreaming
    q = (
        matches.writeStream.format("memory")
        .queryName("ss_text")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["link"] for r in spark.sql("SELECT * FROM ss_text").collect()}
    assert got == {"u1"}

    with _pytest.raises(SnelDBError, match="batch-only"):
        db.stream_sequence(
            "QUERY view FOLLOWED BY buy LINKED BY user_id COUNT"
        )
    with _pytest.raises(SnelDBError, match="sequence QUERY"):
        db.stream_sequence("QUERY view")
    with _pytest.raises(SnelDBError, match="USING is batch-only"):
        db.stream_sequence(
            'QUERY view FOLLOWED BY buy LINKED BY user_id SINCE "2024-01-01" USING page'
        )


def test_stream_sequence_max_files_per_trigger_sizes_batches(spark, tmp_path):
    """The micro-batch sizing knob: with max_files_per_trigger=1 a drain
    over several flush commits runs several micro-batches (the fixed
    per-trigger cost trades against latency — docs/streaming.md); the
    default drains everything in one. Results identical either way."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    db = SnelDB(spark, str(tmp_path / "db"), clock=tick)
    db.execute('DEFINE a FIELDS { "user_id": "string" }')
    db.execute('DEFINE b FIELDS { "user_id": "string" }')
    for i in range(3):  # three flush commits -> >=3 files per type
        db.execute(f'STORE a FOR c{i} PAYLOAD {{ "user_id": "u{i}" }}')
        db.execute(f'STORE b FOR c{i} PAYLOAD {{ "user_id": "u{i}" }}')
        db.execute("FLUSH")

    def drain(name, **kw):
        batches = []
        q = (
            db.stream_sequence("QUERY a FOLLOWED BY b LINKED BY user_id", **kw)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .foreachBatch(lambda df, bid: batches.append(df.count()))
            .start()
        )
        q.awaitTermination()
        return batches

    sized = drain("sized", max_files_per_trigger=1)
    whole = drain("whole")
    assert len(sized) >= 3        # one trigger per file commit
    assert len(whole) <= 2        # availableNow drains in one go
    assert sum(sized) == sum(whole) == 3  # u0..u2 matched either way
