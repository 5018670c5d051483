"""Structured Streaming STORE path.

The reference's write pipeline — frontend -> validate -> WAL -> memtable ->
flush (reference: src/command/handlers/store.rs:115-175, src/engine/shard/) —
maps onto Structured Streaming:

    source (json lines / Kafka / socket) --readStream-->
    parse + validate against the schema registry -->
    foreachBatch: assign server timestamp + event_id, append per-type Parquet

- The WAL's durability role is played by the streaming checkpoint + the
  source's own retention (Kafka) — exactly-once into the sink via the
  batch-id-committed file sink protocol.
- FLUSH <=> processAllAvailable() (a commit barrier; tests use it the same
  way scenarios use the FLUSH command).
- Validation REJECTS rows into a quarantine location rather than failing
  the stream: at 100 TB you never stop the firehose for one bad event; the
  reference instead returns a per-command error on the socket, which has no
  streaming equivalent.

Input format: JSON lines, one object per line:
    {"event_type": "...", "context_id": "...", "payload": {...}}
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sneldb_spark.schema.registry import SchemaRegistry
from sneldb_spark.schema.types import FieldType
from sneldb_spark.store.event_store import EventStore

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), True),
        T.StructField("context_id", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),  # nested JSON as text
    ]
)


def _payload_column(ft: FieldType, raw: F.Column) -> F.Column:
    """JSON string fragment -> typed payload column (JVM-side casts; the
    full normalization semantics live in schema/validation.py for the
    command path — the streaming path accepts the common formats)."""
    # try_cast everywhere: under ANSI mode (Spark 4 default) a plain cast
    # would kill the stream on one malformed value; null -> quarantine.
    if ft.kind in ("i64", "u64"):
        return raw.try_cast("long")
    if ft.kind == "f64":
        # an overflowing literal (1e999, a 400-digit integer) casts to
        # ±inf and "NaN" to NaN; null them so the row is quarantined, as
        # STORE rejects them (NaN compares above every double in Spark)
        num = raw.try_cast("double")
        return F.when(F.abs(num) <= F.lit(sys.float_info.max), num)
    if ft.kind == "bool":
        return raw.try_cast("boolean")
    if ft.kind == "datetime":
        # numeric epoch (seconds) or ISO-8601 string
        return F.coalesce(
            raw.try_cast("long"),
            F.unix_timestamp(F.try_to_timestamp(raw)).try_cast("long"),
        )
    if ft.kind == "date":
        epoch = F.coalesce(
            raw.try_cast("long"),
            F.unix_timestamp(F.try_to_timestamp(raw)).try_cast("long"),
        )
        return (F.floor(epoch / 86400) * 86400).try_cast("long")
    return raw  # string / enum


def _valid_predicate(ft: FieldType, raw: F.Column, typed: F.Column) -> F.Column:
    ok = F.when(raw.isNull(), F.lit(ft.nullable)).otherwise(typed.isNotNull())
    if ft.kind == "enum":
        ok = ok & (raw.isNull() | typed.isin(*ft.enum_values))
    if ft.kind == "u64":
        ok = ok & (raw.isNull() | (typed >= 0))
    return ok


class StreamingIngest:
    """Drives a readStream of JSON-lines events into the EventStore."""

    def __init__(
        self,
        store: EventStore,
        checkpoint_dir: str | None = None,
        auto_compact_every: int | None = 64,
    ):
        self.store = store
        self.registry: SchemaRegistry = store.registry
        self.checkpoint_dir = checkpoint_dir or os.path.join(store.root, "_checkpoints")
        self.quarantine_dir = os.path.join(store.root, "_quarantine")
        # Small-file control (the reference's background compactor, S7):
        # every micro-batch appends files, so after `auto_compact_every`
        # commits to a type its partitions are rewritten into right-sized
        # sorted files. None disables.
        self.auto_compact_every = auto_compact_every
        self._commits_since_compact: dict[str, int] = {}
        self._query = None

    # -- batch transform (also unit-testable without a stream) -------------
    def _validity_expr(self, event_type: str) -> F.Column:
        """The row-validity predicate for one type — shared by the
        per-type split below and the whole-batch presence scan, so both
        agree bit-for-bit on what counts as rejected."""
        schema = self.registry.get(event_type)
        valid = F.col("context_id").isNotNull()
        for fname, ft in schema.fields.items():
            raw_col = F.get_json_object(F.col("payload"), f"$.{fname}")
            valid = valid & _valid_predicate(ft, raw_col, _payload_column(ft, raw_col))
        return valid

    def validate_and_type(self, raw: DataFrame, event_type: str) -> tuple[DataFrame, DataFrame]:
        """Split a raw micro-batch into (typed valid rows, rejected rows)."""
        schema = self.registry.get(event_type)
        df = raw.where(F.col("event_type") == event_type)
        typed_cols: list[F.Column] = []
        valid = F.col("context_id").isNotNull()
        for fname, ft in schema.fields.items():
            raw_col = F.get_json_object(F.col("payload"), f"$.{fname}")
            typed = _payload_column(ft, raw_col)
            typed_cols.append(typed.alias(fname))
            valid = valid & _valid_predicate(ft, raw_col, typed)
        # extra undeclared keys are rejected by the command path; the
        # streaming path tolerates them (declared fields win) — documented
        # relaxation for firehose sources.
        ok = df.where(valid).select(
            F.col("context_id"), F.col("event_type"), *typed_cols
        )
        bad = df.where(~valid)
        return ok, bad

    def _process_batch(self, batch: DataFrame, batch_id: int):
        batch = batch.persist()
        try:
            now = int(time.time())
            # One presence scan for the whole batch instead of per-type
            # take(1) probes — each probe was a full extra job per type.
            # Counting per (type, partition) in the same job also gives the
            # offsets that make bulk event_ids globally unique below, and
            # (r11) a validity count per type so the quarantine decision
            # costs no further job: the old `bad.limit(1).count()` probe
            # re-scanned the persisted batch once PER TYPE per micro-batch.
            # The CASE chain evaluates exactly one type's predicate per row
            # (the same expression validate_and_type filters on later).
            valid_case = None
            for et in self.registry.event_types():
                cond = F.col("event_type") == et
                v = self._validity_expr(et)
                valid_case = (
                    F.when(cond, v) if valid_case is None
                    else valid_case.when(cond, v)
                )
            n_ok = (
                F.sum(valid_case.otherwise(F.lit(False)).cast("long")).alias("__ok")
                if valid_case is not None
                else F.lit(0).alias("__ok")
            )
            present: dict[str, dict[int, int]] = {}
            n_bad: dict[str, int] = {}
            for r in (
                batch.groupBy("event_type", F.spark_partition_id().alias("__pid"))
                .agg(F.count(F.lit(1)).alias("count"), n_ok)
                .collect()
            ):
                present.setdefault(r["event_type"], {})[r["__pid"]] = r["count"]
                n_bad[r["event_type"]] = (
                    n_bad.get(r["event_type"], 0) + r["count"] - r["__ok"]
                )
            for event_type in self.registry.event_types():
                pid_counts = present.get(event_type)
                if not pid_counts:
                    continue
                ok, bad = self.validate_and_type(batch, event_type)
                ok_rows = ok.withColumn("timestamp", F.lit(now).cast("long"))
                ok_rows = self._with_event_ids(ok_rows, pid_counts, now)
                cols = ["context_id", "event_type", "timestamp", "event_id"] + sorted(
                    self.registry.get(event_type).fields
                )
                self.store.append_dataframe(event_type, ok_rows.select(*cols))
                if self.auto_compact_every:
                    n = self._commits_since_compact.get(event_type, 0) + 1
                    if n >= self.auto_compact_every:
                        self.store.compact(event_type)
                        n = 0
                    self._commits_since_compact[event_type] = n
                # Quarantine write is skipped entirely when the type's rows
                # all validated — known from the presence scan's validity
                # count, no per-type probe job.
                if n_bad.get(event_type, 0):
                    bad.withColumn("reject_batch", F.lit(batch_id)).write.mode(
                        "append"
                    ).json(os.path.join(self.quarantine_dir, event_type))
        finally:
            batch.unpersist()

    def _with_event_ids(
        self, ok: DataFrame, pid_counts: dict[int, int], now: int
    ) -> DataFrame:
        """Globally-unique, time-ordered event ids for a bulk batch.

        A disjoint id subrange is reserved per (batch, type): the allocator
        hands out ceil(total/1024) whole snowflake ms-blocks under its lock
        (store.event_store.reserve_event_id_blocks), and each partition gets
        a contiguous slice of row indexes — cumulative starts from the
        per-partition counts of THIS batch's raw rows, plus the in-partition
        offset recovered from monotonically_increasing_id (pid << 33 + row
        offset). Raw counts over-reserve when rows fail validation, which
        only skips ids, never reuses them. The previous
        ``base + monotonically_increasing_id()`` scheme collided across
        types in one batch and across batches seconds apart (partition
        strides of 2^33 overlapped later bases).

        Scale note: the only driver-side state is one (pid -> start) map
        per batch — no per-row round-trips, no shuffle; the id expression
        is pure codegen arithmetic on the partition-local row counter.
        """
        from sneldb_spark.store.event_store import reserve_event_id_blocks

        total = sum(pid_counts.values())
        base_ms, writer_id = reserve_event_id_blocks(total, now * 1000)
        starts: list[F.Column] = []
        acc = 0
        for pid in sorted(pid_counts):
            starts.extend((F.lit(pid), F.lit(acc)))
            acc += pid_counts[pid]
        pid = F.spark_partition_id().cast("long")
        idx = (
            F.create_map(*starts)[F.spark_partition_id()]
            + (F.monotonically_increasing_id() - F.shiftleft(pid, 33))
        )
        event_id = (
            F.shiftleft(F.lit(base_ms).cast("long") + F.floor(idx / 1024), 20)
            + F.lit(writer_id << 10)
            + F.pmod(idx, F.lit(1024))
        ).cast("long")
        return ok.withColumn("event_id", event_id)

    # -- stream control ----------------------------------------------------
    def start_from_json_dir(self, input_dir: str, trigger_seconds: int | None = None):
        spark: SparkSession = self.store.spark
        raw = (
            spark.readStream.schema(INPUT_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .json(input_dir)
        )
        writer = (
            raw.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName("sneldb-ingest")
        )
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self._query = writer.start()
        return self._query

    def flush(self):
        """FLUSH: block until everything available is committed."""
        if self._query is not None:
            self._query.processAllAvailable()

    def stop(self):
        if self._query is not None:
            self._query.stop()
            self._query = None
