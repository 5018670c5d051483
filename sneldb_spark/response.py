"""Response rendering: the reference's wire formats.

JSON frame stream (reference: src/shared/response/json.rs:138-216):

    {"type": "schema", "columns": [...], "types": [...]}
    {"type": "batch", "rows": [[...], ...], "row_count": N}
    ...
    {"type": "end", "row_count": total}

Arrow IPC stream (reference: src/shared/response/arrow.rs:115-180): the
whole result as Arrow record batches.

Batch size mirrors the reference's `streaming_batch_size = 1000`. Rows
reach the encoder one of two ways (`_row_sources`):

- streamed through `toLocalIterator`: one Spark job per partition, the
  driver holds one partition at a time. Every first delivery of a frame
  streams, and so does every result larger than `ONE_JOB_ROWS`;
- replayed from the frame's memo: zero Spark jobs. A stream that reached
  its end with at most `ONE_JOB_ROWS` rows keeps those rows on the frame
  object (`__sneldb_memo__`), and a later delivery of the same object
  encodes them again. Engine frames are fixed snapshots (an eager file
  listing plus a memtable snapshot), so the rows hold for every later
  delivery of the object. Only two things hand an engine frame out
  again, and both check first that nothing it read changed: the
  prepared-plan cache (read signatures) and SHOW's stored-result reuse
  (file signature). A write, flush, compaction or DEFINE yields a new
  frame object, which streams.

Retained memory has a total bound: all memos together hold at most
`MEMO_ROWS` = `prepared.CAPACITY` x `STREAMING_BATCH_SIZE` rows (64k,
about 35 MB at the events row shape). Past it the memo delivered least
recently is dropped, and its frame streams again on its next delivery.
Abandoned streams, results over `ONE_JOB_ROWS` and serve-first frames
(`__sneldb_serve_parts__`) record nothing.
"""

from __future__ import annotations

import json
import math
import threading
import weakref
from collections import OrderedDict
from collections.abc import Iterator

from pyspark.sql import DataFrame

from sneldb_spark.plans.prepared import CAPACITY

STREAMING_BATCH_SIZE = 1000
# Largest result one frame's memo keeps for replay.
ONE_JOB_ROWS = 10 * STREAMING_BATCH_SIZE
# Rows all memos together retain: one batch per prepared-plan entry.
MEMO_ROWS = CAPACITY * STREAMING_BATCH_SIZE


class _Memos:
    """The rows each memoized frame keeps (`__sneldb_memo__`), in order of
    last delivery. The frame owns its rows; this index only counts them
    and drops the least recently delivered memo past `bound`. A frame
    that is garbage-collected takes its rows along; its entry is swept
    at the next record."""

    def __init__(self, bound: int):
        self.bound = bound
        self.rows = 0
        self._order: OrderedDict[int, tuple[weakref.ref, int]] = OrderedDict()
        self._lock = threading.Lock()

    def replay(self, df: DataFrame) -> tuple | None:
        with self._lock:
            rows = getattr(df, "__sneldb_memo__", None)
            if rows is not None:
                self._order.move_to_end(id(df))
            return rows

    def record(self, df: DataFrame, rows: tuple) -> None:
        with self._lock:
            self._drop(id(df))
            for key, (ref, _) in list(self._order.items()):
                if ref() is None:
                    self._drop(key)
            df.__sneldb_memo__ = rows
            self._order[id(df)] = (weakref.ref(df), len(rows))
            self.rows += len(rows)
            while self.rows > self.bound:
                self._drop(next(iter(self._order)))

    def _drop(self, key: int) -> None:
        held = self._order.pop(key, None)
        if held is None:
            return
        self.rows -= held[1]
        df = held[0]()
        if df is not None:
            del df.__sneldb_memo__


# one index per process: the bound is on driver memory, which every
# engine and frontend in the process shares
_MEMOS = _Memos(MEMO_ROWS)


def _json_cell(v):
    if v is None or isinstance(v, (str, bool, int)):
        return v
    if isinstance(v, float):
        # NaN and ±inf have no JSON token: strict clients reject the bare
        # NaN/Infinity that json.dumps would write
        return v if math.isfinite(v) else None
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_json_cell(x) for x in v]
    return str(v)


def _dumps(obj) -> str:
    # Compact separators to match the reference's sonic_rs output byte
    # shapes — scenario matchers check fragments like ',2]' that a
    # ', '-separated rendering would miss.
    return json.dumps(obj, separators=(",", ":"))


def _row_sources(df: DataFrame):
    """Iterate a result's rows, part-aware: a serve-then-refresh SHOW
    attaches `__sneldb_serve_parts__ = (stored, delta)` and the parts
    stream SEQUENTIALLY — the stored parquet scan's first task puts
    frames on the wire while the delta's join plan (the expensive
    planning work) hasn't been paid yet. Same rows, same order as
    iterating the union plan (stored partitions precede delta
    partitions there too).

    A plain frame streamed to its end with at most `ONE_JOB_ROWS` rows
    keeps them (`_MEMOS`); a later delivery of the same object replays
    those Row objects with no Spark job, so every encoder sees the same
    rows in the same order. An abandoned stream records nothing."""
    parts = getattr(df, "__sneldb_serve_parts__", None)
    if parts is not None:
        for part in parts:
            yield from part.toLocalIterator()
        return
    memo = _MEMOS.replay(df)
    if memo is not None:
        yield from memo
        return
    seen: list | None = []
    for row in df.toLocalIterator():
        if seen is not None:
            if len(seen) < ONE_JOB_ROWS:
                seen.append(row)
            else:
                seen = None
        yield row
    if seen is not None:
        _MEMOS.record(df, tuple(seen))


def json_frames(df: DataFrame, batch_size: int = STREAMING_BATCH_SIZE) -> Iterator[str]:
    """Yield JSON frame lines for a result DataFrame."""
    schema = df.schema
    yield _dumps(
        {
            "type": "schema",
            "columns": [f.name for f in schema.fields],
            "types": [f.dataType.simpleString() for f in schema.fields],
        }
    )
    total = 0
    batch: list[list] = []
    for row in _row_sources(df):
        batch.append([_json_cell(v) for v in row])
        if len(batch) >= batch_size:
            total += len(batch)
            yield _dumps({"type": "batch", "rows": batch, "row_count": len(batch)})
            batch = []
    if batch:
        total += len(batch)
        yield _dumps({"type": "batch", "rows": batch, "row_count": len(batch)})
    yield _dumps({"type": "end", "row_count": total})


def arrow_ipc_bytes(df: DataFrame) -> bytes:
    """Whole result as one Arrow IPC stream (an HTTP body): the chunks of
    `arrow_ipc_frames` joined, so a repeated delivery replays the memo
    like the socket frontends do."""
    return b"".join(arrow_ipc_frames(df))


def arrow_ipc_frames(df: DataFrame, batch_size: int = STREAMING_BATCH_SIZE) -> Iterator[bytes]:
    """Yield an Arrow IPC stream incrementally: one chunk for the schema
    message, one per record batch, one for the end-of-stream marker
    (continuation + zero length — reference:
    src/shared/response/arrow.rs:115-180 ArrowStreamEncoder).

    Rows come through `_row_sources` exactly like `json_frames`, with
    the same memo. The Arrow schema comes from a
    `limit(0)` collect (public API, Connect-compatible). That collect
    returns no rows but still runs a Spark job, so it runs once per
    frame object: the schema is recorded on the frame
    (`__sneldb_arrow_schema__`) and a repeated delivery reuses it."""
    import io

    import pyarrow as pa

    schema = getattr(df, "__sneldb_arrow_schema__", None)
    if schema is None:
        probe = getattr(df, "__sneldb_serve_parts__", (df,))[0]
        schema = df.__sneldb_arrow_schema__ = probe.limit(0).toArrow().schema
    names = [f.name for f in df.schema.fields]
    sink = io.BytesIO()
    writer = pa.ipc.new_stream(sink, schema)

    def take() -> bytes:
        data = sink.getvalue()
        sink.seek(0)
        sink.truncate(0)
        return data

    def to_batch(rows: list) -> pa.RecordBatch:
        cols = list(zip(*rows))
        arrays = [
            pa.array(list(cols[i]), type=schema.field(i).type)
            for i in range(len(names))
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    yield take()  # schema message
    batch: list = []
    for row in _row_sources(df):
        batch.append(tuple(row))
        if len(batch) >= batch_size:
            writer.write_batch(to_batch(batch))
            yield take()
            batch = []
    if batch:
        writer.write_batch(to_batch(batch))
        yield take()
    writer.close()
    tail = take()
    if tail:
        yield tail  # end-of-stream marker
