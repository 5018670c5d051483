"""Response rendering: the reference's wire formats.

JSON frame stream (reference: src/shared/response/json.rs:138-216):

    {"type": "schema", "columns": [...], "types": [...]}
    {"type": "batch", "rows": [[...], ...], "row_count": N}
    ...
    {"type": "end", "row_count": total}

Arrow IPC stream (reference: src/shared/response/arrow.rs:115-180): the
whole result as Arrow record batches.

Batch size mirrors the reference's `streaming_batch_size = 1000`. Rows
reach the driver one of two ways (`_row_sources`), each with its own
driver-memory bound:

- streamed through `toLocalIterator`: one Spark job per partition, the
  driver holds one partition at a time. Every first delivery of a frame
  streams, and so does every result larger than `ONE_JOB_ROWS`;
- fetched with one `collect()`: one Spark job, the driver holds at most
  `ONE_JOB_ROWS` rows. Only a frame delivered before, whose recorded row
  count is within the bound, takes this path. Engine frames are fixed
  snapshots (an eager file listing plus a memtable snapshot), so the
  count recorded on the object holds for every later delivery of it; the
  prepared-plan cache and SHOW's stored-result reuse are what hand the
  same object out again.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

from pyspark.sql import DataFrame

STREAMING_BATCH_SIZE = 1000
# Largest result a repeated delivery fetches with one collect() instead of
# a per-partition stream: the driver-memory bound of the one-job path.
ONE_JOB_ROWS = 10 * STREAMING_BATCH_SIZE


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

    A plain frame streamed to its end records its row count on the
    object (`__sneldb_rows__`); a later delivery of the same object with
    at most `ONE_JOB_ROWS` rows fetches them with one `collect()` (one
    Spark job instead of one per partition, and no local socket server).
    Both paths decode through the same serializer, so the rows are
    identical. An abandoned stream records nothing."""
    parts = getattr(df, "__sneldb_serve_parts__", None)
    if parts is not None:
        for part in parts:
            yield from part.toLocalIterator()
        return
    known = getattr(df, "__sneldb_rows__", None)
    if known is not None and known <= ONE_JOB_ROWS:
        yield from df.collect()
        return
    n = 0
    for row in df.toLocalIterator():
        n += 1
        yield row
    df.__sneldb_rows__ = n


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
    """Whole result as an Arrow IPC stream (for `output_format = "arrow"`)."""
    import io

    import pyarrow as pa

    table = df.toArrow()
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def arrow_ipc_frames(df: DataFrame, batch_size: int = STREAMING_BATCH_SIZE) -> Iterator[bytes]:
    """Yield an Arrow IPC stream incrementally: one chunk for the schema
    message, one per record batch, one for the end-of-stream marker
    (continuation + zero length — reference:
    src/shared/response/arrow.rs:115-180 ArrowStreamEncoder).

    Rows come through `_row_sources` exactly like `json_frames`, with
    the same two driver-memory bounds. The Arrow schema comes from a
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
