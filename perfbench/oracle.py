"""DuckDB oracles and order-insensitive result digests.

A result is compared as (row count, digest): the digest hashes the sorted,
normalised rows projected onto the oracle's column names, so column order
and row order do not matter, and floats compare at six decimals.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return round(v, 6) + 0.0 if v == v else None
    if isinstance(v, int):
        return v
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def digest(columns: list[str], rows, keep: list[str] | None = None) -> tuple[int, str]:
    """(row count, sha1) of `rows` restricted to the columns in `keep`."""
    keep = keep or list(columns)
    idx = [columns.index(c) for c in keep]
    canon = sorted(json.dumps([_norm(r[i]) for i in idx]) for r in rows)
    h = hashlib.sha1("\n".join(canon).encode()).hexdigest()
    return len(canon), h


class Expect:
    """One expected answer: the oracle's columns, row count and digest."""

    __slots__ = ("columns", "count", "sha")

    def __init__(self, columns: list[str], rows):
        self.columns = list(columns)
        self.count, self.sha = digest(self.columns, rows)

    def matches(self, columns: list[str], rows) -> bool:
        if not set(self.columns) <= set(columns):
            return False
        return digest(columns, rows, self.columns) == (self.count, self.sha)


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per (name -> parquet path)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def payload_bytes(con) -> int:
    """Bytes of the events in view `ev` as compact JSON payloads."""
    return int(con.execute(
        "SELECT sum(length(json_object('k', k, 'props', props, 'value', value, "
        "'value_cents', value_cents)::VARCHAR)) FROM ev").fetchone()[0])


def expect(con, sql: str) -> Expect:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return Expect(cols, cur.fetchall())


def pipeline_sql() -> dict[str, str]:
    """The correctness board's oracle SQL for the pipeline operators, as
    copied into this directory (tables `documents` and `embeddings`)."""
    with open(os.path.join(HERE, "pipeline_oracles.json")) as f:
        return json.load(f)
