"""Prepared read plans: reuse a served command's compiled DataFrame while
the event types it reads are unchanged.

The reference keeps read-path work in caches tied to immutable segments
(reference: src/engine/core/read/cache/query_caches.rs). Here the work a
repeated read command redoes is its compile: the store's frame build
(file listing, footer stats, the memtable frame), the py4j calls that
assemble the DataFrame, and Catalyst. Segment files never change in
place, so a DataFrame compiled earlier reads exactly what a fresh compile
would as long as every event type it read has the same read signature
(`EventStore.read_signature`: pending generation plus the live segment
file set). Returning the SAME DataFrame object lets Spark re-run the
physical plan it already holds; with AQE that includes the shuffle
stages the first run materialized, valid because the inputs are
unchanged.

- Key: the parsed command (its repr, so case and whitespace variants of
  the text share an entry), every compiler setting that shapes the plan,
  and the registry revision (bumped by every DEFINE).
- Validity: the signatures of the types the compile read
  (`EventStore.recording_reads`), taken before the build; an entry is
  inserted only when they are unchanged after it.
- Bound: `CAPACITY` entries, least recently used evicted. An entry pins
  its DataFrame, and with it any AQE shuffle files, until evicted.

Callers gate permissions first; SHOW, EXPLAIN, materializer compiles
(`upper=`) and streaming compiles never come here.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame

CAPACITY = 64

# why an entry was last (re)built
NEW = "new"
CHANGED = "read set changed"
EVICTED = "evicted"


@dataclass
class _Entry:
    df: DataFrame
    sigs: dict  # event type -> read signature before the build
    reason: str


class PlanCache:
    """LRU of compiled read DataFrames with hit/miss/eviction counts."""

    def __init__(self, compiler, store):
        self._compiler = compiler
        self._store = store
        self._entries: OrderedDict[tuple, _Entry] = OrderedDict()
        # keys evicted since, so their rebuild reports EVICTED (bounded
        # like the entries: a server sees unboundedly many texts)
        self._evicted: OrderedDict[tuple, None] = OrderedDict()
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    def _key(self, cmd) -> tuple:
        c = self._compiler
        return (
            repr(cmd),
            c.approx_count_unique,
            c.approx_percentiles,
            c.sequence_slices,
            c.multi_link,
            repr(c.time_config),
            self._store.registry.revision,
        )

    def _unchanged(self, sigs: dict) -> bool:
        return all(self._store.read_signature(t) == s for t, s in sigs.items())

    def compile(self, cmd) -> DataFrame:
        # a hit skips EventStore.read, the read path's other caller of
        # the periodic-compaction interval check
        self._store.maybe_periodic_compact()
        key = self._key(cmd)
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
        if entry is not None and self._unchanged(entry.sigs):
            with self._lock:
                self.hits += 1
            return entry.df
        with self._lock:
            if entry is not None:
                reason = CHANGED
                if self._entries.get(key) is entry:
                    del self._entries[key]
            elif key in self._evicted:
                del self._evicted[key]
                reason = EVICTED
            else:
                reason = NEW
            self.misses += 1
        with self._store.recording_reads() as sigs:
            df = self._compiler.compile(cmd)
        if self._unchanged(sigs):
            with self._lock:
                self._entries[key] = _Entry(df, sigs, reason)
                self._entries.move_to_end(key)
                while len(self._entries) > CAPACITY:
                    old, _ = self._entries.popitem(last=False)
                    self._evicted[old] = None
                    self.evictions += 1
                while len(self._evicted) > CAPACITY:
                    self._evicted.popitem(last=False)
        return df

    def reasons(self) -> dict[str, str]:
        """Live entries' command repr -> why each was last (re)built."""
        with self._lock:
            return {k[0]: e.reason for k, e in self._entries.items()}
