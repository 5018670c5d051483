"""Event storage: one Parquet dataset per event type, partitioned by ingest date.

The reference's storage engine (WAL -> memtable -> segments -> zones with
skipping indexes — reference: src/engine/core/{wal,memory,zone}/) is
*mechanism* Spark + Parquet already provide:

- zones + min/max metadata        -> Parquet row-group statistics
- zone skipping via indexes       -> predicate pushdown + partition pruning
- per-(uid, field) column files   -> Parquet columnar chunks + column pruning
- shard hash on context_id        -> hash-partitioned writes (see below)
- compaction                      -> small-file rewrite job (compaction.py)

Layout:  <root>/events/<event_type>/ingest_date=YYYY-MM-DD/part-*.parquet

Design-for-100TB notes:
- ingest_date partitioning makes SINCE on server time a partition-pruned
  scan; within a file, rows are written sorted by (context_id, timestamp)
  so row-group stats make FOR <ctx> and REPLAY selective too.
- event_id is Snowflake-style (ms clock << 20 | writer << 10 | seq), so
  ids are globally unique and time-ordered without cross-writer
  coordination — the property the reference's EventId provides
  (reference: src/engine/core/event/event_id.rs:57-80).
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sneldb_spark.errors import QueryError, SnelDBError
from sneldb_spark.schema.registry import SchemaRegistry
from sneldb_spark.schema.validation import validate_payload

_EVENT_ID_LOCK = threading.Lock()
_LAST_MS = 0
_SEQ = 0
_WRITER_ID = int.from_bytes(os.urandom(2), "big") % 1024


def next_event_id(now_ms: int | None = None) -> int:
    """Snowflake-style id: (epoch_ms << 20) | (writer_id << 10) | seq."""
    global _LAST_MS, _SEQ
    with _EVENT_ID_LOCK:
        ms = now_ms if now_ms is not None else int(time.time() * 1000)
        if ms <= _LAST_MS:
            ms = _LAST_MS
            _SEQ += 1
            if _SEQ >= 1024:
                ms += 1
                _SEQ = 0
        else:
            _SEQ = 0
        _LAST_MS = ms
        return (ms << 20) | (_WRITER_ID << 10) | _SEQ


def reserve_event_id_blocks(n_rows: int, now_ms: int | None = None) -> tuple[int, int]:
    """Reserve snowflake id space for a bulk batch; returns (base_ms, writer_id).

    Row i of the batch maps to::

        ((base_ms + i // 1024) << 20) | (writer_id << 10) | (i % 1024)

    Every generated id is a WELL-FORMED snowflake carrying this writer's
    id, so uniqueness holds against interleaved next_event_id() calls and
    against other writers (their writer bits differ) — the property a flat
    ``base + monotonically_increasing_id()`` range lacks. The allocator
    clock jumps past the reserved blocks under the same lock, so no later
    allocation can land inside them. Clock advance is ceil(n/1024) ms of id
    space per batch — negligible drift even at firehose rates."""
    global _LAST_MS, _SEQ
    with _EVENT_ID_LOCK:
        ms = now_ms if now_ms is not None else int(time.time() * 1000)
        if ms <= _LAST_MS:
            ms = _LAST_MS + 1
        blocks = (max(n_rows, 1) + 1023) // 1024
        _LAST_MS = ms + blocks - 1
        _SEQ = 1023  # last block is spoken for: next id rolls to a fresh ms
        return ms, _WRITER_ID


class EventStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        registry: SchemaRegistry | None = None,
        clock=None,
        wal: bool = True,
        wal_archive_dir: str | None = None,
        bloom_filters: bool = True,
        auto_compact_files: int | None = None,
        compaction_interval: int | None = None,
        allow_core_shadow: bool = False,
        storage=None,
        memtable_capacity: int | None = None,
    ):
        self.spark = spark
        self.root = root
        # directory-swap backend (store/storage.py): GRACE by default —
        # versioned prefixes + pointer flip keep a superseded segment
        # copy readable for in-flight plans, which any engine that reads
        # from one thread while another flushes/auto-compacts needs (the
        # rename-publish LocalStorage loses files to a concurrent
        # compaction publish; soak-reproduced in soak_local_r8.json).
        # Pass storage=LOCAL explicitly for single-threaded scratch use,
        # or an ObjectStoreStorage for a lake deployment. Used by the
        # compaction publish, open-time recovery, and the footer sweeps;
        # event appends and reads go through resolve() so a pointer-flip
        # compaction stays transparent.
        if storage is None:
            from sneldb_spark.store.storage import grace_local_storage

            storage = grace_local_storage(root)
        self.storage = storage
        self.registry = registry or SchemaRegistry(
            os.path.join(root, "schemas.json"),
            allow_core_shadow=allow_core_shadow,
        )
        # Injectable clock (epoch seconds) so scenario tests are deterministic;
        # the reference assigns server wall-clock time at ingest.
        self._clock = clock or (lambda: int(time.time()))
        self._pending: dict[str, list[dict]] = {}
        # Rows swapped out of _pending by a flush but whose Parquet commit
        # has not landed yet. They stay READABLE from here for the whole
        # commit window (seconds under load) — without this, a reader (or
        # the materializer's hwm probe) racing a flush would see
        # visibility go BACKWARDS: rows neither in the memtable nor yet in
        # any segment file. The incremental-refresh loss this caused was
        # real: a SHOW probing cur during the window skipped the whole
        # in-flight batch permanently (soak-reproduced at 13k ev/s).
        self._flushing: dict[str, list[dict]] = {}
        # Bumped (under _pending_lock) at every visibility HANDOVER — the
        # moment a type's committed Parquet becomes authoritative and its
        # _flushing rows drop. Readers build their frame buffer-first
        # (dupes-over-loss order) and retry the build if the epoch moved,
        # so no frame ever straddles a handover (seqlock pattern).
        self._visibility_epoch = 0
        # Per-type pending generation: bumped (under _pending_lock) at
        # every change to a type's _pending or _flushing rows — a STORE,
        # a WAL replay, the flush swap, the commit handover, a failed
        # commit's put-back. With the type's Parquet file set it is the
        # type's read signature (read_signature): equal signatures mean
        # a frame built earlier still reads exactly the current state.
        self._pending_gen: Counter[str] = Counter()
        # per-THREAD read recorder (recording_reads): the types a compile
        # read and their signatures just before each was read
        self._read_log = threading.local()
        # per type: (read signature, source_hwm answer) of the last probe
        self._hwm_memo: dict[str, tuple[tuple, tuple[int, int] | None]] = {}
        # Guards _pending against the threaded frontends: an append racing
        # the flush swap could land on the discarded buffer and vanish.
        self._pending_lock = threading.Lock()
        # Serializes whole flushes end-to-end (rotate + commit + delete).
        # Without it, a second flush entering after the first rotated its WAL
        # would adopt the first's commit-* files as "crash leftovers" and
        # delete them after its own commit — before the first flush's commit
        # succeeded, losing the WAL durability those rows were promised.
        self._flush_lock = threading.Lock()
        # Per-type append locks (see append_dataframe): appends of
        # DIFFERENT types overlap as independent Spark jobs; same-type
        # writers serialize (shared _temporary staging), and the
        # compaction adopt window takes flush lock + the type's append
        # lock to exclude every writer of the type it is flipping.
        self._append_locks: dict[str, threading.Lock] = {}
        self._append_locks_guard = threading.Lock()
        # WAL for the pending buffer (the reference's durability point S3,
        # src/engine/core/wal/): every interactive STORE appends one JSON
        # line before acknowledging; FLUSH rotates the log and deletes it
        # only after the Parquet commit; a fresh engine on the same root
        # replays surviving logs into _pending. Crash between commit and
        # delete re-ingests a batch (at-least-once), dedupable by event_id.
        # The BULK paths (append_dataframe / streaming ingest) bypass this
        # by design — their durability is the streaming checkpoint + source
        # retention, and a per-row driver-side log would not scale.
        self._wal_dir = os.path.join(root, "wal")
        self._wal_file = None
        # per-THREAD defer flag (`.on`): only the thread inside its own
        # wal_group() scope defers; other threads' appends flush normally
        self._wal_defer = threading.local()
        self._wal_enabled = wal  # [wal] enabled=false: memtable-only buffer
        # Conservative mode (reference wal_archiving.md): archive retired
        # WAL files into this directory before deleting them; None = off.
        self._wal_archive_dir = wal_archive_dir
        # Parquet bloom filters on equality-probed string columns — the
        # counterpart of the reference's per-field XOR filters (zone
        # filter files, src/engine/core/filter/): a point predicate on a
        # key that footer min/max can't bound (unsorted layout, wide
        # ranges) still skips whole row groups. parquet-mr omits the
        # bloom where the chunk is fully dictionary-encoded (the
        # dictionary already filters exactly), so low-cardinality enum
        # fields cost nothing — blooms materialize only where they help.
        self._bloom_enabled = bloom_filters
        # Flush-triggered compaction (the reference compacts in a
        # background thread, docs/src/design/compaction.md; a Spark engine
        # has no daemon, so the write path polices itself): after a flush
        # commits, any flushed type whose file count exceeds this gets
        # compacted inline. None/0 = off (compact() stays callable).
        self._auto_compact_files = auto_compact_files or None
        # Periodic compaction (reference [engine] compaction_interval,
        # config/prod.toml:20, compaction_worker.rs): the reference runs a
        # timer thread; a library engine has no daemon, so write barriers
        # (flush) and reads opportunistically call maybe_periodic_compact()
        # — a clock compare when the interval hasn't elapsed, a
        # threshold-gated sweep over every type when it has.
        self._compaction_interval = compaction_interval or None
        self._compact_due = (
            self._clock() + compaction_interval if compaction_interval else None
        )
        self._compact_due_lock = threading.Lock()
        # Background compaction worker (reference compaction_worker.rs —
        # a DEDICATED thread, never the write path): flush()/reads only
        # ENQUEUE candidate types; the worker does the whole-type rewrite
        # off the flush lock and takes it only for a brief catch-up +
        # publish. Inline compaction under the flush lock was the r10
        # soak's late-run convoy: one O(corpus) rewrite blocked every
        # 5 s flush behind it, memtable pending ballooned to 1.3M rows
        # and SHOW TTFF blew its bound (soak_grace_r10_long.json I6).
        self._compact_queue: list[str] = []
        self._compact_cond = threading.Condition()
        self._compact_thread: threading.Thread | None = None
        self._compact_stop = False
        self._compact_inflight: str | None = None
        self._compact_errors: list[tuple[str, Exception]] = []
        # Readers whose in-flight Spark jobs read LIVE source files (the
        # REMEMBER bootstrap, whose ingest may overlap it via on_snapshot)
        # take hold_compaction(): the local publish deletes the superseded
        # copy outright (keep_live is warned-and-ignored there), so a
        # rewrite publishing mid-bootstrap would fail those reads with
        # missing files. While held, the worker defers rewrites (the queue
        # keeps accumulating); the hold waits out an in-flight rewrite.
        self._compact_hold_count = 0
        # Memtable capacity (reference [engine] fill_factor *
        # event_per_zone, src/engine/store/insert.rs insert_and_maybe_
        # flush): when the pending buffer crosses this many rows, an
        # ASYNC flush fires — ingest paces the flush pipeline instead of
        # waiting for the external FLUSH cadence. None = explicit/
        # periodic flush only (library default, zero behavior change).
        self._memtable_capacity = memtable_capacity or None
        # Hard admission bound (reference max_inflight_passives — the
        # bounded-channel backpressure chain): STORE blocks while
        # pending >= capacity * factor, so the memtable is bounded by
        # construction even when flushes can't keep up; the serve path's
        # memtable-union term (and its driver-side Arrow conversion)
        # stays bounded with it.
        self._MAX_PENDING_FACTOR = 4
        self._bp_cond = threading.Condition()
        self._flush_event = threading.Event()
        self._auto_flush_thread: threading.Thread | None = None
        self._auto_flush_guard = threading.Lock()
        self._superseded = False  # set when a newer same-process engine
        # takes this root's writer lock (_check_writer fails loudly)
        self._acquire_writer_lock()
        self._recover_event_dirs()
        if wal:
            self._replay_wal()

    # one writer engine per store root ACROSS PROCESSES. The reference
    # gets this for free (a single server process owns the data dir and
    # binds the sockets); an embeddable engine must enforce it, or two
    # writers interleave flush commits / compaction publishes on the same
    # directories. flock releases automatically when the process dies, so
    # a crashed writer never needs manual lock cleanup. Within ONE
    # process, re-opening the same root is allowed and takes over the
    # lock (the crash-restart pattern the ported RESTART scenarios use) —
    # but the SUPERSEDED engine is invalidated: its next write raises
    # loudly instead of silently flushing against a root it no longer
    # owns (ADVICE r5). The registry maps lock path -> (fd, weakref to
    # the owning store) and is guarded against concurrent engine
    # construction across threads.
    _PROC_LOCKS: dict[str, tuple[object, object]] = {}
    _PROC_LOCKS_GUARD = threading.Lock()

    def _acquire_writer_lock(self):
        import fcntl
        import weakref

        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, ".writer.lock")
        key = os.path.abspath(path)
        with EventStore._PROC_LOCKS_GUARD:
            # opportunistic sweep: deleted roots (torn-down test dirs,
            # dropped databases) don't pin an fd for the process lifetime
            for stale in [
                k for k in EventStore._PROC_LOCKS if not os.path.exists(k)
            ]:
                try:
                    EventStore._PROC_LOCKS.pop(stale)[0].close()
                except OSError:
                    pass
            prev = EventStore._PROC_LOCKS.pop(key, None)
            if prev is not None:
                prev_file, prev_ref = prev
                prev_store = prev_ref()
                if prev_store is not None:
                    prev_store._superseded = True  # next write fails loudly
                    # stop its background workers: a superseded engine's
                    # compaction worker must never publish against a root
                    # the new engine now owns (the worker also re-checks
                    # _superseded right before its locked publish)
                    prev_store._stop_workers()
                try:
                    prev_file.close()  # releases the old engine's flock
                except OSError:
                    pass
            f = open(path, "a+")
            try:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                f.close()
                raise SnelDBError(
                    f"store root {self.root!r} is locked by another live writer "
                    "process (.writer.lock); refusing a second writer engine"
                ) from None
            f.seek(0)
            f.truncate()
            f.write(str(os.getpid()))
            f.flush()
            EventStore._PROC_LOCKS[key] = (f, weakref.ref(self))
            self._writer_lock_file = f

    def _check_writer(self):
        """Raise if a newer same-process engine took this root's writer
        lock: the superseded instance must not keep flushing/compacting
        unaware (the cross-process case already fails at open)."""
        if self._superseded:
            raise SnelDBError(
                f"writer lock on {self.root!r} was taken over by a newer "
                "engine in this process; discard this instance"
            )

    def _recover_event_dirs(self):
        """Repair any per-type directory whose compaction publish was cut
        short (store/storage.py crash matrix) — run once at open, before
        anything reads. Event type names cannot contain '.', so every
        dotted sibling (.old/.staging local; .v<N>/.ptr object backend)
        names the logical dir before its first dot."""
        events = os.path.join(self.root, "events")
        if not os.path.isdir(events):
            return
        logical = {n.split(".", 1)[0] for n in os.listdir(events) if "." in n}
        for n in sorted(logical):
            if n:
                self.storage.recover_dir(os.path.join(events, n))

    # -- write path -------------------------------------------------------
    def store(self, event_type: str, context_id: str, payload: dict,
              timestamp: int | None = None) -> dict:
        """Validate and buffer one event (the 'memtable'); FLUSH commits."""
        self._check_writer()
        schema = self.registry.get(event_type)  # raises if undefined
        clean = validate_payload(schema, payload)
        ts = int(timestamp) if timestamp is not None else self._clock()
        row = {
            "context_id": str(context_id),
            "event_type": event_type,
            "timestamp": ts,
            "event_id": next_event_id(ts * 1000),
            **clean,
        }
        if self._memtable_capacity:
            self._admit_row()
        with self._pending_lock:
            self._wal_append(event_type, row)
            self._pending.setdefault(event_type, []).append(row)
            self._pending_gen[event_type] += 1
            n_pending = sum(len(v) for v in self._pending.values())
        if self._memtable_capacity and n_pending >= self._memtable_capacity:
            # memtable full: fire the ASYNC flush (reference
            # insert_and_maybe_flush, src/engine/store/insert.rs:43 —
            # the full memtable rotates to a passive buffer and a flush
            # worker drains it; here the swap IS _flush_locked's
            # pending->_flushing move and the worker is _auto_flusher).
            # Ingest paces the flush pipeline instead of waiting out an
            # external FLUSH cadence — the r10 soak's late-run memtable
            # growth (1.3M rows pending between 5 s FLUSHes) cannot
            # accumulate past the capacity plus one commit in flight.
            self._trigger_auto_flush()
        return row

    def _pending_total(self) -> int:
        with self._pending_lock:
            return sum(len(v) for v in self._pending.values())

    def _admit_row(self) -> None:
        """Admission backpressure (reference max_inflight_passives /
        FlowChannel::bounded): block the writer while the pending buffer
        holds >= capacity * factor rows. Bounds driver memory AND the
        serve path's memtable-union term by construction; the wait is a
        timeout-polling loop on a condition the flush handover notifies,
        so a missed notify costs 100 ms, never a hang."""
        hard = self._memtable_capacity * self._MAX_PENDING_FACTOR
        while not self._superseded and self._pending_total() >= hard:
            self._trigger_auto_flush()  # make sure a drain is coming
            with self._bp_cond:
                self._bp_cond.wait(timeout=0.1)

    def memtable_usage_percent(self) -> int:
        """Pending rows as a percentage of the HARD admission bound
        (capacity * factor) — the server frontends' backpressure probe
        (reference server_state.rs is_under_pressure: pending ops over
        total channel capacity). 0 when no capacity is configured."""
        if not self._memtable_capacity:
            return 0
        hard = self._memtable_capacity * self._MAX_PENDING_FACTOR
        return (self._pending_total() * 100) // hard

    def _trigger_auto_flush(self) -> None:
        self._flush_event.set()
        t = self._auto_flush_thread
        if t is None or not t.is_alive():
            with self._auto_flush_guard:
                t = self._auto_flush_thread
                if t is None or not t.is_alive():
                    self._auto_flush_thread = threading.Thread(
                        target=self._auto_flusher,
                        name="sneldb-auto-flush",
                        daemon=True,
                    )
                    self._auto_flush_thread.start()

    def _auto_flusher(self):
        from sneldb_spark.session import set_scheduler_pool

        set_scheduler_pool(self.spark, "sneldb-bulk")
        while True:
            self._flush_event.wait()
            self._flush_event.clear()
            if self._compact_stop or self._superseded:
                return
            try:
                self.flush()
            except Exception:
                import logging

                if self._superseded:
                    return
                logging.getLogger(__name__).warning(
                    "capacity-triggered flush failed; rows remain "
                    "buffered and WAL-durable, retrying on next trigger",
                    exc_info=True,
                )
                time.sleep(0.5)
            # ingest may have refilled past capacity during the commit:
            # drain back-to-back instead of waiting for the next STORE
            if (
                self._memtable_capacity
                and self._pending_total() >= self._memtable_capacity
            ):
                self._flush_event.set()

    # -- WAL ---------------------------------------------------------------
    def _wal_append(self, event_type: str, row: dict):
        import json

        if not self._wal_enabled:
            return
        if self._wal_file is None:
            os.makedirs(self._wal_dir, exist_ok=True)
            self._wal_file = open(
                os.path.join(self._wal_dir, "pending.jsonl"), "a", encoding="utf-8"
            )
        self._wal_file.write(json.dumps({"t": event_type, "r": row}) + "\n")
        if not getattr(self._wal_defer, "on", False):
            # singleton STORE durability boundary: the line reaches the OS
            # page cache before the reply (userspace flush; the reference
            # additionally fsyncs — src/engine/core/wal/inner_wal_writer.rs
            # flush + sync_all — batches get the fsync at wal_group exit,
            # per-STORE fsync would serialize interactive ingest on disk
            # latency, so singles stop at the page cache and a host power
            # loss inside that window can lose acknowledged singles)
            self._wal_file.flush()

    @contextmanager
    def wal_group(self):
        """Group-commit scope: WAL appends by THIS thread inside the scope
        stay in the file object's buffer and reach disk in ONE
        flush+fsync at exit — the BATCH command's durability boundary
        (the reply acknowledging the batch is sent after the fsync, so
        the guarantee a client can observe is strictly stronger than
        per-STORE flushing; a crash mid-batch loses only the unreplied
        batch). The defer flag is THREAD-LOCAL: a batch deferring its own
        appends must not make concurrent STOREs on other connections skip
        their pre-reply flush, nor make another thread's wal_group treat
        itself as nested and drop its exit flush. Re-entrant per thread:
        an inner scope defers to the outermost one on the same thread."""
        if getattr(self._wal_defer, "on", False):
            yield
            return
        self._wal_defer.on = True
        try:
            yield
        finally:
            self._wal_defer.on = False
            # FLUSH inside the scope (or from another connection — FLUSH
            # is not under the engine's write lock) closes/retires the
            # WAL file; check-and-flush under the same lock every other
            # _wal_file access holds so a concurrent close can't land
            # between the check and the flush
            with self._pending_lock:
                if self._wal_file is not None:
                    self._wal_file.flush()
                    os.fsync(self._wal_file.fileno())

    def _replay_wal(self):
        import json

        if not os.path.isdir(self._wal_dir):
            return
        for fname in sorted(os.listdir(self._wal_dir)):
            if not fname.endswith(".jsonl"):
                continue
            with open(os.path.join(self._wal_dir, fname), encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        entry = json.loads(line)
                    except ValueError:
                        continue  # torn tail write from a crash
                    self._pending.setdefault(entry["t"], []).append(entry["r"])
                    self._pending_gen[entry["t"]] += 1

    def flush(self):
        """Commit buffered events to Parquet (the reference's memtable->segment).

        The buffer swap happens under the pending lock so a concurrent STORE
        (the TCP/HTTP frontends are threaded) lands in the next flush instead
        of being silently dropped between iteration and clear; the Parquet
        commit itself stays outside that lock. The WAL rotates with the swap
        and is deleted only after the commit succeeds. The whole
        rotate+commit+delete sequence holds the flush lock: without it a
        second flush would adopt the first's commit-* files as crash
        leftovers and delete them after its own commit, before the first
        flush's commit succeeded."""
        self._check_writer()
        with self._flush_lock:
            flushed = self._flush_locked()
        if self._auto_compact_files:
            for event_type in flushed:
                self._maybe_compact(event_type)
        self.maybe_periodic_compact()

    # every (periodic) sweep compacts only types above this file count, so
    # an already-converged directory is never rewritten again
    _PERIODIC_COMPACT_MIN_FILES = 8

    def maybe_periodic_compact(self):
        """Periodic sweep (reference [engine] compaction_interval,
        src/engine/core/compaction/compaction_worker.rs): when the
        configured interval has elapsed, ENQUEUE every event type whose
        segment-file count exceeds the threshold (`auto_compact_files`
        when set, else a fixed floor) for the background compaction
        worker. Callers pay a clock compare when the interval hasn't
        elapsed and a directory listing when it has — the O(corpus)
        rewrite itself never runs on a write barrier or read path."""
        if not self._compaction_interval:
            return
        now = self._clock()
        with self._compact_due_lock:
            if now < self._compact_due:
                return
            self._compact_due = now + self._compaction_interval
        threshold = self._auto_compact_files or self._PERIODIC_COMPACT_MIN_FILES
        events = os.path.join(self.root, "events")
        if not os.path.isdir(events):
            return
        # derive LOGICAL type names: after an object-backend
        # compaction the raw dir is GC'd and only dotted protocol
        # siblings (.ptr/.v<N>) remain, so enumerating plain dirs
        # alone would permanently skip every compacted type
        names = {n.split(".", 1)[0] for n in os.listdir(events)}
        for n in sorted(names):
            if not n:
                continue
            path = self._path(n)  # resolved live prefix
            if not os.path.isdir(path):
                continue
            if sum(1 for _ in self.storage.walk_parquet(path)) > threshold:
                self._enqueue_compact(n)

    def _maybe_compact(self, event_type: str):
        """Enqueue a type whose segment-file count crossed the configured
        threshold for the background worker (the count is re-checked
        there — converged-in-the-meantime types are dropped)."""
        path = self._path(event_type)
        if not os.path.isdir(path):
            return
        n_files = sum(1 for _ in self.storage.walk_parquet(path))
        if n_files > self._auto_compact_files:
            self._enqueue_compact(event_type)

    # -- background compaction worker -------------------------------------
    def _enqueue_compact(self, event_type: str) -> None:
        """Hand a candidate type to the compaction worker (deduped: a
        type already queued or in flight is not re-queued — the worker
        re-checks the threshold after finishing, so growth during its
        own rewrite is picked up by the NEXT enqueue)."""
        with self._compact_cond:
            if self._compact_stop or self._superseded:
                return
            if (
                event_type in self._compact_queue
                or event_type == self._compact_inflight
            ):
                return
            self._compact_queue.append(event_type)
            if self._compact_thread is None or not self._compact_thread.is_alive():
                self._compact_thread = threading.Thread(
                    target=self._compact_worker,
                    name="sneldb-compactor",
                    daemon=True,
                )
                self._compact_thread.start()
            self._compact_cond.notify_all()

    def hold_compaction(self):
        """Context manager: defer background compaction publishes while a
        reader's in-flight Spark jobs read LIVE source files.

        The REMEMBER bootstrap is the canonical holder: `on_snapshot` lets
        a loader resume appends the moment the read mark is pinned, and an
        overlapped append can cross a compaction threshold — but the local
        backend's publish deletes the superseded copy outright (keep_live
        is warned-and-ignored there), which would fail the bootstrap's
        source reads with missing files. While held, the worker starts no
        new rewrite (enqueues keep accumulating and run on release), and
        entry waits out any rewrite already in flight so no publish can
        land during the hold. Explicit compact() is NOT deferred — it is a
        foreground admin command whose caller owns the timing."""
        import contextlib

        store = self

        @contextlib.contextmanager
        def _hold():
            with store._compact_cond:
                store._compact_hold_count += 1
                while store._compact_inflight is not None:
                    store._compact_cond.wait()
            try:
                yield
            finally:
                with store._compact_cond:
                    store._compact_hold_count -= 1
                    store._compact_cond.notify_all()

        return _hold()

    def _compact_worker(self):
        from sneldb_spark.session import set_scheduler_pool

        # bulk pool: the rewrite must not head-of-line-block serve jobs
        set_scheduler_pool(self.spark, "sneldb-bulk")
        while True:
            with self._compact_cond:
                while not self._compact_stop and (
                    not self._compact_queue or self._compact_hold_count
                ):
                    self._compact_cond.wait()
                if self._compact_stop:
                    self._compact_queue.clear()
                    self._compact_cond.notify_all()
                    return
                et = self._compact_queue.pop(0)
                self._compact_inflight = et
            try:
                if not self._superseded:
                    threshold = (
                        self._auto_compact_files
                        or self._PERIODIC_COMPACT_MIN_FILES
                    )
                    path = self._path(et)
                    # re-check: the queue is advisory; a type that
                    # converged (explicit compact(), or a previous pass)
                    # since enqueue is skipped without a rewrite
                    if os.path.isdir(path) and (
                        sum(1 for _ in self.storage.walk_parquet(path))
                        > threshold
                    ):
                        self._compact_concurrent(et)
            except Exception as e:  # surfaced via quiesce_compaction
                import logging

                logging.getLogger(__name__).warning(
                    "background compaction of %r failed", et, exc_info=True
                )
                with self._compact_cond:
                    self._compact_errors.append((et, e))
            finally:
                with self._compact_cond:
                    self._compact_inflight = None
                    self._compact_cond.notify_all()

    def quiesce_compaction(self) -> list[tuple[str, Exception]]:
        """Wait until the compaction queue is drained and no rewrite is
        in flight; pop-and-return any recorded worker errors (same
        surface-is-consume contract as Materializer.quiesce). Call
        before teardown or before asserting converged file counts."""
        with self._compact_cond:
            while self._compact_queue or self._compact_inflight is not None:
                self._compact_cond.wait()
            errors, self._compact_errors = self._compact_errors, []
            return errors

    def _stop_workers(self) -> None:
        """Signal background threads to exit (takeover/teardown). The
        worker also re-checks _superseded right before its locked
        publish, so an in-flight rewrite on a superseded engine aborts
        instead of publishing against a root it no longer owns."""
        with self._compact_cond:
            self._compact_stop = True
            self._compact_queue.clear()
            self._compact_cond.notify_all()
        self._flush_event.set()  # unblock the auto-flusher so it exits

    def _compact_concurrent(self, event_type: str, target_file_mb: int = 128):
        """Whole-type rewrite that tolerates concurrent flush appends —
        the worker-side twin of compact() (which assumes it owns the
        directory for the duration).

        Protocol: snapshot the live file listing, rewrite THE SNAPSHOT
        into a staged copy (the long Spark job, no locks held), then
        under the flush lock adopt every file appended since the
        snapshot into the staging (hard-link, same filesystem; a real
        object store does a server-side COPY here — bytes never move
        through the driver either way) and publish. Flushes proceed
        during the rewrite; only the adopt+publish window (metadata
        work, no data rewrite) excludes them — the r10 soak's convoy
        (O(corpus) rewrite under the flush lock) is structurally gone."""
        logical = self._raw_path(event_type)
        path = self._path(event_type)
        if not os.path.isdir(path):
            return
        snapshot = sorted(self.storage.walk_parquet(path))
        if len(snapshot) <= 1:
            return
        # basePath keeps ingest_date partition inference when reading an
        # explicit file list instead of the directory root
        df = self.spark.read.option("basePath", path).parquet(*snapshot)
        staging = self.storage.stage_path(logical)
        self.storage.remove_tree(staging)
        (
            df.repartition(F.col("ingest_date"))
            .sortWithinPartitions("context_id", "timestamp")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 4_000_000)
            .options(**self._bloom_options(event_type))
            .partitionBy("ingest_date")
            .parquet(staging)
        )
        import shutil

        # lock order: _flush_lock -> per-type append lock (the flush
        # path's commit threads take them in this order too). Holding
        # BOTH excludes every writer of this type during the adopt walk
        # + pointer flip: flush commits (flush lock) and bulk appends
        # (per-type lock).
        with self._flush_lock, self._append_lock(event_type):
            if self._superseded:  # a newer engine owns this root now
                self.storage.remove_tree(staging)
                return
            # adopt files a concurrent flush appended during the rewrite:
            # they are NOT in the staged copy, and the publish flip would
            # silently drop them (their WAL is already retired — real
            # loss, not a retry). Relative paths preserve the
            # ingest_date=… partition layout.
            snap = set(snapshot)
            live = self._path(event_type)
            for f in self.storage.walk_parquet(live):
                if f in snap:
                    continue
                rel = os.path.relpath(f, live)
                dst = os.path.join(staging, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(f, dst)
                except OSError:
                    shutil.copy2(f, dst)
            self.storage.publish_dir(logical)

    def _append_lock(self, event_type: str) -> threading.Lock:
        with self._append_locks_guard:
            lock = self._append_locks.get(event_type)
            if lock is None:
                lock = self._append_locks[event_type] = threading.Lock()
            return lock

    def _flush_locked(self) -> list[str]:
        with self._pending_lock:
            pending, self._pending = self._pending, {}
            # the swap moves rows memtable -> flushing ATOMICALLY under
            # the lock (readers snapshot both dicts under it), so the
            # rows never blink out during the Parquet commit below
            self._flushing = {et: rows for et, rows in pending.items() if rows}
            self._pending_gen.update(pending.keys())
            rotated = []
            if os.path.isdir(self._wal_dir):
                if self._wal_file is not None:
                    self._wal_file.close()
                    self._wal_file = None
                for fname in sorted(os.listdir(self._wal_dir)):
                    if fname.endswith(".jsonl") and not fname.startswith("commit-"):
                        src = os.path.join(self._wal_dir, fname)
                        dst = os.path.join(
                            self._wal_dir, f"commit-{time.time_ns()}-{fname}"
                        )
                        os.replace(src, dst)
                        rotated.append(dst)
                    elif fname.startswith("commit-"):
                        # left over from a crashed flush; its rows were
                        # replayed into _pending at open, so it commits now
                        rotated.append(os.path.join(self._wal_dir, fname))
        def commit_type(event_type: str, rows: list[dict]) -> None:
            self._write_rows(event_type, rows)
            # visibility handover: the committed files are now
            # authoritative; drop the buffered copy and bump the
            # epoch so a frame built across this instant rebuilds
            with self._pending_lock:
                self._flushing.pop(event_type, None)
                self._pending_gen[event_type] += 1
                self._visibility_epoch += 1
            with self._bp_cond:  # admission backpressure: space freed
                self._bp_cond.notify_all()

        to_write = [(et, rows) for et, rows in pending.items() if rows]
        try:
            if len(to_write) > 1:
                # shard the commit BY TYPE across a small thread pool:
                # each type's Parquet write is an independent Spark job,
                # so a slow type no longer convoys the others' handover
                # (VERDICT r10 #1 "shard the flush by type"). Workers
                # inherit the caller's scheduler pool; the flush lock is
                # held by THIS thread for the whole window either way.
                import concurrent.futures as cf

                try:
                    pool = self.spark.sparkContext.getLocalProperty(
                        "spark.scheduler.pool"
                    )
                except Exception:
                    # Spark Connect: no client-side sparkContext, and
                    # scheduler pools are a classic-scheduler concept —
                    # workers just run in the server's default pool
                    pool = None

                def worker(item):
                    if pool is not None:
                        from sneldb_spark.session import set_scheduler_pool

                        set_scheduler_pool(self.spark, pool)
                    commit_type(*item)

                with cf.ThreadPoolExecutor(
                    max_workers=min(4, len(to_write)),
                    thread_name_prefix="sneldb-flush",
                ) as ex:
                    errs = [
                        f.exception()
                        for f in [ex.submit(worker, it) for it in to_write]
                    ]
                first = next((e for e in errs if e is not None), None)
                if first is not None:
                    raise first
            else:
                for et, rows in to_write:
                    commit_type(et, rows)
        except Exception:
            # Failed commit: rows stay durable in the rotated WAL; put them
            # back in memory too so reads keep seeing them before a retry.
            # Only the NOT-yet-committed types go back (still in
            # _flushing) — re-adding already-committed types would
            # duplicate their rows on the retry flush.
            with self._pending_lock:
                for event_type, rows in pending.items():
                    if event_type in self._flushing:
                        self._pending.setdefault(event_type, [])[:0] = rows
                self._pending_gen.update(self._flushing.keys())
                self._flushing = {}
                self._visibility_epoch += 1
            raise
        for path in rotated:
            if self._wal_archive_dir is not None:
                # Conservative mode: archive-then-retire. On archive
                # failure the retired log must NOT stay in the live wal
                # dir — _replay_wal would re-ingest rows that are already
                # durable in Parquet, duplicating the whole retained
                # history on every restart. Its rows are committed, so
                # quarantine it outside the replay path for the operator
                # to archive manually once the archive dir is healthy.
                try:
                    from sneldb_spark.store.wal_archive import archive_wal_file

                    archive_wal_file(path, self._wal_archive_dir)
                except Exception:
                    import logging

                    quarantine = os.path.join(self._wal_dir, "quarantine")
                    os.makedirs(quarantine, exist_ok=True)
                    qpath = os.path.join(quarantine, os.path.basename(path))
                    try:
                        os.replace(path, qpath)
                    except OSError:
                        pass
                    logging.getLogger(__name__).warning(
                        "WAL archive failed for %s; moved to %s "
                        "(rows are durable in Parquet)",
                        path,
                        qpath,
                        exc_info=True,
                    )
                    continue
            try:
                os.remove(path)
            except OSError:
                pass
        return [t for t, rows in pending.items() if rows]

    def append_dataframe(self, event_type: str, df: DataFrame):
        """Bulk/streaming append of already-validated, core-schema rows.

        RANGE-repartition on (ingest_date, context_id) so each date's
        write parallelizes across the cluster AND each output file covers
        a CONTIGUOUS context range — repartitioning on the date alone
        would serialize a whole day into one task, and a hash repartition
        would scatter contexts lexically across every file, leaving each
        footer's context_id min/max spanning the whole domain. With range
        placement + the within-partition sort, a file's footer bounds a
        tight context interval, which is what makes read_for_context's
        FOR/REPLAY file skip selective (the reference's all-events-of-one-
        context-in-one-shard placement, src/engine/shard/manager.rs:58-61,
        re-expressed as file layout). The range sampling pass costs one
        extra tiny job per append; AQE coalesces the small-batch case."""
        self._check_writer()
        # Per-TYPE append lock (not the global flush lock): appends to
        # different types write disjoint directories and are safe to
        # overlap (independent Spark jobs — a multi-type bulk load
        # back-fills one type's write tail with the next one's tasks);
        # same-type appends must serialize because concurrent jobs
        # appending one directory share its _temporary staging. The
        # compaction worker's adopt+publish window excludes appends of
        # the type it is flipping by taking this same lock (a file
        # committed between its adopt walk and its pointer flip would be
        # silently dropped by the flip); flush-path commits take it per
        # type under the flush lock (lock order: _flush_lock -> append).
        with self._append_lock(event_type):
            self._append_df_locked(event_type, df)

    def _append_df_locked(self, event_type: str, df: DataFrame):
        (
            df.withColumn(
                "ingest_date", F.to_date(F.from_unixtime(F.col("timestamp")))
            )
            .repartitionByRange(F.col("ingest_date"), F.col("context_id"))
            .sortWithinPartitions("ingest_date", "context_id", "timestamp")
            .write.mode("append")
            .options(**self._bloom_options(event_type))
            .partitionBy("ingest_date")
            .parquet(self._path(event_type))
        )

    def _bloom_options(self, event_type: str) -> dict[str, str]:
        """Writer options enabling Parquet bloom filters on context_id and
        every string-kind schema field (the equality-probed columns; the
        reference XOR-filters every field per zone). Adaptive sizing keeps
        small chunks cheap; dictionary-encoded chunks get no bloom at all."""
        if not self._bloom_enabled:
            return {}
        fields = ["context_id"]
        if event_type != "*" and self.registry.has(event_type):
            schema = self.registry.get(event_type)
            fields += [
                n for n, ft in schema.fields.items() if ft.kind in ("string", "enum")
            ]
        opts = {f"parquet.bloom.filter.enabled#{f}": "true" for f in fields}
        opts["parquet.bloom.filter.adaptive.enabled"] = "true"
        return opts

    def _rows_frame(self, rows: list[dict], struct) -> DataFrame:
        """Driver rows -> DataFrame via a dtype=object pandas frame (the
        Arrow path). createDataFrame over dict rows converts row-by-row
        in Python — measured 2-5x slower warm and ~5x cold than the
        Arrow batch for a 30k-row memtable, and this runs on the GIL the
        ingest threads are fighting for. dtype=object is load-bearing:
        pandas would otherwise promote a nullable int64 column to
        float64 and corrupt event ids above 2^53."""
        import pandas as pd

        cols = [f.name for f in struct.fields]
        pdf = pd.DataFrame(rows, columns=cols, dtype=object)
        pdf = pdf.where(pd.notnull(pdf), None)
        return self.spark.createDataFrame(pdf, schema=struct)

    def _write_rows(self, event_type: str, rows: list[dict]):
        # called from the flush path, which already holds the flush lock;
        # the per-type append lock (taken BELOW the flush lock, same
        # order as the compaction adopt) serializes this commit against
        # a concurrent bulk append of the same type — they would share
        # the directory's _temporary staging otherwise
        schema = self.registry.get(event_type)
        df = self._rows_frame(rows, schema.spark_struct)
        with self._append_lock(event_type):
            self._append_df_locked(event_type, df)

    # -- read path --------------------------------------------------------
    def _raw_path(self, event_type: str) -> str:
        """Logical per-type directory (the publish/recover target)."""
        return os.path.join(self.root, "events", event_type)

    def _path(self, event_type: str) -> str:
        """Physical live directory: appends and reads land here. Identity
        on LocalStorage; the pointer's current prefix after an
        object-backend compaction publish."""
        return self.storage.resolve(self._raw_path(event_type))

    def has_data(self, event_type: str) -> bool:
        return os.path.isdir(self._path(event_type))

    def _empty_core_frame(self) -> DataFrame:
        from pyspark.sql import types as T

        from sneldb_spark.schema.registry import CORE_STRUCT

        return self.spark.createDataFrame([], schema=T.StructType(CORE_STRUCT))

    def _pending_tail(self, event_type: str) -> DataFrame | None:
        """Buffered-but-unflushed rows as a DataFrame, or None if empty.

        This is the memtable half of the reference's hybrid read path
        (src/engine/core/read/flow/operators/memtable_source.rs): STOREd
        events are visible to QUERY/REPLAY/COMPARE immediately, before any
        FLUSH. The snapshot under the lock keeps a concurrent store/flush
        from mutating the list mid-iteration. The buffer is driver-local and
        bounded by flush policy (exactly the reference's memtable bound), so
        the LocalTableScan it compiles to stays small by construction.
        Includes the in-flight flush batch (`_flushing`): rows stay
        readable through their whole Parquet-commit window."""
        with self._pending_lock:
            rows = list(self._flushing.get(event_type, ())) + list(
                self._pending.get(event_type, ())
            )
        if not rows:
            return None
        schema = self.registry.get(event_type)
        return self._rows_frame(rows, schema.spark_struct)

    def _has_pending(self, event_type: str) -> bool:
        with self._pending_lock:
            return bool(self._pending.get(event_type)) or bool(
                self._flushing.get(event_type)
            )

    @property
    def visibility_epoch(self) -> int:
        with self._pending_lock:
            return self._visibility_epoch

    def _consistent_frame(self, build):
        """Build a read frame that does not straddle a flush visibility
        handover. Frames union an eager buffer snapshot with an eagerly
        listed Parquet scan, buffer FIRST; if a commit lands between the
        two, the frame would carry the batch twice (buffer copy + new
        file). The epoch moves exactly at that handover, so build-retry
        yields a frame from one consistent visibility state. Handovers
        are rare (one per flushed type) and a rebuild is milliseconds of
        driver work, so contention is nil; 5 tries always suffices in
        practice — the final build is returned either way."""
        df = None
        for _ in range(5):
            e0 = self.visibility_epoch
            df = build()
            if self.visibility_epoch == e0:
                return df
        return df

    # -- read signatures (the prepared-plan cache's validity) --------------
    def read_signature(self, event_type: str) -> tuple:
        """What a frame of `event_type` was built from: the pending
        generation plus the live directory's `Storage.file_signature`
        (path, size, mtime of every segment file). The file set catches
        every Parquet change — flush commits, bulk appends, compaction
        publishes (new prefix, new paths), a newer engine writing the
        same root — without a hook at each write site. No Spark call."""
        with self._pending_lock:
            gen = self._pending_gen[event_type]
        path = self._path(event_type)
        if not os.path.isdir(path):  # has_data, without a second resolve
            return gen, ()
        return gen, self.storage.file_signature(path)

    @contextmanager
    def recording_reads(self):
        """Record the event types this thread reads inside the block, with
        each one's read_signature taken just BEFORE its first read (so a
        write racing the build shows as a changed signature afterwards).
        '*' records every defined type. Yields the {type: signature} dict."""
        prev = getattr(self._read_log, "sigs", None)
        self._read_log.sigs = sigs = {}
        try:
            yield sigs
        finally:
            self._read_log.sigs = prev

    def _note_read(self, event_type: str) -> None:
        sigs = getattr(self._read_log, "sigs", None)
        if sigs is None:
            return
        types = self.registry.event_types() if event_type == "*" else [event_type]
        for t in types:
            if t not in sigs:
                sigs[t] = self.read_signature(t)

    def read(self, event_type: str) -> DataFrame:
        """DataFrame for one event type (or '*' = union of all types).

        Reads of undefined event types yield an EMPTY frame, not an error —
        the reference query path streams a row_count:0 result for them
        (scenario query_empty_event_type); only writes require a schema.

        The result is committed Parquet plus the pending (memtable) buffer,
        so reads observe their own un-flushed writes like the reference's
        segment+memtable hybrid scan. Filters still push down: Catalyst
        pushes predicates through the union into the Parquet child, and the
        common no-pending case returns the bare scan untouched.
        """
        self.maybe_periodic_compact()  # opportunistic interval check (no-op unless due)
        self._note_read(event_type)
        if event_type == "*":
            types = [
                t
                for t in self.registry.event_types()
                if self.has_data(t) or self._has_pending(t)
            ]
            if not types:
                return self._empty_core_frame()
            # A payload field defined with DIFFERENT types across event
            # types would make the union insert a lossy ANSI cast that
            # explodes at runtime ('x' -> BIGINT). The reference stores
            # per-type column files so both coexist; here the unified view
            # demotes conflicting fields to string on every side — lossless
            # to render, stable to filter on.
            seen: dict[str, set[str]] = {}
            for t in types:
                for fname, ft in self.registry.get(t).fields.items():
                    seen.setdefault(fname, set()).add(ft.spark_type.simpleString())
            conflicted = {f for f, kinds in seen.items() if len(kinds) > 1}
            df = None
            for t in types:
                part = self.read(t)
                for f in conflicted:
                    if f in part.columns:
                        part = part.withColumn(f, F.col(f).cast("string"))
                df = part if df is None else df.unionByName(part, allowMissingColumns=True)
            return df
        if not self.registry.has(event_type):
            return self._empty_core_frame()
        schema = self.registry.get(event_type)

        def build():
            pending = self._pending_tail(event_type)
            if not self.has_data(event_type):
                if pending is not None:
                    return pending
                return self.spark.createDataFrame([], schema=schema.spark_struct)
            # Read with the CURRENT registry schema, not file-inferred: files
            # written before a version bump lack newly added fields, and
            # inference from a sampled footer would silently drop those columns
            # for every row. An explicit schema null-fills them instead
            # (additive evolution; `DEFINE ... AS n` with changed field TYPES is
            # rejected at definition time by the registry).
            df = self.spark.read.schema(schema.spark_struct).parquet(
                self._path(event_type)
            )
            df = df.drop("ingest_date")
            if pending is not None:
                df = df.unionByName(pending)
            return df

        return self._consistent_frame(build)

    def read_topk(
        self, event_type: str, order_field: str, n: int, desc: bool
    ) -> DataFrame | None:
        """File-pruned read for `ORDER BY <field> LIMIT n` queries: footer
        min/max stats bound which files can hold a top-n row, and only
        those are scanned (the reference's RLTE zone skip — see
        store/topk_prune.py). Returns a frame guaranteed to contain every
        top-n row by `order_field` (pending memtable rows always
        included), or None when pruning does not apply — caller falls
        back to the full read()."""
        from sneldb_spark.store.topk_prune import (
            collect_file_stats,
            select_topk_files,
        )

        self._note_read(event_type)
        if (
            event_type == "*"
            or n <= 0
            or not self.registry.has(event_type)
            or not self.has_data(event_type)
        ):
            return None
        schema = self.registry.get(event_type)
        if order_field not in [f.name for f in schema.spark_struct.fields]:
            return None
        def build():
            pending = self._pending_tail(event_type)
            stats = collect_file_stats(self._path(event_type), order_field,
                                       storage=self.storage)
            if stats is None:
                return None
            keep, _bound = select_topk_files(stats, n, desc)
            if not keep:
                return None
            df = self.spark.read.schema(schema.spark_struct).parquet(*keep)
            if pending is not None:
                df = df.unionByName(pending)
            return df

        return self._consistent_frame(build)

    def read_for_context(
        self, event_type: str, context_id: str
    ) -> DataFrame | None:
        """File-pruned read for `FOR <context>` / REPLAY: footer min/max
        stats on context_id bound which files can hold the context at all,
        and only those are scanned. append_dataframe sorts every partition
        by (context_id, timestamp), so files carry tight context ranges —
        the Spark analogue of the reference's shard-routing + zone skip
        for a single context (reference: src/engine/shard/manager.rs:58-61).
        Returns a SUPERSET frame (pending memtable rows included) — the
        caller's context_id equality filter still applies on top, so this
        is safe under any additional WHERE/SINCE. None = fall back to the
        full read()."""
        from sneldb_spark.store.topk_prune import (
            collect_file_stats,
            select_context_files,
        )

        self._note_read(event_type)
        if (
            event_type == "*"
            or not self.registry.has(event_type)
            or not self.has_data(event_type)
        ):
            return None
        schema = self.registry.get(event_type)

        def build():
            pending = self._pending_tail(event_type)
            stats = collect_file_stats(self._path(event_type), "context_id",
                                       storage=self.storage)
            if stats is None:
                return None
            keep = select_context_files(stats, context_id)
            if not keep:
                df = self.spark.createDataFrame([], schema=schema.spark_struct)
            else:
                df = self.spark.read.schema(schema.spark_struct).parquet(*keep)
            if pending is not None:
                df = df.unionByName(pending)
            return df

        return self._consistent_frame(build)

    def source_hwm(self, event_type: str) -> tuple[int, int] | None:
        """(max timestamp, max event_id) for one type from Parquet FOOTER
        stats plus the in-memory pending buffer — no Spark job, no data
        pages. The staleness probe behind every SHOW; a full-scan
        agg(max(...)) over 100 TB just to ask "did anything arrive?"
        would defeat the delta refresh it guards. Returns None when
        footer stats are unavailable (caller falls back to the scan);
        (-1, -1) when the type holds no rows at all.

        The answer is a function of the type's read signature (pending
        generation plus segment file set), so the last one is kept per
        type and returned while the signature, taken before the probe,
        is unchanged: a warm SHOW reads no footers, and any STORE, flush
        or compaction forces a fresh probe."""
        from sneldb_spark.store.topk_prune import columns_max

        if event_type == "*" or not self.registry.has(event_type):
            return None
        sig = self.read_signature(event_type)
        held = self._hwm_memo.get(event_type)
        if held is not None and held[0] == sig:
            return held[1]
        hwm_ts, hwm_id = -1, -1
        if self.has_data(event_type):
            maxes = columns_max(self._path(event_type), ["timestamp", "event_id"],
                                storage=self.storage)
            if maxes is None:
                self._hwm_memo[event_type] = (sig, None)
                return None
            if maxes["timestamp"] is not None:
                hwm_ts = int(maxes["timestamp"])
                hwm_id = int(maxes["event_id"])
        with self._pending_lock:
            # memtable plus the in-flight flush batch: a probe during the
            # Parquet-commit window must never see LOWER marks than a
            # probe just before it (the materializer trusts cur to close
            # its delta; a regressed probe is safe, an advanced probe
            # over invisible rows is not — so the rows stay visible here)
            rows = list(self._pending.get(event_type, ())) + list(
                self._flushing.get(event_type, ())
            )
        for r in rows:
            hwm_ts = max(hwm_ts, r["timestamp"])
            hwm_id = max(hwm_id, r["event_id"])
        self._hwm_memo[event_type] = (sig, (hwm_ts, hwm_id))
        return hwm_ts, hwm_id

    def read_stream(
        self, event_type: str, max_files_per_trigger: int | None = None
    ) -> DataFrame:
        """Streaming DataFrame over one event type's Parquet dataset —
        every FLUSH commit surfaces as new files in the file source. The
        same AST compiles against this source unchanged (query_stream).

        `max_files_per_trigger` is the micro-batch SIZING knob (file
        source `maxFilesPerTrigger`): stateful operators pay a fixed
        per-trigger cost (state write + shuffle + Arrow + commit —
        measured ~1.1 s marginal in BASELINE.md), so throughput is
        events-per-trigger / (matching + floor). Larger triggers
        amortize the floor, smaller ones cut latency; the measured
        trade-off table is in docs/streaming.md "Micro-batch sizing".
        None (default) = every available file per trigger (one batch
        per drain under availableNow)."""
        from pyspark.sql import types as T

        if event_type == "*":
            types = [t for t in self.registry.event_types() if self.has_data(t)]
            df = None
            for t_ in types:
                part = self.read_stream(t_, max_files_per_trigger)
                df = part if df is None else df.unionByName(part, allowMissingColumns=True)
            if df is None:
                raise QueryError("no events stored yet for streaming read")
            return df
        schema = self.registry.get(event_type)
        struct = T.StructType(
            list(schema.spark_struct) + [T.StructField("ingest_date", T.DateType())]
        )
        # subscribing BEFORE the first flush is legitimate (a live funnel
        # over a just-DEFINEd type) — the file source wants the directory
        # to exist, and an empty one simply yields no batches yet
        os.makedirs(self._path(event_type), exist_ok=True)
        reader = self.spark.readStream.schema(struct)
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", int(max_files_per_trigger)
            )
        return reader.parquet(self._path(event_type)).drop("ingest_date")

    # -- maintenance ------------------------------------------------------
    def compact(self, event_type: str, target_file_mb: int = 128):
        """Small-file compaction: rewrite each date partition into sorted,
        right-sized files (the reference's leveled compactor S7).

        The swap is a directory rename — atomic against new readers but a
        query already holding the old file list can lose files mid-scan.
        Acceptable for the single-engine deployment this mirrors (the
        reference parks readers during handover too); on a shared 100 TB
        lake the same rewrite belongs in a transactional table format
        (Delta/Iceberg OPTIMIZE) instead of a rename."""
        self._check_writer()
        # read the LIVE copy, stage/publish against the LOGICAL dir (on
        # the object backend staging is a fresh version prefix of the
        # logical path, never of the current resolved one)
        logical = self._raw_path(event_type)
        path = self._path(event_type)
        if not os.path.isdir(path):
            return
        df = self.spark.read.parquet(path)
        staging = self.storage.stage_path(logical)
        self.storage.remove_tree(staging)
        (
            df.repartition(F.col("ingest_date"))
            .sortWithinPartitions("context_id", "timestamp")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 4_000_000)
            .options(**self._bloom_options(event_type))
            .partitionBy("ingest_date")
            .parquet(staging)
        )
        # publish keeps the old layout readable until the compacted copy
        # is complete and never has a zero-copy window (store/storage.py)
        self.storage.publish_dir(logical)
