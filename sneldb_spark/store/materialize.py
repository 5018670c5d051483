"""REMEMBER / SHOW: materialized query results with incremental refresh.

Mirrors the reference's materialization design (reference:
src/engine/materialize/, src/command/handlers/show/delta/): a stored result
plus a high-water mark `(timestamp, event_id)` over the *source* events.

- `REMEMBER <query> AS name` runs the query, persists the result as
  Parquet, and records the high-water mark of the scanned source. For a
  plain aggregate query it ALSO persists mergeable per-group partial
  state (see plans/aggregates.py).
- `SHOW name` refreshes first, by the shape REMEMBER recorded (see
  shape_of): for plain event queries only the delta
  (`ts > hwm OR (ts = hwm AND id > hwm_id)`) is scanned and appended —
  at 100 TB this is the difference between an incremental touch-up and
  a full rescan. Aggregates (plain, sequence, every COMPARE side) merge
  a delta partial aggregate into the stored state (reference:
  src/command/handlers/show/delta/refresher.rs) — a delta scan plus a
  state-sized shuffle, never a history rescan. Sequence results (one
  link or a chain) advance a stepwise match over small carried per-step
  state plus the delta. Group-LIMIT aggregates (where new rows can
  change WHICH groups qualify) recompute when (and only when) the
  high-water mark moved.
"""

from __future__ import annotations

import json
import os
import re
import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sneldb_spark.commands import ast
from sneldb_spark.commands.serde import (
    compare_from_json,
    compare_to_json,
    query_from_json,
    query_to_json,
)
from sneldb_spark.errors import MaterializationError

# How a materialization refreshes, decided ONCE at REMEMBER with that
# engine's flags; the manifest keys REMEMBER writes for it record the
# choice, so a later engine's flags never re-route it:
SEGMENTS = "segments"    # plain events: append delta interval segments
RETAINED = "retained"    # plain events with retention: merge delta + trim
SEQUENCE = "sequence"    # sequence events: stepwise match over carried state
PARTIAL = "partial"      # aggregates and COMPARE: merge per-side partial state
RECOMPUTE = "recompute"  # everything else: full recompute when stale


def shape_of(manifest: dict) -> str:
    """The refresh shape REMEMBER chose, read from the keys it wrote for
    it; with none of them, a plain event query is retention-trimmed (its
    retention-free form would carry `segments`) and anything else
    recomputes."""
    if manifest.get("segments"):
        return SEGMENTS
    if (manifest.get("state_keys") is not None
            or manifest.get("compare_state_keys") is not None):
        return PARTIAL
    if manifest.get("seq_state"):
        return SEQUENCE
    if not manifest["query"].get("compare"):
        q = query_from_json(manifest["query"])
        if not (q.is_aggregate or q.is_sequence) and q.limit is None:
            return RETAINED
    return RECOMPUTE


class Materializer:
    def __init__(self, engine, root: str, storage=None):
        from sneldb_spark.store.storage import LOCAL

        self.engine = engine
        self.root = os.path.join(root, "materialized")
        self.storage = storage if storage is not None else LOCAL
        # Fold-side segment-count bound: every refresh appends one
        # interval dir, and the serve path's stored-plan cost (file
        # listing + mergeSchema footer reads) is linear in the dir
        # count — a SHOW-every-20s service would otherwise watch its
        # time-to-first-frame creep. When a fold leaves more than this
        # many interval segments, it compacts them into a fresh base
        # (same S7 rationale as the event store's auto_compact_files).
        # None = manual compact() only.
        self.auto_compact_segments: int | None = 48
        self._fold_lock = threading.Lock()
        self._fold_threads: dict[str, threading.Thread] = {}
        # (name, exception) pairs from background folds — folds never
        # raise into the serving thread; quiesce() surfaces (and drains)
        # them, and a later successful fold for the name clears them
        self.fold_errors: list[tuple[str, Exception]] = []
        # Live serve frames per name (weak: a drained/dropped frame
        # leaves the set on GC). A serve frame pins its stored file
        # listing at build time; every data-path publish/recover passes
        # the live frames' pinned copies as keep_live so compaction can
        # run on cadence while GC spares what a slow reader still needs.
        self._serve_frames: dict[str, weakref.WeakSet] = {}
        # Optional snapshot-pinned hook (see _pin_snapshot): called once
        # per REMEMBER, right after the bootstrap's read mark is probed.
        # Lets a bulk loader that carries its own event timestamps resume
        # appending DURING the bootstrap instead of serializing around it.
        self.on_snapshot = None

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.json")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def _write_manifest(self, name: str, manifest: dict) -> None:
        """Atomic manifest replace (tmp + os.replace): SHOW serves from
        the published manifest while a background fold commits a new one,
        so a reader must never see a truncated file."""
        p = self._manifest_path(name)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)

    def _parallel_writes(self, *thunks) -> list:
        """Run independent write actions concurrently (each is a Spark
        job; actions are only sequential because the driver calls them
        sequentially — overlapping them back-fills the tail of one job
        with the next one's tasks). Callers pass writes that are
        mutually independent AND whose shared inputs are already
        materialized (persisted / checkpointed / written), so no input
        is computed twice. Worker threads re-tag the caller's scheduler
        pool and job group (local properties are per-thread), so their
        jobs are placed, cancelled and counted as the caller's own.
        First exception wins;
        all writes are awaited either way so a failure never leaves a
        stray in-flight job writing into a directory the caller is
        about to clean up. Returns the thunks' results in order."""
        if len(thunks) <= 1:
            return [t() for t in thunks]
        from concurrent.futures import ThreadPoolExecutor

        try:
            sc = self.engine.spark.sparkContext
            tags = {
                k: sc.getLocalProperty(k)
                for k in ("spark.scheduler.pool", "spark.jobGroup.id",
                          "spark.job.description",
                          "spark.job.interruptOnCancel")
            }
        except Exception:  # Spark Connect: server-side scheduling
            tags = {}

        def run(t):
            for k, v in tags.items():
                if v is not None:
                    sc.setLocalProperty(k, v)
            return t()

        with ThreadPoolExecutor(
            max_workers=min(4, len(thunks)),
            thread_name_prefix="sneldb-mat-write",
        ) as ex:
            futures = [ex.submit(run, t) for t in thunks]
            errs = [f.exception() for f in futures]
        first = next((e for e in errs if e is not None), None)
        if first is not None:
            raise first
        return [f.result() for f in futures]

    # -- background fold machinery (serve-then-refresh SHOW) ---------------
    def _register_serve(self, name: str, frame: DataFrame) -> None:
        with self._fold_lock:
            self._serve_frames.setdefault(name, weakref.WeakSet()).add(frame)

    def pin_derived(self, name: str, parent: DataFrame, child: DataFrame) -> DataFrame:
        """Transfer a serve frame's GC pin to a frame DERIVED from it
        (e.g. a LIMIT'd SHOW). pyspark transformations keep no Python
        reference to their parent, and the registry is a WeakSet — so
        without this the parent (the only pin holder) is collected the
        moment the caller rebinds it, _pinned_lives() loses the pin, and
        a compaction publish past gc_grace_versions can GC files the
        derived plan still reads mid-drain. The child carries both the
        pinned-copy path and a strong reference to the parent (belt and
        braces: the parent may hold serve-parts state the drain path
        inspects). No-op passthrough when the parent isn't a pinned
        serve frame (fresh/non-segmented materializations)."""
        live = getattr(parent, "__sneldb_pinned_live__", None)
        if live is not None:
            child.__sneldb_pinned_live__ = live
            child.__sneldb_serve_parent__ = parent
            self._register_serve(name, child)
        return child

    def _serves_outstanding(self, name: str) -> bool:
        ws = self._serve_frames.get(name)
        return bool(ws) and len(ws) > 0

    def _fold_in_flight(self, name: str) -> bool:
        t = self._fold_threads.get(name)
        return t is not None and t.is_alive() and t is not threading.current_thread()

    def _pinned_lives(self, name: str) -> set[str]:
        """Physical copy paths still pinned by live serve frames for
        `name` — passed as keep_live to every data-path publish/recover
        so compaction GC spares them until their readers drop."""
        ws = self._serve_frames.get(name)
        return {
            p
            for f in (ws or ())
            if (p := getattr(f, "__sneldb_pinned_live__", None)) is not None
        }

    def _schedule_fold(self, name: str, fn) -> bool:
        """Start `fn` on a per-name background thread. One fold per name
        at a time: if one is in flight, skip — the serve path already
        computed its frame from the PUBLISHED state and lower bound, and
        the next stale SHOW re-schedules from wherever the running fold
        lands. Never blocks the serving thread."""
        with self._fold_lock:
            t = self._fold_threads.get(name)
            if t is not None and t.is_alive():
                return False

            def run():
                from sneldb_spark.session import set_scheduler_pool

                # bulk pool: fold jobs must not head-of-line-block the
                # serve pool's small first-frame tasks (FAIR across pools)
                set_scheduler_pool(self.engine.spark, "sneldb-bulk")
                try:
                    fn()
                    # a committed fold supersedes any earlier transient
                    # failure for this name — describe() must not report
                    # a permanently-stale error count
                    with self._fold_lock:
                        self.fold_errors = [
                            e for e in self.fold_errors if e[0] != name
                        ]
                except Exception as e:  # surfaced via quiesce()/describe()
                    with self._fold_lock:
                        self.fold_errors.append((name, e))

            t = threading.Thread(
                target=run, name=f"sneldb-mat-fold-{name}", daemon=True
            )
            self._fold_threads[name] = t
            t.start()
            return True

    def quiesce(self, name: str | None = None,
                drain: bool = True) -> list[tuple[str, Exception]]:
        """Join in-flight background folds (all names, or one) and DRAIN
        any recorded fold errors (pop-and-return: surfacing an error is
        consuming it — otherwise one transient failure makes every later
        quiesce()/describe() for that name report stale errors forever,
        and forget()+re-REMEMBER inherits the dead materialization's
        count). Lifecycle operations that delete or rewrite a
        materialization's directories (forget, compact) call this first
        so a fold never writes into a removed tree; compact passes
        drain=False — it quiesces as a side effect and must not swallow
        errors its caller never sees."""
        me = threading.current_thread()
        with self._fold_lock:
            threads = [
                t
                for n, t in self._fold_threads.items()
                if (name is None or n == name) and t is not me
            ]
        for t in threads:
            t.join()
        with self._fold_lock:
            drained = [
                e for e in self.fold_errors if name is None or e[0] == name
            ]
            if drain:
                self.fold_errors = [
                    e
                    for e in self.fold_errors
                    if not (name is None or e[0] == name)
                ]
        return drained

    # -- helpers ----------------------------------------------------------
    def _pin_snapshot(self, q) -> tuple[int, int]:
        """REMEMBER-bootstrap probe: take the source high-water mark and
        fire `on_snapshot`. Once this returns, the bootstrap's read is
        CLOSED at the mark — every later-committed row lands in the next
        delta exactly once — so a loader may resume appends immediately
        and its jobs overlap the bootstrap's (they are independent from
        here on; remember() additionally holds background compaction for
        the bootstrap's duration, so an overlapped append crossing a
        compaction threshold can never GC source files the bootstrap's
        in-flight jobs still read). Without the hook a loader carrying its own event
        timestamps must serialize around the WHOLE bootstrap: if its
        early rows committed before this probe, the mark could rise
        above rows it had not committed yet, silently dropping them from
        every delta. Fired only here (after the FULL probe — all sides
        of a COMPARE), never on refresh probes, where no such ordering
        contract exists."""
        hwm = self._source_hwm(q)
        cb = self.on_snapshot
        if cb is not None:
            cb()
        return hwm

    def _source_hwm(self, q) -> tuple[int, int]:
        """(max timestamp, max event_id) over the query's source types.
        Footer-stats + memtable probe (no Spark job) when available —
        this runs on EVERY SHOW, so it must stay metadata-cheap — with a
        full agg(max(...)) scan as the fallback. For a COMPARE the mark
        is the max across all sides (event_ids are globally monotonic
        across types — the same invariant wildcard and sequence hwms
        already rely on)."""
        if isinstance(q, ast.CompareCommand):
            marks = [self._source_hwm(s) for s in q.queries]
            return max(m[0] for m in marks), max(m[1] for m in marks)
        hwm_ts, hwm_id = -1, -1
        for et in q.sequence.event_types:
            fast = self.engine.store.source_hwm(et)
            if fast is not None:
                hwm_ts = max(hwm_ts, fast[0])
                hwm_id = max(hwm_id, fast[1])
                continue
            try:
                df = self.engine.store.read(et)
            except Exception:
                continue
            row = df.agg(
                F.max("timestamp").alias("ts"), F.max("event_id").alias("id")
            ).collect()[0]
            if row["ts"] is not None:
                hwm_ts = max(hwm_ts, row["ts"])
                hwm_id = max(hwm_id, row["id"])
        return hwm_ts, hwm_id

    def _choose_shape(self, q, retained: bool) -> str:
        """The refresh shape of a new materialization, decided once with
        this engine's flags (see shape_of). Plain event queries append
        segments, or merge and trim when retention options are set.
        Aggregates merge per-side partial state: a plain aggregate, a
        sequence aggregate or every side of a COMPARE. Sequences match
        stepwise over carried per-step state: one link (FOLLOWED BY or
        PRECEDED BY) or a FOLLOWED BY chain on a multi_link engine;
        WITHIN is delta-safe (the match runs unfiltered, gaps filter at
        emission) and ORDER BY without LIMIT is accepted, as segment
        layouts serve rows in no fixed order. Everything else
        recomputes: LIMIT/OFFSET (a delta could displace stored rows or
        groups), retention on anything but plain events, USING TIME (a
        user field is not append-ordered) and the approx-percentile
        sketch (no merge)."""
        from sneldb_spark.commands.ast import FOLLOWED_BY
        from sneldb_spark.plans.aggregates import is_percentile

        if isinstance(q, ast.CompareCommand):
            sides = q.queries
        elif not (q.is_aggregate or q.is_sequence) and q.limit is None:
            return RETAINED if retained else SEGMENTS
        else:
            sides = [q]
        if (
            retained
            or not sides
            or any(s.limit is not None or s.offset is not None for s in sides)
            or self.engine.compiler.approx_percentiles
            and any(is_percentile(a.op) for s in sides for a in s.aggs)
        ):
            return RECOMPUTE
        if isinstance(q, ast.CompareCommand):
            plain = all(s.is_aggregate and not s.is_sequence for s in sides)
            return PARTIAL if plain else RECOMPUTE
        if not q.is_sequence:
            return PARTIAL
        stepwise = q.sequence_time_field is None and (
            len(q.sequence.links) == 1
            or self.engine.compiler.multi_link
            and all(k == FOLLOWED_BY for k, _ in q.sequence.links)
        )
        if not stepwise:
            return RECOMPUTE
        return PARTIAL if q.is_aggregate else SEQUENCE

    @staticmethod
    def _within_chain(q, chain: DataFrame) -> DataFrame:
        """WITHIN over a completed chain: every adjacent gap bounded —
        the same emission filter the direct compiles apply."""
        if q.sequence_within is None:
            return chain
        for i in range(len(q.sequence.links)):
            gap = F.abs(
                F.col(f"s{i + 1}_timestamp").cast("long")
                - F.col(f"s{i}_timestamp").cast("long")
            )
            chain = chain.where(gap <= F.lit(int(q.sequence_within)))
        return chain

    def _chain_rows(self, q, chain: DataFrame) -> DataFrame:
        """The event rows a sequence materialization stores and serves:
        the WITHIN-filtered completed chains, with a single link's
        s0_/s1_ columns renamed ONCE to the pair shape's a_/b_ — so SHOW
        columns and stored segments are those of a direct single-link
        QUERY (one selectExpr: a py4j call for the whole rename)."""
        from sneldb_spark.plans.sequence import A_PREFIX, B_PREFIX, _bq

        chain = self._within_chain(q, chain)
        if len(q.sequence.links) != 1:
            return chain
        side = {"s0_": A_PREFIX, "s1_": B_PREFIX}
        return chain.selectExpr(
            *[f"{_bq(c)} AS {_bq(side[c[:3]] + c[3:])}" for c in chain.columns]
        )

    # -- batched multi-part state (round 12) --------------------------------
    # The per-step carry frames (pending_s{i}/boundary_{j}) land in ONE
    # partitioned write: state/parts/__part=<name>/... plus a sidecar
    # recording each part's exact schema (parts may differ in schema — the
    # union null-fills to the superset and readers select the original
    # columns back; an EMPTY part writes no partition directory at all, so
    # readers reconstruct it from the sidecar schema). At tiny-delta scale
    # the lifecycle cost IS the job count, so one job + one commit for
    # every part. The sidecar is authoritative: a part exists iff it names
    # it.
    _PART_COL = "__part"
    _PARTS_SUBDIR = "parts"
    _PARTS_SIDECAR = "_state_parts.json"
    # Single-link state written before single links ran as 2-step chains
    # named its two parts after the pair sides; read as the n=2 chain it
    # is (the next refresh rewrites it under the step names).
    _PAIR_PART_NAMES = {"pending_s0": "pending_a", "boundary_1": "boundary_b"}

    @staticmethod
    def _carry_parts(n: int) -> list[str]:
        return [f"pending_s{i}" for i in range(n - 1)] + [
            f"boundary_{j}" for j in range(1, n)
        ]

    def _write_state_parts(self, state_dir: str, parts: dict[str, DataFrame]):
        """One Spark job + one commit for every carry-state part. Callers
        guarantee the parts' shared inputs are already materialized."""
        d = self._live(state_dir)
        os.makedirs(d, exist_ok=True)
        tagged = None
        schemas: dict[str, dict] = {}
        for part, df in parts.items():
            schemas[part] = json.loads(df.schema.json())
            t = df.select(F.lit(part).alias(self._PART_COL), "*")
            tagged = (
                t if tagged is None
                else tagged.unionByName(t, allowMissingColumns=True)
            )
        tagged.write.mode("overwrite").partitionBy(self._PART_COL).parquet(
            os.path.join(d, self._PARTS_SUBDIR)
        )
        tmp = os.path.join(d, self._PARTS_SIDECAR + ".tmp")
        with open(tmp, "w") as f:
            json.dump(schemas, f)
        os.replace(tmp, os.path.join(d, self._PARTS_SIDECAR))

    def _state_part_at(self, d: str, part: str):
        """(stored part name, schema) of one carry-state part in a
        RESOLVED state dir, or None when the state holds no such part.
        Raises MaterializationError for the per-directory carry layout
        (one parquet dir per part, no sidecar) that predates the
        partitioned state: this version does not read it."""
        from pyspark.sql.types import StructType

        aliases = (part, self._PAIR_PART_NAMES.get(part))
        p = os.path.join(d, self._PARTS_SIDECAR)
        if not os.path.exists(p):
            if any(a and os.path.isdir(os.path.join(d, a)) for a in aliases):
                raise MaterializationError(
                    f"materialization state under {d} uses the per-directory "
                    "carry layout, which this version no longer reads; FORGET "
                    "the materialization and REMEMBER it again"
                )
            return None
        with open(p) as f:
            schemas = json.load(f)
        for stored in aliases:
            if stored in schemas:
                return stored, StructType.fromJson(schemas[stored])
        return None

    def _read_carry(self, name: str, n: int) -> dict[str, DataFrame]:
        """Every carry part of an n-step sequence from the PUBLISHED
        state (the original schema restored via the sidecar; an empty
        part reconstructs as an empty local relation)."""
        spark = self.engine.spark
        d = self._live(self._state_path(name))
        out = {}
        for part in self._carry_parts(n):
            found = self._state_part_at(d, part)
            if found is None:
                raise FileNotFoundError(
                    f"state part {part!r} does not exist under {d}"
                )
            stored, schema = found
            pdir = os.path.join(
                d, self._PARTS_SUBDIR, f"{self._PART_COL}={stored}"
            )
            cols = [f.name for f in schema.fields]
            out[part] = (
                spark.read.parquet(pdir).select(*cols)
                if os.path.isdir(pdir)
                else spark.createDataFrame([], schema)
            )
        return out

    # -- sequence materialization: one stepwise chain for every n ----------
    # A single link is a 2-step chain. REMEMBER runs the stepwise match
    # over frames closed at the probed mark; a refresh runs the SAME
    # advance over carried state ∪ the (lower, cur] delta. Each link is
    # plans/sequence.py chain_link — the call the batch chain compile
    # makes — so a refresh step is pair-for-pair the direct query's.
    def _chain_advance(self, q, parts, pin, hwm_ts: int, state=None,
                       lower=None):
        """Stepwise match over `parts` (compiler.chain_parts). With
        `state` (carried parts) and `lower`, each step's candidates are
        carried rows ∪ the delta past `lower`. `pin` materializes each
        link's output once: it feeds the next link, the pending anti-join
        and, for the last link, the emitted rows. Returns (chains, carry):
        the link outputs and the per-step state a future delta can still
        reach, chosen by the step's link kind (server timestamps are
        append-ordered):

        - FOLLOWED BY: the inputs that did NOT advance (identity is the
          head event — chains are one-per-head; with WITHIN, only those
          whose cursor is within the window of the mark: any later
          candidate would miss it) plus the next step's rows ON the
          high-water second (a delta cursor landing on that second may
          tie them). A carried input had no eligible candidate at the old
          mark, so its first at-or-after among boundary ∪ delta IS its
          first overall.
        - PRECEDED BY (a single link only): no pending rows — an old
          cursor can never gain a strictly-earlier event — and two rows
          of the next step per link group (_preceded_state)."""
        from sneldb_spark.commands.ast import FOLLOWED_BY
        from sneldb_spark.plans.sequence import chain_link

        frames, _types, kinds, link = parts
        if lower is not None:
            frames = [self._delta_slice(f, *lower) for f in frames]

        def carried(part: str, df: DataFrame) -> DataFrame:
            if state is None:
                return df
            return state[part].unionByName(df, allowMissingColumns=True)

        gap = q.sequence_within
        chain, chains, carry = frames[0], [], {}
        for i, kind in enumerate(kinds):
            awaiting = carried(f"pending_s{i}", chain)
            cand = carried(f"boundary_{i + 1}", frames[i + 1])
            chain = pin(chain_link(awaiting, cand, link, kind, i))
            chains.append(chain)
            if kind == FOLLOWED_BY:
                key = "event_id" if i == 0 else "s0_event_id"
                pend = awaiting.join(
                    chain.select(F.col("s0_event_id").alias(key)),
                    key, "left_anti",
                )
                if gap is not None:
                    cursor_ts = "timestamp" if i == 0 else f"s{i}_timestamp"
                    pend = pend.where(
                        F.col(cursor_ts).cast("long") >= F.lit(hwm_ts - int(gap))
                    )
                boundary = cand.where(
                    F.col("timestamp").cast("long") == F.lit(hwm_ts)
                )
            else:
                pend = awaiting.where(F.lit(False))
                boundary = self._preceded_state(cand, link, hwm_ts)
            carry[f"pending_s{i}"] = pend
            carry[f"boundary_{i + 1}"] = boundary
        return chains, carry

    def _write_carry(self, state_dir: str, carry: dict, mark: tuple[int, int]):
        """Every carry part in ONE partitioned write; the hwm marker
        lands after it."""
        self._write_state_parts(state_dir, carry)
        self._write_state_hwm(state_dir, *mark)

    def _remember_chain(self, name: str, q, path: str) -> tuple[int, int]:
        """Initial event-shaped sequence materialization, any step count:
        the stepwise match once over frames CLOSED at the probed mark (a
        row racing in lands in the next delta exactly once), persisted
        per step for the duration. The completed chains are the segment
        base; the per-step carry is the state."""
        hwm = self._pin_snapshot(q)
        parts = self.engine.compiler.chain_parts(q, upper=hwm)
        chains, carry = self._chain_advance(q, parts, DataFrame.persist, hwm[0])
        try:
            # base FIRST: it materializes every persisted step, so the
            # carry write below is a pure cached-read job
            self._chain_rows(q, chains[-1]).write.mode("overwrite").parquet(
                os.path.join(path, "base")
            )
            self._write_carry(self._state_path(name), carry, hwm)
            return hwm
        finally:
            for c in chains:
                c.unpersist()

    def _chain_delta(self, q, lower, cur, state):
        """The stepwise delta advance over carried `state` (published
        reads on the fold and aggregate paths, pinned snapshots on the
        serve path) ∪ the (lower, cur] slice; with both None, the full
        match up to cur (an aggregate REMEMBER). Each link's output is
        lazily localCheckpointed: it feeds the next link, the pending
        anti-join AND, for the last link, the served rows and the fold's
        writes — one computation for all. Returns (completed chains,
        carry state at cur)."""
        chains, carry = self._chain_advance(
            q, self.engine.compiler.chain_parts(q, upper=cur),
            lambda df: df.localCheckpoint(eager=False), cur[0], state, lower,
        )
        return chains[-1], carry

    def _refresh_chain(self, name: str, q, manifest: dict, path: str,
                       cur: tuple[int, int], served: dict | None = None):
        """Fold body of an event-shaped sequence materialization: append
        the delta's completed chains as an interval segment, swap the
        per-step state as one unit. With a `served` bundle at the same
        lower bound, the fold writes the serve path's checkpointed frames
        — no second advance."""
        state = self._state_path(name)
        lower = self._published_lower(manifest, self._live(state))
        if served is not None and tuple(served["lower"]) == tuple(lower):
            rows, carry = served["rows"], served["carry"]
        else:
            chain, carry = self._chain_delta(
                q, lower, cur, self._read_carry(name, len(q.sequence.event_types))
            )
            rows = self._chain_rows(q, chain)
        # APPEND-ONLY result: the interval-named segment is deterministic
        # for this (lower, cur] slice, so a crashed refresh that reruns
        # OVERWRITES it instead of duplicating it; history is never read
        # or rewritten.
        seg = os.path.join(self._live(path), f"d_{lower[0]}_{lower[1]}")
        nxt = self.storage.stage_path(state)
        self.storage.remove_tree(nxt)
        # segment FIRST (it also materializes the checkpointed advance the
        # carry write reads); a crashed rerun overwrites the same slice
        rows.write.mode("overwrite").parquet(seg)
        self._write_carry(nxt, carry, cur)
        # Publish the state as ONE unit (store/storage.py protocol).
        # Before the publish everything is old and a rerun redoes the
        # delta idempotently (in-state hwm marker + interval-named segment
        # overwrite — there is NO row-level dedup, so that idempotence is
        # load-bearing); a crash inside the publish is repaired by
        # recover_dir in show(), restoring the OLD state.
        self.storage.publish_dir(state)

    def _state_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "state")

    def _live(self, path: str) -> str:
        """Physical location of a publish-managed directory's live copy
        (storage.resolve): identity on LocalStorage, pointer target on an
        object-store backend. Resolved at USE time, never cached across a
        publish."""
        return self.storage.resolve(path)

    def _read_segments(self, path: str):
        """Sequence (event-shaped) results are a directory of append-only
        interval segments; recursiveFileLookup reads them all (and reads
        a legacy flat layout identically)."""
        return (
            self.engine.spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet(self._live(path))
        )

    @staticmethod
    def _delta_slice(df: DataFrame, hwm_ts: int, hwm_id: int) -> DataFrame:
        from sneldb_spark.plans.filters import hwm_after

        return df.where(hwm_after(hwm_ts, hwm_id))

    @staticmethod
    def _preceded_state(b: DataFrame, link_field: str, hwm_ts: int) -> DataFrame:
        """PRECEDED BY carries two B rows per link group: the latest B
        overall (what a future A with a later ts pairs with) and the
        latest B strictly before the high-water second (what a future A
        landing exactly ON that second pairs with, since its own second
        is excluded by strictness). Everything else is unreachable by any
        future A — server timestamps are append-ordered."""
        from pyspark.sql import Window

        w = Window.partitionBy(link_field).orderBy(
            F.col("timestamp").cast("long").desc(), F.col("event_id").desc()
        )
        last = (
            b.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        pre = (
            b.where(F.col("timestamp").cast("long") < F.lit(hwm_ts))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return last.unionByName(pre).dropDuplicates(["event_id"])

    def _swap_in(self, df: DataFrame, path: str):
        """Overwrite `path` with `df` via write-to-staging + publish:
        a reader never sees a half-written directory, and there is no
        crash window with zero readable copies (store/storage.py
        publish protocol; recover_dir in show() repairs a mid-publish
        crash)."""
        df.write.mode("overwrite").parquet(self.storage.stage_path(path))
        self.storage.publish_dir(path)

    def _apply_retention(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Retention per the reference's materialization limits: keep rows
        no older than max_age_seconds, and at most max_rows (newest first).
        Only meaningful for event-shaped (non-aggregate) results."""
        max_age = manifest.get("max_age_seconds")
        max_rows = manifest.get("max_rows")
        if "timestamp" not in df.columns:
            return df
        if max_age is not None:
            import time as _time

            cutoff = int(_time.time()) - int(max_age)
            df = df.where(F.col("timestamp") >= F.lit(cutoff))
        if max_rows is not None:
            df = (
                df.orderBy(F.col("timestamp").desc(), F.col("event_id").desc())
                .limit(int(max_rows))
            )
        return df

    # -- REMEMBER ---------------------------------------------------------
    def remember(
        self,
        name: str,
        q: ast.QueryCommand,
        max_rows: int | None = None,
        max_age_seconds: int | None = None,
    ):
        """REMEMBER bootstrap. Runs under the store's compaction hold: the
        on_snapshot hook lets a loader overlap appends with the bootstrap,
        and an overlapped append can cross a compaction threshold — but a
        compaction publish deletes the superseded live copy (keep_live is
        ignored by the local backend), which would fail the bootstrap's
        in-flight source reads with missing files. The hold defers
        background rewrites until the bootstrap's last source read is
        done; deferred types compact right after."""
        import contextlib

        store = getattr(self.engine, "store", None)
        hold = (
            store.hold_compaction()
            if store is not None and hasattr(store, "hold_compaction")
            else contextlib.nullcontext()
        )
        with hold:
            return self._remember_impl(name, q, max_rows, max_age_seconds)

    def _remember_impl(
        self,
        name: str,
        q: ast.QueryCommand,
        max_rows: int | None = None,
        max_age_seconds: int | None = None,
    ):
        if self.exists(name):
            raise MaterializationError(f"materialization {name!r} already exists")
        is_compare = isinstance(q, ast.CompareCommand)
        shape = self._choose_shape(
            q, max_rows is not None or max_age_seconds is not None
        )
        manifest = {
            "name": name,
            "query": compare_to_json(q) if is_compare else query_to_json(q),
            "hwm_ts": -1,
            "hwm_id": -1,
            "max_rows": max_rows,
            "max_age_seconds": max_age_seconds,
        }
        if not is_compare and q.is_sequence and (
            len(q.sequence.links) == 1 or self.engine.compiler.multi_link
        ):
            # the step count this engine matched: SHOW on an engine that
            # cannot match as many refuses instead of recomputing empty
            manifest["chain_steps"] = len(q.sequence.event_types)
        path = os.path.join(self._dir(name), "data")
        # Every shape probes FIRST and closes its reads at the probed
        # mark: a row racing in after the probe is excluded from this
        # result and lands in the next refresh exactly once — probing
        # after the write would record it as consumed while it is absent
        # from the stored rows.
        if shape == SEGMENTS:
            # append-only segment layout from day one: data/base, every
            # refresh appends an interval segment, and a marker file
            # inside data/ carries the consumed hwm
            from sneldb_spark.plans.filters import hwm_at_or_before

            hwm = self._pin_snapshot(q)
            self.engine.compiler.compile_query(q).where(
                hwm_at_or_before(*hwm)
            ).write.mode("overwrite").parquet(os.path.join(path, "base"))
            self._write_state_hwm(path, *hwm)
            manifest["segments"] = True
        elif shape == SEQUENCE:
            hwm = self._remember_chain(name, q, path)
            manifest["seq_state"] = True
        elif shape == PARTIAL:
            hwm = self._pin_snapshot(q)
            keys = self._refresh_partial(name, q, manifest, path, hwm, bootstrap=True)
            if is_compare:
                manifest["compare_state_keys"] = keys
            else:
                manifest["state_keys"] = keys[0]
                if q.is_sequence:
                    manifest["seq_state"] = True
            sides = q.queries if is_compare else [q]
            if any(a.op == "count_unique" for s in sides for a in s.aggs):
                # the state's COUNT UNIQUE layout (value set or sketch)
                manifest["approx_count_unique"] = (
                    self.engine.compiler.approx_count_unique
                )
        else:
            hwm = self._pin_snapshot(q)
            self._recomputed(q, manifest, hwm).write.mode("overwrite").parquet(path)
        manifest["hwm_ts"], manifest["hwm_id"] = hwm
        self._write_manifest(name, manifest)
        if shape in (SEGMENTS, SEQUENCE):
            return self._read_segments(path).count()
        return self.engine.spark.read.parquet(self._live(path)).count()

    def _recomputed(self, q, manifest: dict, mark: tuple[int, int]) -> DataFrame:
        """The full result with every read closed at `mark`."""
        return self._apply_retention(
            self.engine.compiler.compile(q, upper=mark), manifest
        )

    def _write_state_hwm(self, state_dir: str, hwm_ts: int, hwm_id: int):
        """Underscore-prefixed so Spark's parquet listing ignores it;
        rides inside the state dir so it swaps atomically with it.
        Resolves: callers pass logical live dirs AND physical staging
        dirs alike (resolve is identity on the latter)."""
        d = self._live(state_dir)
        os.makedirs(d, exist_ok=True)
        # atomic replace: the serve path reads this marker while a
        # background fold advances it
        tmp = os.path.join(d, "_hwm.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"ts": int(hwm_ts), "id": int(hwm_id)}, f)
        os.replace(tmp, os.path.join(d, "_hwm.json"))

    def _read_state_hwm(self, state_dir: str):
        p = os.path.join(self._live(state_dir), "_hwm.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        return d["ts"], d["id"]

    # -- partial-state aggregates: one path for every side count ----------
    # A plain aggregate is one side (state/); a sequence aggregate is one
    # side whose delta partial comes from the stepwise chain advance and
    # whose state dir also holds the step carry (state/agg_state beside
    # the carry parts); a COMPARE is one side per query (cstate/side_<i>),
    # combined by merge_sides. Each side's state dir carries its own
    # consumed-hwm marker and publishes as one unit.
    def _partial_sides(self, name: str, q, manifest: dict):
        """(query, state dir, state subdir or None, group keys) per side."""
        if isinstance(q, ast.CompareCommand):
            keys = manifest.get("compare_state_keys") or [None] * len(q.queries)
            return [
                (s, os.path.join(self._dir(name), "cstate", f"side_{i}"), None, k)
                for i, (s, k) in enumerate(zip(q.queries, keys))
            ]
        sub = "agg_state" if q.is_sequence else None
        return [(q, self._state_path(name), sub, manifest.get("state_keys"))]

    def _side_delta(self, name: str, s, lower, cur):
        """(partial state of one side's (lower, cur] slice, group keys,
        step carry at cur or None). `lower` None reads everything up to
        `cur` (the REMEMBER bootstrap)."""
        compiler = self.engine.compiler
        if not s.is_sequence:
            state, keys = compiler.compile_aggregate_partial(s, hwm=lower, upper=cur)
            return state, keys, None
        # completed chains are append-only (one emission per head), so
        # partial-aggregating only the delta's chains merges exactly
        carried = None
        if lower is not None:
            carried = self._read_carry(name, len(s.sequence.event_types))
        chain, carry = self._chain_delta(s, lower, cur, carried)
        state, keys = compiler.compile_chain_aggregate_partial(
            s, self._within_chain(s, chain)
        )
        return state, keys, carry

    def _refresh_partial(self, name: str, q, manifest: dict, path: str,
                         cur: tuple[int, int], bootstrap: bool = False) -> list:
        """REMEMBER (`bootstrap`: no stored state, reads closed at `cur`)
        and refresh of every partial-state shape. Per side: the delta
        partial past max(manifest hwm, side marker), merged with the
        stored state and materialized ONCE by an eager localCheckpoint
        that the state write and the finalize both consume — so the
        stored result and every later refresh go through one estimator
        (approx COUNT UNIQUE: the query path's approx_count_distinct and
        the sketch estimate differ slightly). Side checkpoints are
        independent jobs and run together; one _parallel_writes then
        stages every side's state (+ carry) and the finalized result.

        Publish order: the result first, then each state. A crash before
        a side's state publish reruns that side's delta against its old
        state; a side whose state landed (marker at `cur`) merges an
        empty delta — the rerun is idempotent either way. Returns each
        side's group keys."""
        from sneldb_spark.plans.aggregates import (
            finalize_partial_state,
            merge_partial_states,
        )
        from sneldb_spark.plans.compare import merge_sides, side_labels

        approx = self.engine.compiler.approx_count_unique
        sides = self._partial_sides(name, q, manifest)
        states, keys, carries = [], [], []
        for s, sdir, sub, k in sides:
            lower = None
            if not bootstrap:
                live = self._live(sdir)
                lower = self._published_lower(manifest, live)
            delta, k, carry = self._side_delta(name, s, lower, cur)
            if not bootstrap:
                stored = self.engine.spark.read.parquet(
                    os.path.join(live, sub) if sub else live
                )
                delta = merge_partial_states(
                    stored.unionByName(delta, allowMissingColumns=True),
                    s.aggs, k, approx_unique=approx,
                )
            states.append(delta)
            keys.append(k)
            carries.append(carry)
        states = self._parallel_writes(*[
            (lambda df=df: df.localCheckpoint(eager=True)) for df in states
        ])
        finals = [
            finalize_partial_state(state, side[0].aggs, k, approx_unique=approx)
            for side, state, k in zip(sides, states, keys)
        ]
        result = (
            merge_sides(q.queries, side_labels(q.queries, q.labels), finals)
            if isinstance(q, ast.CompareCommand) else finals[0]
        )

        def target(d: str) -> str:
            # REMEMBER writes in place: nothing is visible before its
            # manifest; a refresh stages and publishes
            return d if bootstrap else self.storage.stage_path(d)

        staged, writes = [], []
        for (_s, sdir, sub, _k), state, carry in zip(sides, states, carries):
            nxt = target(sdir)
            self.storage.remove_tree(nxt)
            dst = os.path.join(nxt, sub) if sub else nxt
            writes.append(
                lambda df=state, dst=dst: df.write.mode("overwrite").parquet(dst)
            )
            if carry is not None:
                writes.append(lambda d=nxt, c=carry: self._write_state_parts(d, c))
            staged.append(nxt)
        out = target(path)
        writes.append(lambda: result.write.mode("overwrite").parquet(out))
        self._parallel_writes(*writes)
        for nxt in staged:
            self._write_state_hwm(nxt, *cur)
        if not bootstrap:
            self.storage.publish_dir(path)
            for _s, sdir, _sub, _k in sides:
                self.storage.publish_dir(sdir)
        return keys

    # -- SHOW -------------------------------------------------------------
    # -- serve-then-refresh builders ---------------------------------------
    # Interval segments are named d_{lower_ts}_{lower_id} after the slice
    # lower bound they cover ((lower, cur]); `base` is the initial
    # REMEMBER result. A serve frame at published lower L reads base plus
    # every segment named STRICTLY below L and computes (L, cur] itself —
    # so a fold's already-committed-but-unmarked segment (named exactly
    # L) is never double-counted, and nothing is missed.
    _SEG_NAME = re.compile(r"^d_(-?\d+)_(-?\d+)$")

    def _segment_files_before(
        self, path: str, lower: tuple[int, int]
    ) -> tuple[str, list[str]]:
        # Resolve ONCE and walk the resolved physical copy itself
        # (resolving an already-physical `dst.vN` dir is the identity).
        # Resolving twice — once here, once inside walk_parquet(path) —
        # raced a concurrent auto-compaction publish: the walked files
        # then relpath'd outside `live` ('../data.vN/...'), the d_*
        # regex never matched, and a served SHOW silently double-counted
        # folded rows alongside the recomputed delta.
        live = self._live(path)
        files = []
        for f in self.storage.walk_parquet(live):
            rel = os.path.relpath(f, live)
            top = rel.split(os.sep)[0]
            if top == os.pardir:
                raise RuntimeError(
                    f"segment listing escaped its resolved dir: {f} vs {live}"
                )
            m = self._SEG_NAME.match(top)
            if m and (int(m.group(1)), int(m.group(2))) >= tuple(lower):
                continue
            files.append(f)
        return live, files

    def _stored_union(self, path: str, lower: tuple[int, int], delta: DataFrame) -> DataFrame:
        """stored-segments-below-lower ∪ delta, lazily. The file listing
        is pinned at build time; the background fold only ADDS segment
        dirs, so the stored read never loses files under it.

        The returned frame carries `__sneldb_serve_parts__ = (stored,
        delta)`: the response streamer (response.py) iterates the parts
        SEQUENTIALLY when present, so the first wire frames need only
        the stored parquet scan's plan + one file-read task — the
        delta's join plan (the expensive planning) is paid while stored
        frames are already flowing. Values and order are identical to
        iterating the union (stored partitions precede delta partitions
        in a union plan anyway)."""
        live, files = self._segment_files_before(path, lower)
        if not files:
            return delta
        # explicit schema (the delta side's — compiled from the CURRENT
        # registry): no mergeSchema inference job, no distributed footer
        # sweep on the serve path. Parquet schema-on-read fills columns
        # a pre-evolution segment lacks with nulls, the same outcome
        # unionByName(allowMissingColumns) gives.
        stored = self.engine.spark.read.schema(delta.schema).parquet(*files)
        out = stored.unionByName(delta, allowMissingColumns=True)
        # record WHICH physical copy this frame's listing pins: every
        # later publish on the data path (compact / recover) passes the
        # union of live frames' pins as keep_live, so GC never deletes a
        # copy a registered reader is still streaming from
        out.__sneldb_pinned_live__ = live
        if set(stored.columns) == set(delta.columns):
            # identical column sets (the norm — one query shape wrote
            # both): parts stream safely under the union's schema. With
            # drift (allowMissingColumns filled nulls) skip the split —
            # correctness over the streaming micro-optimization.
            out.__sneldb_serve_parts__ = (
                stored.select(out.columns),
                delta.select(out.columns),
            )
        return out

    @staticmethod
    def _is_missing_file_err(e: Exception) -> bool:
        s = str(e)
        return (
            "FAILED_READ_FILE" in s
            or "FileNotFoundException" in s
            or "PATH_NOT_FOUND" in s
            or "does not exist" in s
        )

    def _pin_state_snapshot(self, name: str, manifest: dict, parts: list[str]):
        """(resolved state dir, lower, {part: pinned frame}) from ONE
        published state snapshot: one eager localCheckpoint of the
        partitioned state (one Spark job) serves every part — the serve
        frame must not reference state FILES a background fold's publish
        may GC before the frame is consumed — and each part selects its
        sidecar schema back off the checkpointed rows. A part that was
        empty at write time has no partition dir (its filter matches
        nothing); if EVERY part was empty there is nothing to read and
        each pin reconstructs from the sidecar schema. A concurrent
        fold's publish can flip the pointer and GC the copy we resolved
        mid-pin (gc_grace_versions=0 GCs immediately) — the documented
        reader contract is re-resolve and retry (docs/scale.md
        read-repair), which is exact here because marker and state
        re-read together: a newer snapshot means a larger lower and a
        correspondingly smaller delta."""
        spark = self.engine.spark
        last: Exception | None = None
        for _ in range(6):
            d = self._live(self._state_path(name))
            lower = self._published_lower(manifest, d)
            try:
                found = {}
                for p in parts:
                    found[p] = self._state_part_at(d, p)
                    if found[p] is None:
                        raise FileNotFoundError(
                            f"state part {p!r} does not exist under {d}"
                        )
                parts_dir = os.path.join(d, self._PARTS_SUBDIR)
                whole = None
                if os.path.isdir(parts_dir) and any(
                    e.startswith(f"{self._PART_COL}=")
                    for e in os.listdir(parts_dir)
                ):
                    whole = spark.read.parquet(parts_dir).localCheckpoint(
                        eager=True
                    )
                pins = {}
                for p, (stored, schema) in found.items():
                    pins[p] = (
                        spark.createDataFrame([], schema)
                        if whole is None
                        else whole.where(F.col(self._PART_COL) == stored).select(
                            *[f.name for f in schema.fields]
                        )
                    )
                return d, lower, pins
            except Exception as e:  # noqa: BLE001 — retry only read races
                if not self._is_missing_file_err(e):
                    raise
                last = e
        raise last

    def _published_lower(self, manifest: dict, marker_dir: str) -> tuple[int, int]:
        """max(manifest hwm, state marker) — the same recovery rule every
        refresh path applies. `marker_dir` must be the ALREADY-RESOLVED
        physical dir whose state files the caller reads, so marker and
        state always come from one immutable published snapshot."""
        lower = manifest["hwm_ts"], manifest["hwm_id"]
        marker = self._read_state_hwm(marker_dir)
        if marker is not None and tuple(marker) > tuple(lower):
            lower = tuple(marker)
        return lower

    def _serve_plain(self, q, path: str, lower, cur):
        """(serve frame, fold bundle). The delta slice is lazily
        localCheckpointed so the serve drain and the background fold
        SHARE one computation — the fold writes the same rows instead
        of re-running the slice (reference parity: one delta pipeline
        feeds both the stream and the persist,
        src/command/handlers/show/delta/refresher.rs)."""
        from sneldb_spark.plans.filters import hwm_at_or_before

        delta = self._delta_slice(
            self.engine.compiler.compile_query(q).where(hwm_at_or_before(*cur)),
            *lower,
        ).localCheckpoint(eager=False)
        serve = self._stored_union(path, lower, delta)
        return serve, {"lower": tuple(lower), "delta": delta}

    def _serve_chain(self, name: str, q, manifest: dict, path: str, cur):
        """(serve frame, fold bundle): the stepwise advance over pinned
        state ∪ delta is built once; completed chains serve immediately
        while the bundle gives the fold the SAME frames to persist
        (segment + next state) without a second advance."""
        n = len(q.sequence.event_types)
        _d, lower, pins = self._pin_state_snapshot(
            name, manifest, self._carry_parts(n)
        )
        chain, carry = self._chain_delta(q, lower, cur, pins)
        rows = self._chain_rows(q, chain)
        serve = self._stored_union(path, lower, rows)
        return serve, {"lower": tuple(lower), "rows": rows, "carry": carry}

    def _refresh_plain_segments(self, name: str, q, manifest: dict, path: str,
                                cur: tuple[int, int],
                                served: dict | None = None):
        """Fold body of a plain segment-layout materialization: the
        (lower, cur] slice into an interval segment + advance the
        marker. With a `served` bundle whose
        lower bound still matches the published one, the fold writes the
        serve path's checkpointed delta instead of re-running the slice."""
        from sneldb_spark.plans.filters import hwm_at_or_before

        lower = self._published_lower(manifest, path)
        if served is not None and tuple(served["lower"]) == tuple(lower):
            delta_df = served["delta"]
        else:
            delta_df = self._delta_slice(
                self.engine.compiler.compile_query(q).where(
                    hwm_at_or_before(*cur)
                ),
                *lower,
            )
        # deterministic interval name: a crashed refresh overwrites its
        # own segment; marker written after, so a crash between the two
        # just reruns the same idempotent slice
        seg = os.path.join(self._live(path), f"d_{lower[0]}_{lower[1]}")
        delta_df.write.mode("overwrite").parquet(seg)
        self._write_state_hwm(path, *cur)

    def _fold_and_commit(self, name: str, q, manifest: dict, path: str,
                         cur: tuple[int, int], refresh_fn, marker_dir: str,
                         served: dict | None = None):
        """Background-fold body: run the refresh, then commit the
        manifest hwm — the same ordering every synchronous refresh
        uses. Folds are
        serialized per name (one thread at a time), so re-reading the
        published lower here is authoritative: a SHOW that raced the
        previous fold's commit schedules a redundant fold, and this
        check turns it into a no-op instead of an idempotent re-run.

        `served` is the serve path's fold bundle (the already-built
        delta/match frames, lazily checkpointed): the refresh writes
        those rows instead of recomputing the slice. If the bundle's
        serve-time file listing outlived the source's GC grace window
        (event-store compaction between serve and fold), the write
        fails with a missing-file error and the fold falls back to a
        full recompute from fresh listings — every refresh is
        idempotent (interval-named segment overwrite + staged state),
        so the retry is safe at any failure point before the publish."""
        with open(self._manifest_path(name)) as f:
            m = json.load(f)
        if tuple(self._published_lower(m, marker_dir)) >= tuple(cur):
            return
        try:
            refresh_fn(name, q, m, path, cur, served)
        except Exception as e:  # noqa: BLE001 — retry only read races
            if served is None or not self._is_missing_file_err(e):
                raise
            refresh_fn(name, q, m, path, cur, None)
        m["hwm_ts"], m["hwm_id"] = cur
        self._write_manifest(name, m)
        lim = self.auto_compact_segments
        if lim is not None:
            try:
                live = self._live(path)
                n_seg = sum(
                    1 for d in os.listdir(live) if self._SEG_NAME.match(d)
                )
            except OSError:
                n_seg = 0
            if n_seg > lim:
                # compact() quiesces (self-aware: skips this thread) and
                # rewrites the interval layout into one base — bounds
                # the serve path's listing/footer cost at ~lim dirs.
                # Live serve frames keep their pinned pre-compact copy
                # through the publish (keep_live), so compacting under
                # a slow reader is safe.
                self.compact(name)

    def _serve_first(self, name: str, q, manifest: dict, path: str,
                     cur: tuple[int, int], shape: str) -> DataFrame:
        """Serve-then-refresh SHOW of the append-only segment shapes
        (reference parity: src/command/handlers/show/orchestrator.rs:
        123-170 — the StoredFrameStreamer spawns BEFORE the delta
        pipeline, so time-to-first-frame is a storage read, not a
        refresh): build the `stored ∪ delta` serve frame, schedule the
        background fold, and return the frame."""
        if shape == SEGMENTS:
            lower = self._published_lower(manifest, path)
            serve, bundle = self._serve_plain(q, path, lower, cur)
            refresh_fn, marker_dir = self._refresh_plain_segments, path
        else:
            serve, bundle = self._serve_chain(name, q, manifest, path, cur)
            refresh_fn, marker_dir = self._refresh_chain, self._state_path(name)
        self._register_serve(name, serve)
        self._schedule_fold(
            name,
            lambda: self._fold_and_commit(
                name, q, dict(manifest), path, cur, refresh_fn, marker_dir,
                bundle,
            ),
        )
        return serve

    def _load(self, name: str):
        """(manifest, command) of a materialization."""
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        if manifest["query"].get("compare"):
            return manifest, compare_from_json(manifest["query"])
        return manifest, query_from_json(manifest["query"])

    def _refuse_engine_mismatch(self, name: str, manifest: dict) -> None:
        """Raise before any write when this engine cannot refresh what
        REMEMBER stored: a chain needs multi_link to match (without it a
        refresh would replace the stored chains with the reference's
        empty frame), and COUNT UNIQUE state is a value set or a sketch
        by approx_count_unique (merging one into the other fails)."""
        steps = manifest.get("chain_steps", 2)
        if steps > 2 and not self.engine.compiler.multi_link:
            raise MaterializationError(
                f"materialization '{name}' is a {steps}-step chain; SHOW "
                "needs an engine opened with multi_link=True"
            )
        approx = manifest.get("approx_count_unique")
        if approx is not None and approx != self.engine.compiler.approx_count_unique:
            raise MaterializationError(
                f"materialization '{name}' keeps COUNT UNIQUE state for "
                f"approx_count_unique={approx}; SHOW needs an engine opened "
                f"with approx_count_unique={approx}"
            )

    def show(self, name: str) -> DataFrame:
        manifest, q = self._load(name)
        self._refuse_engine_mismatch(name, manifest)
        shape = shape_of(manifest)
        path = os.path.join(self._dir(name), "data")
        if shape == PARTIAL:
            state_dirs = [d for _s, d, _sub, _k in self._partial_sides(name, q, manifest)]
        else:
            state_dirs = [self._state_path(name)] if shape == SEQUENCE else []
        # Recovery repairs a CRASHED publish — but an in-flight
        # background fold is legitimately staging the next data/state
        # version right now (the fold thread also runs auto-compaction's
        # staged base rewrite), and recover_dir racing it is the exact
        # deleted-staging-mid-write failure the storage layer now guards
        # against structurally. Skip ALL recovery while a fold is alive;
        # a live fold implies no crash, and a genuinely crashed fold
        # leaves no live thread, so the next SHOW recovers as before.
        # The check and the recover calls run UNDER _fold_lock:
        # _schedule_fold registers-and-starts the thread under the same
        # lock, so a concurrent SHOW cannot slip a new fold between our
        # check and our recover (the check-then-act race) — either the
        # fold is already alive (we skip) or its scheduling waits for
        # us. keep_live: recovery GC must spare copies live serve frames
        # pinned.
        with self._fold_lock:
            if not self._fold_in_flight(name):
                self.storage.recover_dir(
                    path, keep_live=self._pinned_lives(name)
                )
                for d in state_dirs:
                    self.storage.recover_dir(d)
        cur = self._source_hwm(q)
        if cur != (manifest["hwm_ts"], manifest["hwm_id"]):
            if shape in (SEGMENTS, SEQUENCE):
                return self._serve_first(name, q, manifest, path, cur, shape)
            if shape == PARTIAL:
                self._refresh_partial(name, q, manifest, path, cur)
            elif shape == RETAINED:
                # merge the delta into the stored rows and re-apply
                # retention (it must see the whole result)
                delta_df = self._delta_slice(
                    self.engine.compiler.compile_query(q),
                    manifest["hwm_ts"], manifest["hwm_id"],
                )
                stored = self.engine.spark.read.parquet(self._live(path))
                self._swap_in(
                    self._apply_retention(
                        stored.unionByName(delta_df).dropDuplicates(["event_id"]),
                        manifest,
                    ),
                    path,
                )
            else:
                # closed at the already-probed mark: the stored rows and
                # the recorded hwm always describe the same snapshot
                self._swap_in(self._recomputed(q, manifest, cur), path)
            manifest["hwm_ts"], manifest["hwm_id"] = cur
            self._write_manifest(name, manifest)
        if shape in (SEGMENTS, SEQUENCE):
            return self._read_segments(path)
        return self.engine.spark.read.parquet(self._live(path))

    # -- lifecycle ---------------------------------------------------------
    def names(self) -> list[str]:
        """All materialization names (sorted; manifest presence is what
        makes a directory a materialization)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n for n in os.listdir(self.root)
            if os.path.exists(self._manifest_path(n))
        )

    def describe(self, name: str) -> dict:
        """Manifest summary + current staleness (metadata-cheap: the
        source probe reads Parquet footers and the memtable, no Spark
        job). `kind` is what the query returns; `refresh` is how a stale
        SHOW brings it up to date."""
        manifest, q = self._load(name)
        cur = self._source_hwm(q)
        return {
            "name": name,
            "kind": (
                "compare" if isinstance(q, ast.CompareCommand)
                else "sequence" if q.is_sequence
                else "aggregate" if q.is_aggregate
                else "events"
            ),
            "refresh": (
                "recompute" if shape_of(manifest) == RECOMPUTE else "incremental"
            ),
            "hwm_ts": manifest["hwm_ts"],
            "hwm_id": manifest["hwm_id"],
            "stale": tuple(cur) != (manifest["hwm_ts"], manifest["hwm_id"]),
            "fold_in_flight": (
                (t := self._fold_threads.get(name)) is not None and t.is_alive()
            ),
            "fold_errors": sum(1 for n, _ in self.fold_errors if n == name),
        }

    def forget(self, name: str):
        """Drop a materialization: result data, partial state, manifest.
        (Extension — the reference keeps materializations until restart
        config changes; a managed store needs an explicit drop.)"""
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        # a background fold writing into a tree being deleted would
        # resurrect directories (its manifest commit recreates exists())
        self.quiesce(name)
        self.storage.remove_tree(self._dir(name))

    def compact(self, name: str):
        """Rewrite an append-only segment layout (event-shaped plain or
        sequence materializations) into a single fresh base segment.

        Refreshes keep IO delta-scale by appending interval segments and
        never touching history — the cost is file-count growth, one
        directory per refresh. Compaction is the S7 analogue for results:
        read everything once, rewrite as `base`, drop the consumed
        intervals. Result rows are unchanged (the reader unions segments
        either way); the consumed-hwm marker is preserved so refresh
        bookkeeping is untouched. No-op for state-merged (aggregate /
        compare) materializations — their result is already one compact
        group-count-sized table.

        Slow-reader contract: compaction never DEFERS for readers — it
        runs on cadence and passes the live serve frames' pinned copy
        paths as `keep_live` to publish_dir, so GC spares every copy a
        registered reader is still streaming from regardless of
        `gc_grace_versions` (keep-live pinning; _fold_and_commit's
        auto-compact path does the same). The grace window only covers
        UNREGISTERED readers (a plain `db.df()` escape-hatch frame, an
        external process listing the prefix): those survive
        `gc_grace_versions` further publishes, no more — size that knob
        to cover their maximum drain time times the publish cadence, or
        re-resolve and retry on FAILED_READ_FILE (docs/scale.md
        read-repair). Note the local rename-based backend cannot honor
        keep_live at all (single-process, no-concurrent-reader by
        contract — see Storage.publish_dir)."""
        manifest, _q = self._load(name)
        if shape_of(manifest) not in (SEGMENTS, SEQUENCE):
            return
        # compaction rewrites the segment layout a fold appends into —
        # let any in-flight fold land first (errors stay recorded for
        # the owner's quiesce to surface)
        self.quiesce(name, drain=False)
        path = os.path.join(self._dir(name), "data")
        self.storage.recover_dir(path, keep_live=self._pinned_lives(name))
        marker = self._read_state_hwm(path)
        merged = self._read_segments(path)
        # staged rewrite + publish: the previous segment layout stays
        # readable until the compacted copy is complete, and a crash at
        # any step leaves at least one readable copy (recover_dir in
        # show() repairs the pointer) — rmtree-before-rename would have
        # a window with zero copies.
        staging = self.storage.stage_path(path)
        self.storage.remove_tree(staging)
        merged.write.mode("overwrite").parquet(os.path.join(staging, "base"))
        # completeness guard (defense in depth behind the storage-level
        # never-GC-above-the-pointer rule): if anything deleted staged
        # files mid-write, ABORT — publishing a base-less copy silently
        # truncates the materialization's entire history (the failure
        # the r11 soak caught). The un-published staging is reclaimed by
        # the next publish; the live layout stays intact and the next
        # auto-compact retries.
        had_rows = any(True for _ in self.storage.walk_parquet(path))
        staged_ok = any(
            True
            for f in self.storage.walk_parquet(os.path.join(staging, "base"))
        )
        if had_rows and not staged_ok:
            raise MaterializationError(
                f"compaction staging for '{name}' lost its rewritten base "
                "mid-write (concurrent GC?); aborting publish — the live "
                "segment layout is untouched"
            )
        if marker is not None:
            self._write_state_hwm(staging, *marker)
        # keep_live: copies pinned by live serve frames survive this
        # publish's GC — a slow reader drains its exact snapshot even
        # across multiple compaction cycles
        self.storage.publish_dir(path, keep_live=self._pinned_lives(name))
