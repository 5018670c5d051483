"""REMEMBER / SHOW: materialized query results with incremental refresh.

Mirrors the reference's materialization design (reference:
src/engine/materialize/, src/command/handlers/show/delta/): a stored result
plus a high-water mark `(timestamp, event_id)` over the *source* events.

- `REMEMBER <query> AS name` runs the query, persists the result as
  Parquet, and records the high-water mark of the scanned source. For a
  plain aggregate query it ALSO persists mergeable per-group partial
  state (see plans/aggregates.py).
- `SHOW name` refreshes first: for non-aggregate queries only the delta
  (`ts > hwm OR (ts = hwm AND id > hwm_id)`) is scanned, appended, and
  deduped by event_id — at 100 TB this is the difference between an
  incremental touch-up and a full rescan. Plain aggregate queries merge
  a delta partial aggregate into the stored state (reference:
  src/command/handlers/show/delta/refresher.rs) — a delta scan plus a
  state-sized shuffle, never a history rescan. Sequence results (one
  link or a chain, events or aggregates) advance a stepwise match over
  small carried per-step state plus the delta. Group-LIMIT aggregates
  (where new rows can change WHICH groups qualify) recompute when (and
  only when) the high-water mark moved.
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

    def _parallel_writes(self, *thunks) -> None:
        """Run independent write actions concurrently (each is a Spark
        job; actions are only sequential because the driver calls them
        sequentially — overlapping them back-fills the tail of one job
        with the next one's tasks). Callers pass writes that are
        mutually independent AND whose shared inputs are already
        materialized (persisted / checkpointed / written), so no input
        is computed twice. Worker threads re-tag the caller's scheduler
        pool (local properties are per-thread). First exception wins;
        all writes are awaited either way so a failure never leaves a
        stray in-flight job writing into a directory the caller is
        about to clean up."""
        thunks = [t for t in thunks if t is not None]
        if len(thunks) <= 1:
            for t in thunks:
                t()
            return
        from concurrent.futures import ThreadPoolExecutor

        from sneldb_spark.session import set_scheduler_pool

        try:
            pool = self.engine.spark.sparkContext.getLocalProperty(
                "spark.scheduler.pool"
            )
        except Exception:  # Spark Connect: server-side scheduling
            pool = None

        def run(t):
            if pool is not None:
                set_scheduler_pool(self.engine.spark, pool)
            t()

        with ThreadPoolExecutor(
            max_workers=min(4, len(thunks)),
            thread_name_prefix="sneldb-mat-write",
        ) as ex:
            errs = [f.exception() for f in [ex.submit(run, t) for t in thunks]]
        first = next((e for e in errs if e is not None), None)
        if first is not None:
            raise first

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

    def _incrementable(self, q) -> bool:
        return (
            isinstance(q, ast.QueryCommand)
            and not q.is_aggregate
            and not q.is_sequence
            and q.limit is None
        )

    def _compare_incrementable(self, c, manifest: dict) -> bool:
        """A remembered COMPARE refreshes incrementally when every side is
        a plain (non-sequence, uncapped) aggregate — each side then keeps
        its own mergeable partial state, exactly like a standalone
        aggregate REMEMBER, and only the full-outer side merge re-runs
        (group-count-sized, not scan-sized)."""
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            isinstance(c, ast.CompareCommand)
            and len(c.queries) > 0
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
            and all(
                s.is_aggregate
                and not s.is_sequence
                and s.limit is None
                and s.offset is None
                for s in c.queries
            )
            # exact percentiles merge (value-multiset state); the approx
            # sketch doesn't — route those to full recompute
            and not (
                self.engine.compiler.approx_percentiles
                and any(
                    is_percentile(a.op) for s in c.queries for a in s.aggs
                )
            )
        )

    def _sequence_incrementable(self, q, manifest: dict) -> bool:
        """Whether a sequence materialization (events or aggregates, one
        link or a chain) refreshes by stepwise delta match against
        carried per-step state — one predicate for every step count, a
        single link being a 2-step chain. Each step carries what a future
        delta event can still reach (see _chain_advance). Chains take
        FOLLOWED BY links only (and need multi_link); a single link may
        also be PRECEDED BY. WITHIN is delta-safe: the stepwise match
        runs UNFILTERED (an advance with a too-wide gap still consumes
        the step) and every adjacent gap filters at emission only.
        ORDER BY without LIMIT is accepted: segment layouts serve rows in
        no fixed order, as plain ORDER BY materializations always have.
        Excluded: USING TIME (a user field is not append-ordered, so 'new
        events have the highest ts' would not hold), LIMIT/OFFSET (a
        delta chain could displace a stored one), retention options and
        the approx-percentile sketch (no merge)."""
        from sneldb_spark.commands.ast import FOLLOWED_BY
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            isinstance(q, ast.QueryCommand)
            and q.is_sequence
            and (
                len(q.sequence.links) == 1
                or self.engine.compiler.multi_link
                and all(k == FOLLOWED_BY for k, _ in q.sequence.links)
            )
            and q.limit is None
            and q.offset is None
            and q.sequence_time_field is None
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
            and not (
                q.is_aggregate
                and self.engine.compiler.approx_percentiles
                and any(is_percentile(a.op) for a in q.aggs)
            )
        )

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

    def _state_part_exists_at(self, d: str, part: str) -> bool:
        return self._state_part_at(d, part) is not None

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

    def _seq_agg_partial(self, q, chain: DataFrame):
        """Mergeable per-group state over WITHIN-filtered chains."""
        return self.engine.compiler.compile_chain_aggregate_partial(
            q, self._within_chain(q, chain)
        )

    def _remember_chain(self, name: str, q, manifest: dict,
                        path: str) -> tuple[int, int]:
        """Initial sequence materialization, any step count: the
        stepwise match once over frames CLOSED at the probed mark (a row
        racing in lands in the next delta exactly once), persisted per
        step for the duration. Events store the completed chains as the
        segment base; aggregates store mergeable partial state and derive
        the visible result from its finalize — the one-estimator rule
        every aggregate materialization follows. Both carry the per-step
        state."""
        from sneldb_spark.plans.aggregates import finalize_partial_state

        hwm = self._pin_snapshot(q)
        parts = self.engine.compiler.chain_parts(q, upper=hwm)
        chains, carry = self._chain_advance(q, parts, DataFrame.persist, hwm[0])
        state_dir = self._state_path(name)
        try:
            if not q.is_aggregate:
                # base FIRST: it materializes every persisted step, so
                # the carry write below is a pure cached-read job
                self._chain_rows(q, chains[-1]).write.mode("overwrite").parquet(
                    os.path.join(path, "base")
                )
                self._write_carry(state_dir, carry, hwm)
                return hwm
            approx = self.engine.compiler.approx_count_unique
            state, keys = self._seq_agg_partial(q, chains[-1])
            spath = self._seq_agg_state_path(name)
            # Materialize the agg state ONCE (eager localCheckpoint — this
            # also materializes the persisted steps), then run the state
            # write, the finalize write and the carry write concurrently:
            # every write consumes already-materialized rows, and finalize
            # reads the rows the state dir holds without a read-back leg.
            state_ck = state.localCheckpoint(eager=True)
            manifest["state_keys"] = keys
            self._parallel_writes(
                lambda: state_ck.write.mode("overwrite").parquet(spath),
                lambda: finalize_partial_state(
                    state_ck, q.aggs, keys, approx_unique=approx
                ).write.mode("overwrite").parquet(path),
                lambda: self._write_carry(state_dir, carry, hwm),
            )
            return hwm
        finally:
            for c in chains:
                c.unpersist()

    def _chain_delta(self, q, lower, cur, state):
        """The stepwise delta advance over carried `state` (published
        reads on the fold and aggregate paths, pinned snapshots on the
        serve path) ∪ the (lower, cur] slice. Each link's output is lazily
        localCheckpointed: it feeds the next link, the pending anti-join
        AND, for the last link, the served rows and the fold's writes —
        one computation for all. Returns (completed chains, carry state
        at cur)."""
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

    def _refresh_chain_agg(self, name: str, q, manifest: dict, path: str,
                           cur: tuple[int, int]):
        """Incremental sequence-AGGREGATE refresh: partial-aggregate only
        the delta's completed (window-filtered) chains, merge into the
        stored per-group state, finalize — plus the per-step carry swap.
        Exact because completed chains are append-only (one emission per
        head) and every aggregate op merges over disjoint row sets. The
        visible result replaces before the state publish, so a crash in
        between reruns the same delta against the OLD state
        idempotently; the in-state marker keeps a crash after the state
        publish from re-merging."""
        from sneldb_spark.plans.aggregates import (
            finalize_partial_state,
            merge_partial_states,
        )

        keys = manifest["state_keys"]
        approx = self.engine.compiler.approx_count_unique
        state = self._state_path(name)
        lower = self._published_lower(manifest, self._live(state))
        chain, carry = self._chain_delta(
            q, lower, cur, self._read_carry(name, len(q.sequence.event_types))
        )
        delta_state, _ = self._seq_agg_partial(q, chain)
        merged = merge_partial_states(
            self.engine.spark.read.parquet(self._seq_agg_state_path(name))
            .unionByName(delta_state, allowMissingColumns=True),
            q.aggs, keys, approx_unique=approx,
        )
        nxt = self.storage.stage_path(state)
        self.storage.remove_tree(nxt)
        nxt_agg = os.path.join(nxt, "agg_state")
        # materialize the merge ONCE (eager localCheckpoint — this also
        # materializes the stepwise-advance checkpoints the carry state
        # reads), then stage the merged state, its finalize, and the
        # carry state concurrently; the state dir and the result derive
        # from the same materialized rows (one-estimator rule), and
        # nothing is visible until the publishes below
        merged_ck = merged.localCheckpoint(eager=True)
        final = finalize_partial_state(merged_ck, q.aggs, keys, approx_unique=approx)
        self._parallel_writes(
            lambda: merged_ck.write.mode("overwrite").parquet(nxt_agg),
            lambda: final.write.mode("overwrite").parquet(
                self.storage.stage_path(path)
            ),
            lambda: self._write_carry(nxt, carry, cur),
        )
        self.storage.publish_dir(path)
        # state publish AFTER the data replace: a promoted new state must
        # imply the visible result already reflects the merged aggregate
        self.storage.publish_dir(state)

    def _agg_incrementable(self, q, manifest: dict) -> bool:
        """Plain aggregates refresh by partial-state merge. Excluded:
        sequence aggregates (the match itself isn't mergeable), LIMIT
        (caps *groups*; a delta could add groups that should compete),
        and retention options (they filter event-shaped rows, not
        groups)."""
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            isinstance(q, ast.QueryCommand)
            and q.is_aggregate
            and not q.is_sequence
            and q.limit is None
            and q.offset is None
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
            # exact percentiles carry a mergeable value-multiset state;
            # the approx sketch exposes no merge — full recompute there
            and not (
                self.engine.compiler.approx_percentiles
                and any(is_percentile(a.op) for a in q.aggs)
            )
        )

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

    def _seq_agg_state_path(self, name: str) -> str:
        return os.path.join(self._live(self._state_path(name)), "agg_state")

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
        manifest = {
            "name": name,
            "query": compare_to_json(q) if is_compare else query_to_json(q),
            "hwm_ts": -1,
            "hwm_id": -1,
            "max_rows": max_rows,
            "max_age_seconds": max_age_seconds,
        }
        path = os.path.join(self._dir(name), "data")
        if is_compare:
            if self._compare_incrementable(q, manifest):
                # manifest hwm = the mark the side reads were closed at,
                # so rows racing in mid-materialization land in the next
                # delta exactly once
                hwm_ts, hwm_id = self._remember_compare(name, q, manifest, path)
            else:
                # probe FIRST, compile with the read closed at the probed
                # mark: a row racing in after the probe is excluded from
                # this result and lands in the next refresh exactly once —
                # probing after the write would record it as consumed
                # while it is absent from the stored rows.
                hwm_ts, hwm_id = self._pin_snapshot(q)
                self._apply_retention(
                    self.engine.compiler.compile(q, upper=(hwm_ts, hwm_id)),
                    manifest,
                ).write.mode("overwrite").parquet(path)
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self.engine.spark.read.parquet(path).count()
        if q.is_sequence and (
            len(q.sequence.links) == 1 or self.engine.compiler.multi_link
        ):
            # the step count this engine matched: SHOW on an engine that
            # cannot match as many refuses instead of recomputing empty
            manifest["chain_steps"] = len(q.sequence.event_types)
        if self._agg_incrementable(q, manifest):
            # Materialize the RESULT from the partial state's finalize so
            # the remembered values and every later state-merge refresh go
            # through the one estimator — with approx COUNT UNIQUE the
            # query path (approx_count_distinct) and the sketch estimate
            # differ slightly, and a refresh must never silently change
            # which one the user is looking at.
            from sneldb_spark.plans.aggregates import finalize_partial_state

            approx = self.engine.compiler.approx_count_unique
            hwm = self._pin_snapshot(q)
            # read closed at the probed mark: a row racing in lands in
            # the next delta exactly once, never in both
            state, keys = self.engine.compiler.compile_aggregate_partial(
                q, upper=hwm
            )
            # Materialize the partial state ONCE (eager localCheckpoint),
            # then write the state dir and the finalized result
            # concurrently — both writes consume the same materialized
            # rows, so the one-estimator rule holds exactly as it did
            # when finalize re-read the just-written state files, without
            # the sequential write -> read-back -> write chain (two extra
            # scheduler turnarounds on tiny grouped state).
            state_ck = state.localCheckpoint(eager=True)
            manifest["state_keys"] = keys

            def _write_agg_state():
                state_ck.write.mode("overwrite").parquet(
                    self._state_path(name)
                )
                self._write_state_hwm(self._state_path(name), *hwm)

            self._parallel_writes(
                _write_agg_state,
                lambda: finalize_partial_state(
                    state_ck, q.aggs, keys, approx_unique=approx
                ).write.mode("overwrite").parquet(path),
            )
            manifest["hwm_ts"], manifest["hwm_id"] = hwm
            self._write_manifest(name, manifest)
            return self.engine.spark.read.parquet(path).count()
        elif self._incrementable(q) and max_rows is None and max_age_seconds is None:
            # retention-free event materializations use the append-only
            # segment layout from day one: REMEMBER writes data/base with
            # the read closed at the probed mark, every refresh appends an
            # interval segment, and a marker file inside data/ carries the
            # consumed hwm (no multi-part state, so no swap machinery).
            from sneldb_spark.plans.filters import hwm_at_or_before

            hwm_ts, hwm_id = self._pin_snapshot(q)
            base = self.engine.compiler.compile_query(q).where(
                hwm_at_or_before(hwm_ts, hwm_id)
            )
            base.write.mode("overwrite").parquet(os.path.join(path, "base"))
            self._write_state_hwm(path, hwm_ts, hwm_id)
            manifest["segments"] = True
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self._read_segments(path).count()
        elif self._sequence_incrementable(q, manifest):
            hwm_ts, hwm_id = self._remember_chain(name, q, manifest, path)
            manifest["seq_state"] = True
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            if q.is_aggregate:
                return self.engine.spark.read.parquet(path).count()
            return self._read_segments(path).count()
        else:
            # same probe-then-closed-read ordering as the COMPARE branch
            hwm_ts, hwm_id = self._pin_snapshot(q)
            df = self._apply_retention(
                self.engine.compiler.compile_query(q, upper=(hwm_ts, hwm_id)),
                manifest,
            )
            df.write.mode("overwrite").parquet(path)
        manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
        self._write_manifest(name, manifest)
        return self.engine.spark.read.parquet(path).count()

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

    def _swap_in_with_marker(self, df: DataFrame, path: str, mark: tuple[int, int]):
        """_swap_in plus a consumed-hwm marker written INSIDE the new
        directory before the rename, so state and its mark move
        atomically — a crash right after the swap leaves a state that
        self-describes how far it has merged (the refresh reads the
        marker in preference to a stale manifest and never re-merges the
        same delta)."""
        staging = self.storage.stage_path(path)
        df.write.mode("overwrite").parquet(staging)
        self._write_state_hwm(staging, *mark)
        self.storage.publish_dir(path)

    def _merge_state_delta(
        self,
        spath: str,
        q: ast.QueryCommand,
        keys: list[str],
        lower: tuple[int, int],
        cur: tuple[int, int],
    ):
        """Merge the (lower, cur] delta of one aggregate query into the
        partial state stored at `spath`. The state's own hwm marker wins
        over the caller's lower bound (a crash between state swap and
        manifest write must not double-merge), and the read is closed at
        `cur` so a row racing in mid-refresh is consumed exactly once by
        the next delta."""
        from sneldb_spark.plans.aggregates import merge_partial_states

        marker = self._read_state_hwm(spath)
        if marker is not None and tuple(marker) > tuple(lower):
            lower = tuple(marker)
        if tuple(lower) >= tuple(cur):
            return
        delta, _ = self.engine.compiler.compile_aggregate_partial(
            q, hwm=lower, upper=cur
        )
        stored = self.engine.spark.read.parquet(self._live(spath))
        merged = merge_partial_states(
            stored.unionByName(delta), q.aggs, keys,
            approx_unique=self.engine.compiler.approx_count_unique,
        )
        self._swap_in_with_marker(merged, spath, cur)

    def _refresh_agg(self, name: str, q, manifest: dict, path: str,
                     cur: tuple[int, int]):
        """Incremental plain-aggregate SHOW: aggregate ONLY the rows past
        the high-water mark (the delta scan's hwm predicate reaches the
        Parquet scan, pushdown-tested), merge into the stored per-group
        state, and finalize. The state write and the result write both
        consume ONE materialized merge (eager localCheckpoint), so the
        one-estimator rule holds exactly as it did when finalize re-read
        the just-swapped state files — minus two sequential scheduler
        turnarounds. The state's own hwm marker wins over the manifest
        (a crash between state publish and manifest write must not
        double-merge), and the read is closed at `cur` so a row racing
        in mid-refresh is consumed exactly once by the next delta."""
        from sneldb_spark.plans.aggregates import (
            finalize_partial_state,
            merge_partial_states,
        )

        approx = self.engine.compiler.approx_count_unique
        keys = manifest["state_keys"]
        spath = self._state_path(name)
        lower = (manifest["hwm_ts"], manifest["hwm_id"])
        marker = self._read_state_hwm(spath)
        if marker is not None and tuple(marker) > tuple(lower):
            lower = tuple(marker)
        if tuple(lower) >= tuple(cur):
            # state already covers cur (crash between state publish and
            # manifest write): rebuild the visible result from the
            # stored state without re-merging
            self._swap_in(
                finalize_partial_state(
                    self.engine.spark.read.parquet(self._live(spath)),
                    q.aggs, keys, approx_unique=approx,
                ),
                path,
            )
            return
        delta, _ = self.engine.compiler.compile_aggregate_partial(
            q, hwm=lower, upper=cur
        )
        stored = self.engine.spark.read.parquet(self._live(spath))
        merged_ck = merge_partial_states(
            stored.unionByName(delta), q.aggs, keys, approx_unique=approx
        ).localCheckpoint(eager=True)
        sstage = self.storage.stage_path(spath)

        def _write_state():
            merged_ck.write.mode("overwrite").parquet(sstage)
            self._write_state_hwm(sstage, *cur)

        self._parallel_writes(
            _write_state,
            lambda: finalize_partial_state(
                merged_ck, q.aggs, keys, approx_unique=approx
            ).write.mode("overwrite").parquet(self.storage.stage_path(path)),
        )
        # same publish order as the previous sequential form: state
        # (with its marker) first, then the visible result — a crash in
        # between leaves marker > manifest hwm, which the next refresh
        # resolves via the early branch above
        self.storage.publish_dir(spath)
        self.storage.publish_dir(path)

    # -- COMPARE materialization (extension) -------------------------------
    def _compare_state_dir(self, name: str, i: int) -> str:
        return os.path.join(self._dir(name), "cstate", f"side_{i}")

    def _remember_compare(self, name: str, c, manifest: dict,
                          path: str) -> tuple[int, int]:
        """Initial COMPARE materialization: one mergeable partial state
        PER SIDE (each side is a plain aggregate), reads closed at the
        probed high-water mark, visible result derived from the states'
        finalize + the same full-outer side merge a direct COMPARE
        compiles — so a refresh and a fresh run go through one estimator
        and one merge implementation."""
        from sneldb_spark.plans.aggregates import finalize_partial_state
        from sneldb_spark.plans.compare import merge_sides, side_labels

        approx = self.engine.compiler.approx_count_unique
        labels = side_labels(c.queries, c.labels)
        hwm = self._pin_snapshot(c)
        keys_list, sps, writes = [], [], []
        for i, s in enumerate(c.queries):
            state, keys = self.engine.compiler.compile_aggregate_partial(
                s, upper=hwm
            )
            sp = self._compare_state_dir(name, i)

            def write_side(state=state, sp=sp):
                state.write.mode("overwrite").parquet(sp)
                self._write_state_hwm(sp, *hwm)

            writes.append(write_side)
            keys_list.append(keys)
            sps.append(sp)
        # each side's state write scans only ITS source slice — mutually
        # independent jobs, run together; the finalize frames are built
        # (and the merged result written) off the committed states after
        self._parallel_writes(*writes)
        finals = [
            finalize_partial_state(
                self.engine.spark.read.parquet(sp), s.aggs, keys,
                approx_unique=approx,
            )
            for s, keys, sp in zip(c.queries, keys_list, sps)
        ]
        merge_sides(c.queries, labels, finals).write.mode("overwrite").parquet(path)
        manifest["compare_state_keys"] = keys_list
        return hwm

    def _refresh_compare(self, name: str, c, manifest: dict, path: str,
                         cur: tuple[int, int]):
        """Incremental COMPARE SHOW: each side merges only ITS delta into
        its stored partial state (per-side hwm markers make a mid-refresh
        crash resumable without double-merging), then the group-count-
        sized side merge re-runs — the sources are never rescanned."""
        from sneldb_spark.plans.aggregates import finalize_partial_state
        from sneldb_spark.plans.compare import merge_sides, side_labels

        approx = self.engine.compiler.approx_count_unique
        labels = side_labels(c.queries, c.labels)
        lower = (manifest["hwm_ts"], manifest["hwm_id"])
        # each side merges only ITS delta into ITS state dir (write +
        # per-side publish, fully self-contained) — independent jobs,
        # run together; the side merge reads the published states after
        self._parallel_writes(*[
            (lambda i=i, s=s: self._merge_state_delta(
                self._compare_state_dir(name, i),
                s, manifest["compare_state_keys"][i], lower, cur,
            ))
            for i, s in enumerate(c.queries)
        ])
        finals = [
            finalize_partial_state(
                self.engine.spark.read.parquet(
                    self._live(self._compare_state_dir(name, i))
                ),
                s.aggs, manifest["compare_state_keys"][i],
                approx_unique=approx,
            )
            for i, s in enumerate(c.queries)
        ]
        self._swap_in(merge_sides(c.queries, labels, finals), path)

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

    def _try_serve_first(self, name: str, q, manifest: dict, path: str,
                         cur: tuple[int, int]):
        """Serve-then-refresh SHOW (reference parity:
        src/command/handlers/show/orchestrator.rs:123-170 — the
        StoredFrameStreamer spawns BEFORE the delta pipeline, so
        time-to-first-frame is a storage read, not a refresh). For the
        append-only segment shapes (plain and sequence event results)
        build the `stored ∪ delta` serve frame, schedule the background
        fold, and return the frame. None routes the caller to the
        synchronous ladder: aggregate/COMPARE results are a state MERGE,
        not an append, so there is no stored-first stream to serve."""
        if self._incrementable(q) and manifest.get("segments"):
            lower = self._published_lower(manifest, path)
            serve, bundle = self._serve_plain(q, path, lower, cur)
            refresh_fn, marker_dir = self._refresh_plain_segments, path
        elif (
            manifest.get("seq_state")
            and manifest.get("state_keys") is None
            and self._sequence_incrementable(q, manifest)
            and self._state_part_exists_at(
                self._live(self._state_path(name)), "pending_s0"
            )
        ):
            serve, bundle = self._serve_chain(name, q, manifest, path, cur)
            refresh_fn, marker_dir = self._refresh_chain, self._state_path(name)
        else:
            return None
        self._register_serve(name, serve)
        self._schedule_fold(
            name,
            lambda: self._fold_and_commit(
                name, q, dict(manifest), path, cur, refresh_fn, marker_dir,
                bundle,
            ),
        )
        return serve

    def show(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        if manifest["query"].get("compare"):
            q = compare_from_json(manifest["query"])
        else:
            q = query_from_json(manifest["query"])
        steps = manifest.get("chain_steps", 2)
        if steps > 2 and not self.engine.compiler.multi_link:
            # without multi_link a chain compiles to the reference's empty
            # frame: any refresh would replace the stored chains with it
            raise MaterializationError(
                f"materialization '{name}' is a {steps}-step chain; SHOW "
                "needs an engine opened with multi_link=True"
            )
        path = os.path.join(self._dir(name), "data")
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
                if manifest.get("state_keys") is not None or manifest.get(
                    "seq_state"
                ):
                    self.storage.recover_dir(self._state_path(name))
                if manifest.get("compare_state_keys") is not None:
                    for i in range(len(manifest["compare_state_keys"])):
                        self.storage.recover_dir(
                            self._compare_state_dir(name, i)
                        )
        cur_ts, cur_id = self._source_hwm(q)
        stale = (cur_ts, cur_id) != (manifest["hwm_ts"], manifest["hwm_id"])

        if stale:
            served = self._try_serve_first(
                name, q, manifest, path, (cur_ts, cur_id)
            )
            if served is not None:
                return served

        if stale and self._incrementable(q):
            # retention-capped plain layout (segment layouts are served
            # above): merge the delta into the stored rows and re-apply
            # retention
            delta_df = self._delta_slice(
                self.engine.compiler.compile_query(q),
                manifest["hwm_ts"], manifest["hwm_id"],
            )
            stored = self.engine.spark.read.parquet(self._live(path))
            merged = self._apply_retention(
                stored.unionByName(delta_df).dropDuplicates(["event_id"]), manifest
            )
            self._swap_in(merged, path)
        elif stale and self._sequence_incrementable(q, manifest) and manifest.get(
            "seq_state"
        ) and manifest.get("state_keys") is not None and os.path.exists(
            self._seq_agg_state_path(name)
        ) and self._state_part_exists_at(
            self._live(self._state_path(name)), "pending_s0"
        ):
            self._refresh_chain_agg(name, q, manifest, path, (cur_ts, cur_id))
        elif stale and self._agg_incrementable(q, manifest) and manifest.get(
            "state_keys"
        ) is not None and self.storage.exists(self._state_path(name)):
            self._refresh_agg(name, q, manifest, path, (cur_ts, cur_id))
        elif stale and self._compare_incrementable(q, manifest) and manifest.get(
            "compare_state_keys"
        ) is not None and self.storage.exists(self._compare_state_dir(name, 0)):
            self._refresh_compare(name, q, manifest, path, (cur_ts, cur_id))
        elif stale:
            # closed at the already-probed mark: the stored rows and the
            # recorded hwm always describe the same snapshot
            df = self._apply_retention(
                self.engine.compiler.compile(q, upper=(cur_ts, cur_id)), manifest
            )
            self._swap_in(df, path)

        if stale:
            manifest["hwm_ts"], manifest["hwm_id"] = cur_ts, cur_id
            self._write_manifest(name, manifest)
        if manifest.get("segments") or (
            manifest.get("seq_state") and manifest.get("state_keys") is None
        ):
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
        job)."""
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        if manifest["query"].get("compare"):
            q = compare_from_json(manifest["query"])
        else:
            q = query_from_json(manifest["query"])
        cur = self._source_hwm(q)
        return {
            "name": name,
            "kind": (
                "compare" if manifest["query"].get("compare")
                else "sequence" if manifest.get("seq_state")
                else "aggregate" if manifest.get("state_keys") is not None
                else "events"
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
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        # compaction rewrites the segment layout a fold appends into —
        # let any in-flight fold land first (errors stay recorded for
        # the owner's quiesce to surface)
        self.quiesce(name, drain=False)
        path = os.path.join(self._dir(name), "data")
        self.storage.recover_dir(path, keep_live=self._pinned_lives(name))
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        segmented = manifest.get("segments") or (
            manifest.get("seq_state") and manifest.get("state_keys") is None
        )
        if not segmented:
            return
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
