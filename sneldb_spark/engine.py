"""SnelDB facade: execute command text against the Spark-backed engine.

The equivalent of the reference's dispatcher + handlers
(reference: src/command/dispatcher.rs:30-69) — parse, route, and run.
Results carry a DataFrame for read commands so callers stay lazy/distributed;
nothing here collects to the driver.

When an :class:`AuthManager` is attached: STORE needs write permission,
QUERY/REPLAY/COMPARE/PLOT (and EXPLAIN of them) need read permission on
every event type they read, DEFINE and all user/permission management
need the admin role; SHOW/FLUSH are not gated. The reference gates only a
QUERY's head type and passes no auth manager to its REPLAY/COMPARE
handlers (src/command/dispatcher.rs); no ported scenario relies on that
gap, and an ungated REPLAY reads every type of a context, so here the
whole read set is checked. Error messages carry the reference's status
codes ("401 ...", "403 ...") so scenario matchers line up.

Repeated QUERY/REPLAY/COMPARE/PLOT commands reuse their compiled
DataFrame while the event types they read are unchanged
(plans/prepared.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sneldb_spark.auth import AuthError, AuthManager
from sneldb_spark.commands import ast
from sneldb_spark.commands.parser import parse_command
from sneldb_spark.errors import SnelDBError
from sneldb_spark.plans.compiler import QueryCompiler, TimeConfig
from sneldb_spark.plans.prepared import PlanCache
from sneldb_spark.store.event_store import EventStore
from sneldb_spark.store.materialize import Materializer


@dataclass
class Result:
    ok: bool
    df: Optional[DataFrame] = None
    message: str = ""

    def rows(self) -> list:
        return self.df.collect() if self.df is not None else []


class SnelDB:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        clock=None,
        time_config: TimeConfig | None = None,
        auth: AuthManager | None = None,
        wal: bool = True,
        wal_archive_dir: str | None = None,
        approx_count_unique: bool = False,
        approx_percentiles: bool = False,
        sequence_slices: int = 0,
        multi_link: bool = False,
        bloom_filters: bool = True,
        auto_compact_files: int | None = None,
        compaction_interval: int | None = None,
        storage=None,
        allow_core_shadow: bool = False,
        memtable_capacity: int | None = None,
    ):
        self.spark = spark
        self.root = root
        # Default storage backend: GRACE (versioned prefixes + pointer
        # flip, store/storage.py grace_local_storage) for embedded
        # engines too, not just served ones — the rename-publish
        # LocalStorage loses files under an in-flight reader racing
        # flush-auto-compaction (soak-reproduced, soak_local_r8.json),
        # and an embedded user reading from one thread while another
        # flushes hits exactly that. Pass storage=LOCAL explicitly for
        # single-threaded scratch work where the leaner rename swap is
        # fine.
        if storage is None:
            from sneldb_spark.store.storage import grace_local_storage

            storage = grace_local_storage(root)
        self.store = EventStore(spark, root, clock=clock, wal=wal,
                                wal_archive_dir=wal_archive_dir,
                                bloom_filters=bloom_filters,
                                auto_compact_files=auto_compact_files,
                                compaction_interval=compaction_interval,
                                allow_core_shadow=allow_core_shadow,
                                storage=storage,
                                memtable_capacity=memtable_capacity)
        self.compiler = QueryCompiler(
            source=self.store.read,
            schema_lookup=lambda et: (
                self.store.registry.get(et) if self.store.registry.has(et) else None
            ),
            time_config=time_config,
            topk_source=self.store.read_topk,
            approx_count_unique=approx_count_unique,
            approx_percentiles=approx_percentiles,
            context_source=self.store.read_for_context,
            sequence_slices=sequence_slices,
            multi_link=multi_link,
        )
        # storage: the materializer's directory-swap backend
        # (store/storage.py) — LocalStorage by default, ObjectStoreStorage
        # for a lake deployment. The EVENT segment store stays on its own
        # append-only layout (Spark reads it like any lake prefix); only
        # the swap-published materialization dirs need the protocol.
        self.materializer = Materializer(self, root, storage=storage)
        # compiled read commands, reused while their inputs are unchanged;
        # hits/misses/evictions and reasons() are its visible state
        self.plan_cache = PlanCache(self.compiler, self.store)
        self.auth = auth
        # Write commands are serialized: their work (parse, validate,
        # WAL append, memtable insert) is pure Python, and concurrent
        # frontend threads interleaving it through the GIL's preemptive
        # switching is strictly slower than queueing — measured on the
        # TCP stress load: 19.4k ev/s on 1 connection degraded to 8.9k
        # on 16 without the lock, and recovered to >30k WITH it (threads
        # blocked on a lock don't contend for the GIL). Read commands
        # are untouched — their time is spent in Spark jobs that release
        # the GIL. RLock: BATCH sub-commands re-enter harmlessly.
        import threading

        self._write_serial = threading.RLock()

    # command heads whose execution is serialized (prefix check on the
    # raw text so the parse itself runs under the lock — it is half the
    # per-STORE cost)
    _WRITE_HEADS = ("STORE", "BATCH", "DEFINE")

    # -- public API -------------------------------------------------------
    def execute(self, text: str, user_id: Optional[str] = None) -> Result:
        if text.lstrip()[:6].upper().startswith(self._WRITE_HEADS):
            with self._write_serial:
                cmd = parse_command(text)
                # a BATCH carrying anything beyond STORE/DEFINE (FLUSH,
                # queries) can run Spark jobs for seconds — don't stall
                # every other writer behind the lock for those; the lock
                # exists for short pure-Python write work
                if not isinstance(cmd, ast.BatchCommand) or all(
                    isinstance(s, (ast.StoreCommand, ast.DefineCommand))
                    for s in cmd.commands
                ):
                    return self.execute_command(cmd, user_id=user_id)
            return self.execute_command(cmd, user_id=user_id)
        cmd = parse_command(text)
        return self.execute_command(cmd, user_id=user_id)

    def try_execute(self, text: str, user_id: Optional[str] = None) -> Result:
        try:
            return self.execute(text, user_id=user_id)
        except SnelDBError as e:
            return Result(ok=False, message=str(e))

    def query(self, text: str) -> DataFrame:
        """Parse+compile a read command, returning the DataFrame (the
        prepared one while the event types it reads are unchanged)."""
        return self.plan_cache.compile(parse_command(text))

    def close(self) -> None:
        """Settle the engine for teardown: join in-flight background
        materialization folds (serve-then-refresh SHOW schedules them)
        so nothing is still writing when the caller deletes the data
        dir. Idempotent; the Spark session is NOT stopped (it is shared
        and caller-owned). quiesce() drains recorded fold errors
        (pop-and-return) — close() discards its return value, so log
        what was drained instead of silently swallowing failures a
        caller quiescing-via-close would otherwise never see."""
        for mat_name, err in self.materializer.quiesce():
            import logging

            logging.getLogger(__name__).warning(
                "background fold for materialization %r failed before "
                "close: %s",
                mat_name,
                err,
            )
        # settle the store's background compaction worker the same way
        # (a rewrite publishing into a tree the caller is deleting); its
        # drained errors are logged, not raised — teardown must proceed
        for et, err in self.store.quiesce_compaction():
            import logging

            logging.getLogger(__name__).warning(
                "background compaction for event type %r failed before "
                "close: %s",
                et,
                err,
            )

    def __enter__(self) -> "SnelDB":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def df(self, event_type: str) -> DataFrame:
        """An event type's full table as a plain DataFrame (segments plus
        the pre-flush buffer, the same visibility QUERY has) — the
        Spark-native escape hatch for work the command language doesn't
        cover. Compose freely; nothing is collected. The frame snapshots
        the pre-flush buffer and file listing at call time — re-call
        after new ingest for a fresh view of the store."""
        return self.store.read(event_type)

    def register_views(self, prefix: str = "") -> list[str]:
        """Register every defined event type as a Spark temporary view
        (`prefix + event_type`) so plain ``spark.sql`` — joins across
        event types, window functions, CTEs — runs against the store with
        QUERY's visibility semantics (pre-flush buffer included). Returns
        the view names. The views snapshot the store at registration
        (buffer rows and the Parquet file listing are captured in the
        plan); re-run after DEFINEs or ingest to re-bind."""
        names = []
        for et in self.store.registry.event_types():
            name = f"{prefix}{et}"
            self.store.read(et).createOrReplaceTempView(name)
            names.append(name)
        return names

    def stream_sequence(
        self, text: str, max_files_per_trigger: int | None = None
    ) -> DataFrame:
        """Compile the SAME sequence-QUERY text against the live store:
        `A FOLLOWED BY B [FOLLOWED BY C ...] LINKED BY k` runs the
        incremental chain matcher, `A PRECEDED BY B LINKED BY k` the
        latest-before matcher (streaming/sequence.py: one hash-bucketed
        state layout for both), over a union of the involved types'
        parquet streams (new FLUSH commits arrive as files). WHERE sides,
        FOR, SINCE/UNTIL and WITHIN apply; aggregates / ORDER / LIMIT and
        USING TIME are batch-only here. Output is the matcher schema
        (link + per-step event ids/timestamps), not the batch row shape.

        `max_files_per_trigger` sizes micro-batches (events per trigger =
        files x flush batch size): the chain matcher pays a measured
        ~1.1 s fixed cost per trigger (state machinery, BASELINE.md), so
        pick the largest trigger your latency budget allows — the
        amortization table lives in docs/streaming.md "Micro-batch
        sizing". Default None = all available files per trigger.

        Drain multi-type streams with ``trigger(availableNow=True)`` at
        flush barriers — see streaming/sequence.py's multi-source caveat.
        """
        from sneldb_spark.commands.ast import FOLLOWED_BY, PRECEDED_BY
        from sneldb_spark.plans.filters import compile_expr, split_sequence_where
        from sneldb_spark.schema.normalization import try_parse_time_value
        from sneldb_spark.streaming.sequence import (
            streaming_chain,
            streaming_preceded_by,
        )

        cmd = parse_command(text)
        if not isinstance(cmd, ast.QueryCommand) or not cmd.is_sequence:
            raise SnelDBError("stream_sequence wants a sequence QUERY")
        if cmd.link_field is None:
            raise SnelDBError("stream_sequence needs LINKED BY")
        if cmd.aggs or cmd.order_by or cmd.limit is not None or cmd.offset is not None:
            raise SnelDBError("aggregates / ORDER BY / LIMIT are batch-only here")
        if cmd.sequence_time_field is not None or cmd.time_field is not None:
            # both USING forms bind bounds/matching to a payload field;
            # the live matchers pair on server time only
            raise SnelDBError("USING is batch-only here")
        types = cmd.sequence.event_types
        kinds = [k for k, _ in cmd.sequence.links]
        sides = split_sequence_where(cmd.where, types)

        ev = None
        for t in dict.fromkeys(types):  # distinct, order-preserving
            s = self.store.read_stream(t, max_files_per_trigger)
            if cmd.context_id is not None:
                s = s.where(F.col("context_id") == F.lit(cmd.context_id))
            for clause, op in ((cmd.since, ">="), (cmd.until, "<")):
                if clause is not None:
                    bound = try_parse_time_value(clause)
                    if bound is not None:  # unparsable = ignored, like batch
                        tcol = F.col("timestamp")
                        s = s.where(tcol >= F.lit(bound) if op == ">=" else tcol < F.lit(bound))
            if sides.get(t) is not None:
                resolve = self.compiler._resolver(s, t)
                s = s.where(compile_expr(sides[t], resolve))
            ev = s if ev is None else ev.unionByName(s, allowMissingColumns=True)

        gap = int(cmd.sequence_within) if cmd.sequence_within is not None else None
        if kinds == [PRECEDED_BY]:
            return streaming_preceded_by(
                ev, types[0], types[1], cmd.link_field, max_gap_s=gap
            )
        if all(k == FOLLOWED_BY for k in kinds):
            return streaming_chain(ev, types, cmd.link_field, max_gap_s=gap)
        raise SnelDBError(
            "streaming chains support FOLLOWED BY links (single-link "
            "PRECEDED BY aside); mixed chains are batch-only"
        )

    def query_stream(self, text: str) -> DataFrame:
        """Compile the SAME command text against a streaming source: a
        continuously-updating DataFrame over the store's Parquet (new
        FLUSH commits appear as new files). Aggregate queries run in
        update mode (no watermark — timestamps are server-assigned, data
        is never late, the reference's T2 semantics); ORDER BY / LIMIT /
        OFFSET / sequences are batch-only and rejected here (use
        streaming/sequence.py for live funnels)."""
        cmd = parse_command(text)
        if not isinstance(cmd, ast.QueryCommand):
            raise SnelDBError("query_stream supports QUERY commands only")
        if cmd.order_by or cmd.limit is not None or cmd.offset is not None:
            raise SnelDBError("ORDER BY / LIMIT / OFFSET are batch-only")
        if cmd.is_sequence:
            raise SnelDBError(
                "sequence queries over streams: use stream_sequence"
            )
        if any(a.op == "count_unique" for a in cmd.aggs):
            # Exact distinct aggregation is not expressible incrementally;
            # Structured Streaming rejects countDistinct. Keeping the exact
            # semantics batch-only is the honest choice (the batch path
            # stays exact per A3); approx_count_distinct would silently
            # change results.
            raise SnelDBError("COUNT UNIQUE is batch-only (exact distinct)")
        streaming_compiler = QueryCompiler(
            source=self.store.read_stream,
            schema_lookup=self.compiler._schema,
            time_config=self.compiler.time_config,
        )
        return streaming_compiler.compile(cmd)

    # -- auth gates -------------------------------------------------------
    def _require_user(self, user_id: Optional[str]) -> str:
        if user_id is None:
            raise AuthError("401 Authentication required")
        return user_id

    def _require_admin(self, user_id: Optional[str], action: str):
        uid = self._require_user(user_id)
        if not self.auth.is_admin(uid):
            raise AuthError(f"403 Only admin users can {action}")

    def _check_read(self, user_id: Optional[str], event_type: str):
        if self.auth is None:
            return
        uid = self._require_user(user_id)
        if not self.auth.can_read(uid, event_type):
            raise AuthError(
                f"403 Read permission denied for event type '{event_type}'"
            )

    def _read_types(self, cmd) -> list[str]:
        """Every event type a QUERY/REPLAY/COMPARE reads (a superset of
        what its compile records: a sequence names all its steps).
        REPLAY without a type reads every defined type."""
        if isinstance(cmd, ast.ReplayCommand):
            if cmd.event_type is None:
                return self.store.registry.event_types()
            return [cmd.event_type]
        queries = cmd.queries if isinstance(cmd, ast.CompareCommand) else [cmd]
        return list(dict.fromkeys(
            t for q in queries
            for t in (q.sequence.event_types if q.is_sequence else [q.event_type])
        ))

    def _check_reads(self, user_id: Optional[str], cmd) -> None:
        if self.auth is None:
            return
        self._require_user(user_id)
        for event_type in self._read_types(cmd):
            self._check_read(user_id, event_type)

    def _check_write(self, user_id: Optional[str], event_type: str):
        if self.auth is None:
            return
        uid = self._require_user(user_id)
        if not self.auth.can_write(uid, event_type):
            raise AuthError(
                f"403 Write permission denied for event type '{event_type}'"
            )

    # -- dispatch ---------------------------------------------------------
    def execute_command(self, cmd: ast.Command, user_id: Optional[str] = None) -> Result:
        # Scheduler-pool placement for job-running commands (see
        # session.set_scheduler_pool — FAIR across pools is what keeps a
        # small SHOW/QUERY's first task from queueing behind a whole
        # flush job). STORE/DEFINE are pure Python — no jobs, no call.
        if isinstance(cmd, ast.FlushCommand):
            from sneldb_spark.session import set_scheduler_pool

            set_scheduler_pool(self.spark, "sneldb-bulk")
        elif isinstance(
            cmd,
            (ast.QueryCommand, ast.ReplayCommand, ast.CompareCommand,
             ast.ShowCommand, ast.ExplainCommand),
        ):
            from sneldb_spark.session import set_scheduler_pool

            set_scheduler_pool(self.spark, "sneldb-serve")
        if isinstance(cmd, ast.DefineCommand):
            if self.auth is not None:
                self._require_admin(user_id, "define schemas")
            schema = self.store.registry.define(cmd.event_type, cmd.fields, cmd.version)
            # Reference response text (src/command/handlers/define.rs:78);
            # the versioned uid must NOT leak here — scenario include_none
            # matchers check the whole session output for fragments like
            # "v1" that a uid such as "orders_v1" would false-positive.
            return Result(
                ok=True, message=f"Schema defined for '{schema.name}'"
            )
        if isinstance(cmd, ast.StoreCommand):
            self._check_write(user_id, cmd.event_type)
            self.store.store(cmd.event_type, cmd.context_id, cmd.payload)
            # Reference response text (src/command/handlers/store.rs:179).
            return Result(ok=True, message="Event accepted for storage")
        if isinstance(cmd, ast.ExplainCommand):
            # same read gate as running the command itself
            self._check_reads(user_id, cmd.inner)
            df = self.compiler.compile(cmd.inner)
            # public API only (ADVICE r5): df.explain prints to stdout;
            # capture it rather than reaching into the JVM bridge, which
            # does not exist under Spark Connect and is version-fragile
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            return Result(ok=True, message=buf.getvalue().rstrip("\n"))
        if isinstance(cmd, (ast.QueryCommand, ast.ReplayCommand, ast.CompareCommand)):
            self._check_reads(user_id, cmd)
            return Result(ok=True, df=self.plan_cache.compile(cmd))
        if isinstance(cmd, ast.RememberCommand):
            self.store.flush()
            n = self.materializer.remember(cmd.name, cmd.query)
            return Result(
                ok=True,
                message=f"remembered query '{cmd.name}'\nrows stored: {n}",
            )
        if isinstance(cmd, ast.ShowCommand):
            # NO implicit flush: the refresh's source probe and delta
            # slice read the memtable exactly like QUERY does (S4
            # pre-flush visibility), so a SHOW is already exact over
            # unflushed rows — and a synchronous whole-store parquet
            # commit on the serve path was the single largest
            # time-to-first-frame term the soak measured (3-23 s under
            # ingest, dwarfing the actual refresh).
            df = self.materializer.show(cmd.name)
            if cmd.limit is not None:
                # bounded service read: cap at the sink. The limit plan
                # scans the union's stored partitions first and
                # short-circuits, so a LIMIT'd SHOW of a huge
                # materialization reads a handful of parquet files —
                # the probe/monitoring read pattern the soak uses.
                # pin_derived: the limited frame must carry the serve
                # frame's GC pin, or rebinding df here drops the only
                # strong reference the WeakSet registry holds.
                df = self.materializer.pin_derived(
                    cmd.name, df, df.limit(cmd.limit)
                )
            return Result(ok=True, df=df)
        if isinstance(cmd, ast.ForgetCommand):
            # FORGET permanently deletes a materialization's data, state,
            # and manifest — destructive, so it is admin-gated exactly like
            # DEFINE (which can also rewrite shared state).
            if self.auth is not None:
                self._require_admin(user_id, "forget materializations")
            self.materializer.forget(cmd.name)
            return Result(ok=True, message=f"forgot materialization '{cmd.name}'")
        if isinstance(cmd, ast.FlushCommand):
            self.store.flush()
            return Result(ok=True, message="flushed")
        if isinstance(cmd, ast.PingCommand):
            return Result(ok=True, message="PONG")
        if isinstance(cmd, ast.BatchCommand):
            last = Result(ok=True)
            # group-commit: one WAL flush+fsync at the batch boundary
            # instead of one flush per STORE (the batch reply is sent
            # after the fsync). A MIXED batch (FLUSH/queries between the
            # stores) runs outside execute()'s write lock so its Spark
            # work doesn't stall other writers; each STORE/DEFINE
            # sub-command re-acquires the lock here so write work never
            # interleaves with serialized writers (RLock: free when the
            # pure-write path already holds it).
            with self.store.wal_group():
                for sub in cmd.commands:
                    if isinstance(sub, (ast.StoreCommand, ast.DefineCommand)):
                        with self._write_serial:
                            last = self.execute_command(sub, user_id=user_id)
                    else:
                        last = self.execute_command(sub, user_id=user_id)
            return last
        if isinstance(
            cmd,
            (
                ast.CreateUserCommand,
                ast.RevokeKeyCommand,
                ast.ListUsersCommand,
                ast.GrantPermissionCommand,
                ast.RevokePermissionCommand,
                ast.ShowPermissionsCommand,
            ),
        ):
            return self._execute_auth_command(cmd, user_id)
        raise SnelDBError(f"unhandled command type: {type(cmd).__name__}")

    # -- user / permission management ------------------------------------
    # reference: src/command/handlers/{auth.rs,permissions.rs}
    def _execute_auth_command(self, cmd: ast.Command, user_id: Optional[str]) -> Result:
        if self.auth is None:
            raise SnelDBError("500 Authentication not configured")
        if isinstance(
            cmd, (ast.CreateUserCommand, ast.RevokeKeyCommand, ast.ListUsersCommand)
        ):
            self._require_admin(user_id, "manage users")
        else:
            self._require_admin(user_id, "manage permissions")

        if isinstance(cmd, ast.CreateUserCommand):
            try:
                key = self.auth.create_user(cmd.user_id, cmd.secret_key, cmd.roles)
            except AuthError as e:
                raise AuthError(f"400 {e}") from None
            return Result(
                ok=True,
                message=f"User '{cmd.user_id}' created\nSecret key: {key}",
            )
        if isinstance(cmd, ast.RevokeKeyCommand):
            try:
                self.auth.revoke_key(cmd.user_id)
            except AuthError as e:
                raise AuthError(f"400 {e}") from None
            return Result(ok=True, message=f"Key revoked for user '{cmd.user_id}'")
        if isinstance(cmd, ast.ListUsersCommand):
            users = self.auth.list_users()
            if not users:
                return Result(ok=True, message="No users found")
            lines = [
                f"{u.user_id}: {'active' if u.active else 'inactive'}" for u in users
            ]
            return Result(ok=True, message="\n".join(lines))
        if isinstance(cmd, ast.GrantPermissionCommand):
            for et in cmd.event_types:
                if not self.store.registry.has(et):
                    raise AuthError(f"400 No schema defined for event type '{et}'")
            read = "read" in cmd.permissions
            write = "write" in cmd.permissions
            for et in cmd.event_types:
                try:
                    self.auth.grant(cmd.user_id, et, read, write)
                except AuthError as e:
                    raise AuthError(f"400 Failed to grant permission: {e}") from None
            return Result(
                ok=True, message=f"Permissions granted to user '{cmd.user_id}'"
            )
        if isinstance(cmd, ast.RevokePermissionCommand):
            # Empty permission list revokes both flags
            # (reference: permissions.rs:140-145).
            read = not cmd.permissions or "read" in cmd.permissions
            write = not cmd.permissions or "write" in cmd.permissions
            for et in cmd.event_types:
                try:
                    self.auth.revoke(cmd.user_id, et, read, write)
                except AuthError as e:
                    raise AuthError(f"400 Failed to revoke permission: {e}") from None
            return Result(
                ok=True, message=f"Permissions revoked from user '{cmd.user_id}'"
            )
        if isinstance(cmd, ast.ShowPermissionsCommand):
            try:
                perms = self.auth.get_permissions(cmd.user_id)
            except AuthError as e:
                raise AuthError(f"400 Failed to get permissions: {e}") from None
            if not perms:
                return Result(
                    ok=True, message=f"User '{cmd.user_id}' has no permissions"
                )
            lines = [f"Permissions for user '{cmd.user_id}':"]
            for et in sorted(perms):
                p = perms[et]
                flags = [name for name, on in (("read", p.read), ("write", p.write)) if on]
                lines.append(f"  {et}: {', '.join(flags) if flags else 'none'}")
            return Result(ok=True, message="\n".join(lines))
        raise SnelDBError(f"unhandled auth command: {type(cmd).__name__}")
