"""Install tracing wrappers around the engine's public entry points.

`Census` wraps, in place and only in a traced run:

- `parse_command` (as the engine calls it), `QueryCompiler.compile`,
  `validate_payload`, `EventStore.store/flush/read/read_topk/
  read_for_context/wal_group/compact`, `Materializer.remember/show`;
- `SnelDB.execute` as the root span of one command, which also puts the
  command's Spark jobs in their own job group, and the server's admission
  check (`reject_if_under_pressure`), which marks when the server has read
  the command;
- `json_frames` / `arrow_ipc_frames` (each step is a span, plus time to
  first frame, rows and bytes) and `DataFrame.toLocalIterator`;
- py4j `send_command`, counted per command.

Job, stage, task, scan and Catalyst counts are read from Spark's status
tracker and the executed plans once, at `finish()`, so the serving path
pays no extra py4j calls while it runs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

from spans import Tracer, traced_iter, wrap

SCAN_NODES = ("FileSourceScanExec",)
PYTHON_NODES = ("ArrowEvalPythonExec", "MapInPandasExec", "FlatMapGroupsInPandasExec",
                "FlatMapGroupsInPandasWithStateExec", "MapInArrowExec",
                "BatchEvalPythonExec", "FlatMapCoGroupsInPandasExec")


class Census:
    def __init__(self, spark, tracer: Tracer | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer or Tracer()
        self.commands: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._py4j: dict[int, int] = {}
        self.first_job = self._max_job_id()

    # -- helpers -------------------------------------------------------------
    @contextlib.contextmanager
    def quiet(self):
        """py4j calls made by the census itself are not counted."""
        prev = getattr(self._tls, "quiet", False)
        self._tls.quiet = True
        try:
            yield
        finally:
            self._tls.quiet = prev

    def _max_job_id(self) -> int:
        with self.quiet():
            ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def begin(self, kind: str, text: str) -> dict:
        """Open a command: a job group and a record that finish() fills."""
        cid = next(self._ids)
        rec = {"cmd": cid, "kind": kind, "text": text, "dfs": [],
               "t0": time.monotonic(), "t1": None, "frames_end": None,
               "ttff_ms": None, "frames_s": 0.0, "rows": 0, "bytes": 0}
        self.tracer.cmd = cid
        with self.quiet():
            self.sc.setJobGroup(f"pb-{cid}", text[:60], False)
        with self._lock:
            self.commands.append(rec)
        return rec

    # -- installation ----------------------------------------------------------
    def install_engine(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg
        import sneldb_spark.engine as engine_mod
        import sneldb_spark.server as server_mod
        import sneldb_spark.store.event_store as es_mod
        from sneldb_spark.plans.compiler import QueryCompiler
        from sneldb_spark.store.event_store import EventStore
        from sneldb_spark.store.materialize import Materializer

        tr = self.tracer
        wrap(tr, engine_mod, "parse_command", "commands.parse")
        wrap(tr, QueryCompiler, "compile", "plans.compile")
        wrap(tr, es_mod, "validate_payload", "schema.validate")
        wrap(tr, EventStore, "store", "store.append")
        wrap(tr, EventStore, "flush", "store.flush")
        for attr in ("read", "read_topk", "read_for_context"):
            wrap(tr, EventStore, attr, "store.read")
        for attr in ("compact", "_compact_concurrent"):
            if hasattr(EventStore, attr):
                wrap(tr, EventStore, attr, "store.compact")
        if hasattr(EventStore, "_write_rows"):
            write_rows = EventStore._write_rows

            @functools.wraps(write_rows)
            def counted_write_rows(store, event_type, rows):
                tr.add("store.flush_rows", len(rows))
                return write_rows(store, event_type, rows)

            EventStore._write_rows = counted_write_rows
        wal_group = EventStore.wal_group

        @contextlib.contextmanager
        def traced_wal_group(store):
            with tr.span("store.wal_group"), wal_group(store):
                yield

        EventStore.wal_group = traced_wal_group
        wrap(tr, Materializer, "remember", "materialize.remember")
        wrap(tr, Materializer, "show", "materialize.show")

        # the session's DataFrames are a subclass (pyspark.sql.classic) that
        # overrides toLocalIterator: wrap the class actually in use
        df_cls = type(self.spark.range(1))
        to_local = df_cls.toLocalIterator

        @functools.wraps(to_local)
        def traced_to_local(df, *a, **kw):
            with tr.span("exec.fetch"):
                it = to_local(df, *a, **kw)
            return traced_iter(tr, "exec.fetch", it)

        df_cls.toLocalIterator = traced_to_local

        execute = engine_mod.SnelDB.execute
        census = self

        @functools.wraps(execute)
        def traced_execute(db, text, user_id=None):
            rec = census.begin("command", text)
            rec["t_recv"], census._tls.t_recv = getattr(census._tls, "t_recv", None), None
            try:
                with tr.span("server.execute") as sp:
                    res = execute(db, text, user_id)
            finally:
                rec["t1"] = time.monotonic()
            rec["execute_self_s"] = (sp.end - sp.start) - sp.covered
            if res.df is not None:
                census._tls.pending = rec
            return res

        engine_mod.SnelDB.execute = traced_execute
        # the handler's admission check runs just after it reads a command
        # line: its start is when the server has the request
        admit = server_mod.reject_if_under_pressure

        @functools.wraps(admit)
        def traced_admit(*a, **kw):
            census._tls.t_recv = time.monotonic()
            with tr.span("server.admit"):
                return admit(*a, **kw)

        server_mod.reject_if_under_pressure = traced_admit
        for attr in ("json_frames", "arrow_ipc_frames"):
            setattr(server_mod, attr, self._frames_wrapper(getattr(server_mod, attr)))

        for mod in (cs.ClientServerConnection, jg.GatewayConnection):
            self._count_py4j(mod)

    def _count_py4j(self, cls) -> None:
        send = cls.send_command
        census = self

        @functools.wraps(send)
        def counted(conn, *a, **kw):
            cid = census.tracer.cmd
            if cid is not None and not getattr(census._tls, "quiet", False):
                with census._lock:
                    census._py4j[cid] = census._py4j.get(cid, 0) + 1
            return send(conn, *a, **kw)

        cls.send_command = counted

    def _frames_wrapper(self, frames_fn):
        census, tr = self, self.tracer

        @functools.wraps(frames_fn)
        def traced_frames(df, *a, **kw):
            rec = getattr(census._tls, "pending", None)
            census._tls.pending = None
            if rec is not None:
                rec["dfs"] = list(getattr(df, "__sneldb_serve_parts__", None) or (df,))
            start = time.monotonic()
            it = traced_iter(tr, "response.encode", frames_fn(df, *a, **kw))
            while True:
                step = time.monotonic()
                try:
                    frame = next(it)
                except StopIteration:
                    break
                if rec is not None:
                    rec["frames_s"] += time.monotonic() - step
                    rec["bytes"] += len(frame)
                    if rec["ttff_ms"] is None and _is_data(frame):
                        rec["ttff_ms"] = (time.monotonic() - start) * 1000.0
                    if isinstance(frame, str) and frame.startswith('{"type":"end"'):
                        rec["rows"] = int(frame.rsplit(":", 1)[1].rstrip("}"))
                yield frame
            if rec is not None:
                rec["frames_end"] = time.monotonic()

        return traced_frames

    def mark_run(self) -> None:
        """End of set-up: keep set-up span totals apart, count from here."""
        self.setup_totals = self.tracer.dump()["totals"]
        self.tracer.totals.clear()
        self.tracer.counts.clear()
        self.tracer.ring.clear()
        with self._lock:
            self.commands.clear()
            self._py4j.clear()
        self.first_job = self._max_job_id()

    def report(self) -> dict:
        """Everything the load generator aggregates, as JSON-ready data."""
        background = self.finish()
        return {"commands": self.commands, "background_jobs": background,
                "setup_totals": getattr(self, "setup_totals", {}),
                **self.tracer.dump()}

    # -- reading Spark's counts --------------------------------------------------
    def finish(self) -> int:
        """Fill every command's Spark census; return the number of jobs
        that ran outside any command's job group."""
        with self.quiet():
            st = self.sc.statusTracker()
            grouped = set()
            for rec in self.commands:
                jobs = st.getJobIdsForGroup(f"pb-{rec['cmd']}")
                grouped.update(jobs)
                infos = [st.getJobInfo(j) for j in jobs]
                stages = [s for info in infos if info for s in info.stageIds]
                rec["jobs"], rec["stages"] = len(jobs), len(stages)
                rec["tasks"] = sum(
                    si.numTasks for si in (st.getStageInfo(s) for s in stages) if si
                )
                rec["py4j"] = self._py4j.get(rec["cmd"], 0)
                scan = {"files": 0, "rows_scanned": 0, "python_rows": 0}
                phases = {"analysis": 0, "optimization": 0, "planning": 0}
                for df in rec.pop("dfs"):
                    qe = df._jdf.queryExecution()
                    _walk_plan(qe.executedPlan(), scan)
                    it = qe.tracker().phases().iterator()
                    while it.hasNext():
                        kv = it.next()
                        if kv._1() in phases:
                            phases[kv._1()] += kv._2().durationMs()
                rec.update(scan)
                rec.update({f"catalyst_{k}_ms": v for k, v in phases.items()})
            last = self._max_job_id()
            all_jobs = set(range(self.first_job + 1, last + 1))
        return len(all_jobs - grouped)


def _is_data(frame) -> bool:
    if isinstance(frame, (bytes, bytearray)):
        return True
    return frame.startswith('{"type":"batch"') or frame.startswith('{"type":"end"')


def _walk_plan(plan, acc: dict) -> None:
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _walk_plan(plan.executedPlan(), acc)
    if name.endswith("QueryStageExec"):
        return _walk_plan(plan.plan(), acc)
    if name == "ReusedExchangeExec":
        return
    if name in SCAN_NODES:
        acc["files"] += _metric(plan, "numFiles")
        acc["rows_scanned"] += _metric(plan, "numOutputRows")
    elif name in PYTHON_NODES:
        acc["python_rows"] += _metric(plan, "pythonNumRowsReceived")
    children = plan.children()
    for i in range(children.size()):
        _walk_plan(children.apply(i), acc)


def _metric(plan, key: str) -> int:
    opt = plan.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0
