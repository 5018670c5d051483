"""End-to-end benchmark of sneldb-spark: command text in, rows at the caller.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload read_serve --seed 1 --seconds 15 --trace 0

Workloads: read_serve (served over TCP by a child process) and
pipeline_ops (in-process operator calls). Prints a detail
line, then, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics named in BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. Exits non-zero without a
result when the run cannot be made.

The workload runs in a child process in a session of its own. When it ends,
on every path out, every process left in that session (the JVM, Python
workers, a server child) is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
INNER_ENV = "PERFBENCH_INNER"
RUN_TIMEOUT_S = 150
WORKLOADS = ("read_serve", "pipeline_ops")


def _workloads():
    from pipeline_ops import pipeline_ops
    from workloads import read_serve

    return {"read_serve": read_serve, "pipeline_ops": pipeline_ops}


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session `sid`."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the command name: state, ppid, pgrp, session, ...
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] not in "ZX":
            out.append(int(name))
    return out


def _stop_session(sid: int) -> bool:
    """SIGTERM, then SIGKILL, every process of session `sid`; True once
    none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return True
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and _session_pids(sid):
            time.sleep(0.1)
    return not _session_pids(sid)


def _work_dir(root: str, workload: str, pid: int) -> str:
    return os.path.join(root, ".perfbench_work", f"{workload}-{pid}")


def supervise(argv: list[str], workload: str) -> int:
    """Run this script again as the workload process, in a new session, and
    stop what it leaves behind."""
    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                            env=dict(os.environ, **{INNER_ENV: "1"}),
                            start_new_session=True)
    code = 1
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; stopped", file=sys.stderr)
    finally:
        if not _stop_session(proc.pid):
            print("perfbench: processes of the run did not stop", file=sys.stderr)
            code = code or 1
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(_work_dir(os.getcwd(), workload, proc.pid), ignore_errors=True)
    return code


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    ap = argparse.ArgumentParser(description="sneldb-spark end-to-end benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sneldb_spark", "__init__.py")):
        print("perfbench: no sneldb_spark package here; run from a checkout root",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if os.environ.get(INNER_ENV) != "1":
        return supervise(argv, args.workload)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, root]
    from harness import Ctx, HostWindow, provenance
    from layers import per_layer

    workloads = _workloads()
    work = _work_dir(root, args.workload, os.getpid())
    os.makedirs(work)
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work)
    host = HostWindow()
    try:
        res = workloads[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {"workload": args.workload, "trace": args.trace,
              "provenance": provenance(ctx, "local[4]"), "host": host.close(),
              "detail": res["detail"], "phases": ctx.phases, "problems": ctx.problems}
    if args.trace:
        traces = os.path.join(root, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(res["child"], f)
        values, extra = per_layer(res)
        detail.update(extra)
        detail["traced_e2e"] = res["e2e"]
        names = spec["per_layer"]
    else:
        values = res["e2e"]
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps(detail))
    print(json.dumps({"correct": ctx.failed == 0 and ctx.attempted > 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
