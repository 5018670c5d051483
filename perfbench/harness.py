"""Shared machinery: the run context, the server child, /proc sampling,
percentiles and provenance."""

from __future__ import annotations

import hashlib
import json
import os
import select
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# engine settings for every run: a 1 GB driver heap, and no Python worker
# keepalive pulse (it fires 45 s after session start, which lands inside
# some runs and not others, and forks a worker per core when it does)
ENGINE_ENV = {"SNELDB_DRIVER_MEM": "1g", "SNELDB_PYTHON_POOL_KEEPALIVE": "0"}


class Ctx:
    """One run: its arguments and private work directory."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._t0 = time.monotonic()
        self.phases: dict[str, float] = {}
        self._lock = threading.Lock()  # load threads check answers at once

    def mark(self, phase: str) -> None:
        """Record when `phase` ended, in seconds since the run started."""
        self.phases[phase] = round(time.monotonic() - self._t0, 2)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a wrong answer counts as failed."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.problems) < 20:
                    self.problems.append(what)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- statistics -----------------------------------------------------------------
def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs, want: float = 0.95) -> tuple[float, float]:
    """(percentile, value): `want`, or the highest percentile that still
    leaves ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    p = min(want, max(0.5, 1.0 - 10.0 / n))
    return p, xs[min(n - 1, int(p * n))]


# -- /proc sampling -------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_pss_mb(pid: int) -> float:
    """Proportional set size of a process tree: resident memory with each
    shared page split among the processes sharing it, so forked children
    (Python workers) are not counted twice. A child of the JVM that still
    runs the JVM's binary is a spawn in progress: the JVM starts helpers
    with posix_spawn, whose child shares the parent's memory until it
    execs, so its PSS repeats the JVM's in full. Such a child is skipped."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
            exe = _exe(p)
            for c in _children(p):
                if not (os.path.basename(exe) == "java" and _exe(c) == exe):
                    todo.append(c)
        except (OSError, ValueError):
            pass
    return total / 1024


class MemSampler:
    """Peak memory (PSS) of a process tree, sampled every second. The peak
    is the highest level held over two samples in a row, so a lone
    misread (a process read mid-fork) does not set it. Reading a JVM's
    smaps_rollup takes about 12 ms and holds its memory map lock, which
    stalls its page faults, so samples are kept this sparse."""

    INTERVAL_S = 1.0

    def __init__(self, pid: int):
        self.pid, self.peak = pid, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self):
        last = 0.0
        while not self._stop.is_set():
            now = tree_pss_mb(self.pid)
            self.peak = max(self.peak, min(last, now))
            last = now
            self._stop.wait(self.INTERVAL_S)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak


def _proc_stat() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from the aggregate /proc/stat row."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


class HostWindow:
    """CPU steal share and load averages over a measured window."""

    def __init__(self):
        self.t0, self.s0 = _proc_stat()
        self.load0 = os.getloadavg()

    def close(self) -> dict:
        t1, s1 = _proc_stat()
        return {
            "steal_pct": round(100.0 * (s1 - self.s0) / max(1, t1 - self.t0), 2),
            "load_start": [round(x, 2) for x in self.load0],
            "load_end": [round(x, 2) for x in os.getloadavg()],
        }


def bench_sha() -> str:
    """Hash of the benchmark's own source files."""
    h = hashlib.sha1()
    for dirpath, dirnames, files in sorted(os.walk(HERE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".json", ".md")):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def provenance(ctx: Ctx, master: str) -> dict:
    import pyspark

    return {"seed": ctx.seed, "nproc": os.cpu_count(), "master": master,
            "pyspark": pyspark.__version__, "bench_sha": bench_sha()}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under `path`."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                continue
            files += n.endswith(".parquet")
    return size, files


# -- the server child -----------------------------------------------------------
class ServerChild:
    """SnelDB + SnelDBServer in a child process (server_child.py)."""

    READY_TIMEOUT_S = 150

    def __init__(self, ctx: Ctx, spec: dict):
        self.ctx = ctx
        spec = dict(spec, work=ctx.work, trace=ctx.trace, out=ctx.path("child_out.json"))
        spec_path = ctx.path("spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        env = dict(os.environ, TMPDIR=ctx.work, SPARK_LOCAL_DIRS=ctx.path("spark-local"),
                   PYTHONUNBUFFERED="1", **ENGINE_ENV)
        self._log = open(ctx.path("server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server_child.py"), spec_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=ctx.work, env=env, process_group=0,
        )
        self.mem = MemSampler(self.proc.pid)
        self.ready = self._await_ready()
        ctx.mark("ready")
        self.port = self.ready["port"]

    def _await_ready(self) -> dict:
        deadline = time.monotonic() + self.READY_TIMEOUT_S
        while time.monotonic() < deadline:
            r, _, _ = select.select([self.proc.stdout], [], [], 1.0)
            if r:
                line = self.proc.stdout.readline()
                if not line:
                    break
                return json.loads(line)
            if self.proc.poll() is not None:
                break
        self.kill()
        raise RuntimeError("server child did not start; see server.log:\n" + self.log_tail())

    def log_tail(self, n: int = 4000) -> str:
        try:
            with open(self.ctx.path("server.log"), "rb") as f:
                return f.read()[-n:].decode(errors="replace")
        except OSError:
            return ""

    def close(self) -> dict:
        """Ask the child to shut down; return its report."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=90)
        except subprocess.TimeoutExpired:
            self.kill()
            raise RuntimeError("server child did not stop")
        finally:
            self.peak_mem_mb = self.mem.stop()
            self._log.close()
            self._reap_group()
        with open(self.ctx.path("child_out.json")) as f:
            return json.load(f)

    def _reap_group(self) -> None:
        """Stop whatever is left of the child's process group (the JVM)
        and wait until the group is empty."""
        deadline = time.monotonic() + 20
        sig = signal.SIGTERM
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)
            if time.monotonic() > deadline - 10:
                sig = signal.SIGKILL

    def kill(self) -> None:
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait(timeout=30)
        self._reap_group()
        self.mem.stop()
        if not self._log.closed:
            self._log.close()
