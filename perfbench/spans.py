"""Spans and counters recorded around calls into the engine's public API.

`Tracer` keeps finished spans (name, start, end, parent, command id) in a
bounded in-memory ring and folds each one into per-name totals as it ends,
so the totals stay exact when the ring drops old spans. A span's self time
is its duration minus the time its child spans cover; children nest on the
thread that opened them.

A traced run writes its spans and command census to
.perfbench_traces/<workload>-seed<seed>.json; `python3 perfbench/spans.py
<file>` prints self time per layer and the slowest commands' breakdowns.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import deque
from contextlib import contextmanager


class _Span:
    __slots__ = ("name", "sid", "parent", "cmd", "start", "end", "covered")

    def __init__(self, name, sid, parent, cmd, start):
        self.name, self.sid, self.parent, self.cmd = name, sid, parent, cmd
        self.start, self.end, self.covered = start, 0.0, 0.0


class Tracer:
    def __init__(self, ring: int = 100_000):
        self.ring: deque = deque(maxlen=ring)
        self.totals: dict[str, list] = {}  # name -> [calls, total_s, self_s]
        self.counts: dict[str, float] = {}
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # -- per-thread command context ----------------------------------------
    @property
    def cmd(self):
        return getattr(self._tls, "cmd", None)

    @cmd.setter
    def cmd(self, value):
        self._tls.cmd = value

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1] if st else None
        sp = _Span(name, next(self._ids), parent.sid if parent else 0, self.cmd,
                   time.monotonic())
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            sp.end = time.monotonic()
            if parent is not None:
                parent.covered += sp.end - sp.start
            self.record(sp)

    def record(self, sp: _Span) -> None:
        dur = sp.end - sp.start
        with self._lock:
            t = self.totals.setdefault(sp.name, [0, 0.0, 0.0])
            t[0] += 1
            t[1] += dur
            t[2] += dur - sp.covered
            self.ring.append((sp.name, sp.start, sp.end, sp.parent, sp.cmd,
                              sp.sid))

    def add(self, name: str, value: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    def dump(self) -> dict:
        with self._lock:
            return {
                "totals": {k: list(v) for k, v in self.totals.items()},
                "counts": dict(self.counts),
                "spans": list(self.ring),
            }


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Self time per span id from finished (name, start, end, parent, cmd,
    sid) records: duration minus the union of child intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _name, start, end, parent, _cmd, _sid in spans:
        if parent:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for _name, start, end, _parent, _cmd, sid in spans:
        covered, reach = 0.0, start
        for cs, ce in sorted(children.get(sid, ())):
            cs, ce = max(cs, reach), min(ce, end)
            if ce > cs:
                covered += ce - cs
                reach = ce
        out[sid] = (end - start) - covered
    return out


def wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    """Replace `owner.attr` with a version that runs inside span `name`."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


def traced_iter(tracer: Tracer, name: str, it):
    """Yield from `it`, timing each step inside span `name`."""
    it = iter(it)
    while True:
        with tracer.span(name):
            try:
                item = next(it)
            except StopIteration:
                return
        yield item


def main(path: str, top: int = 5) -> None:
    import json

    with open(path) as f:
        trace = json.load(f)
    spans = [tuple(s) for s in trace["spans"]]
    own = self_times(spans)
    by_name: dict[str, list[float]] = {}
    by_cmd: dict[int, dict[str, float]] = {}
    for name, _start, _end, _parent, cmd, sid in spans:
        by_name.setdefault(name, []).append(own[sid])
        layer = by_cmd.setdefault(cmd, {})
        layer[name] = layer.get(name, 0.0) + own[sid]
    print(f"{'span':24s} {'calls':>8s} {'self ms':>10s}")
    for name, xs in sorted(by_name.items(), key=lambda kv: -sum(kv[1])):
        print(f"{name:24s} {len(xs):8d} {sum(xs) * 1000:10.1f}")
    texts = {c["cmd"]: c["text"] for c in trace.get("commands", [])}
    slow = sorted((c for c in by_cmd if c in texts), key=lambda c: -sum(by_cmd[c].values()))
    for cmd in slow[:top]:
        parts = ", ".join(f"{n} {v * 1000:.1f}" for n, v in sorted(by_cmd[cmd].items()))
        print(f"\n#{cmd} {texts[cmd][:70]}\n  self ms: {parts}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1])
