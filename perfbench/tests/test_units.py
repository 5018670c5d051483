"""Fast checks of the benchmark's own pieces (no Spark).

Run from the checkout root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import oracle  # noqa: E402
from layers import match_wire, per_layer  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_and_units_are_valid():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]]
    metrics = b["end_to_end"] + b["per_layer"]
    for n in names + [m["name"] for m in metrics]:
        assert NAME.match(n), n
    assert len(set(m["name"] for m in metrics)) == len(metrics)
    for m in metrics:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in b["end_to_end"]
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200


def test_every_workload_is_runnable_and_reports_every_metric():
    sys.path.insert(0, BENCH)
    from run import WORKLOADS, _workloads

    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(_workloads()) == list(WORKLOADS)
    fake = {"e2e": {"p50_ms": 1.0}, "client": [],
            "child": {"session_s": 1.0, "commands": []}}
    values, _ = per_layer(fake)
    emitted = set(values) | {f"pipeline.{op}_s" for op in ("minhash_dedup_pairs", "lsh_topk",
                                                        "stream_sequence", "batch_ingest")}
    assert {m["name"] for m in b["per_layer"]} <= emitted


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
        with tr.span("inner"):
            time.sleep(0.01)
    calls, total, self_s = tr.totals["outer"]
    inner_total = tr.totals["inner"][1]
    assert calls == 1 and tr.totals["inner"][0] == 2
    assert abs(self_s - (total - inner_total)) < 1e-9
    assert 0.015 < self_s < total


def test_offline_self_times_take_the_union_of_children():
    spans = [("p", 0.0, 10.0, 0, 1, 1),
             ("c", 1.0, 4.0, 1, 1, 2),
             ("c", 3.0, 6.0, 1, 1, 3),  # overlaps the first child
             ("c", 8.0, 12.0, 1, 1, 4)]  # runs past the parent's end
    st = self_times(spans)
    assert st[1] == 10.0 - (5.0 + 2.0)
    assert st[2] == 3.0


def test_oracle_accepts_reordered_and_rejects_perturbed_results():
    cols = ["k", "count", "total"]
    rows = [(1, 10, 2.5), (2, 20, 3.25), (3, 5, 0.1)]
    want = oracle.Expect(cols, rows)
    assert want.matches(["total", "k", "count"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert not want.matches(cols, rows[:2])
    assert not want.matches(cols, [(1, 10, 2.5), (2, 21, 3.25), (3, 5, 0.1)])
    assert not want.matches(["k", "count"], [r[:2] for r in rows])


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    assert gen.read_pool(3, 1000) == gen.read_pool(3, 1000)
    assert gen.read_pool(3, 1000) != gen.read_pool(4, 1000)
    assert gen.events_table(3, 500, 50).equals(gen.events_table(3, 500, 50))
    pool = gen.read_pool(3, 1000)
    cycle = sum(w for _, w in gen.READ_MIX)
    sched = gen.read_schedule(pool, cycle * 10)
    classes = [pool[i][0] for i in sched]
    for cls, weight in gen.READ_MIX:
        assert classes.count(cls) == weight * 10


def test_mix_median_averages_per_command_medians():
    from workloads import mix_median

    # one class, two commands: a median over the mixture would read 100 or
    # 300 depending on the sample counts; per-command medians give 200
    samples = [("agg", "A", 100.0)] * 3 + [("agg", "B", 300.0)] * 2
    assert mix_median(samples) == 200.0
    samples += [("scan", "S", 50.0), ("scan", "S", 70.0)]
    assert mix_median(samples) == (200.0 + 60.0) / 2


def test_wire_matching_pairs_client_and_server_intervals():
    class R:
        def __init__(self, t_send, t_end):
            self.t_send, self.t_end = t_send, t_end

        @property
        def ms(self):
            return (self.t_end - self.t_send) * 1000.0

    # read at 1.05, dispatch until 1.1, execute 1.1-1.5 with 0.1 s not
    # covered by any layer span, 0.2 s of frame encoding, last frame at 1.8
    cmds = [{"text": "Q", "t_recv": 1.05, "t0": 1.1, "t1": 1.5, "execute_self_s": 0.1,
             "frames_end": 1.8, "frames_s": 0.2}]
    out = match_wire([("agg", "Q", R(1.0, 2.0))], cmds)
    wire, coverage = out["agg"][0]
    assert abs(wire - 250.0) < 1e-6
    # layers 0.3 (execute's children) + 0.2 (frames), wire 0.25; unattributed:
    # dispatch 0.05, execute self 0.1, gaps between frames 0.1
    assert abs(coverage - 0.75) < 1e-9


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(bench))
    proc = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                           "--workload", "read_serve", "--seed", "1"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""


def test_stopping_a_run_session_stops_its_grandchildren():
    from run import _session_pids, _stop_session

    # a child in its own session that leaves a grandchild behind in its
    # own process group, as the pyspark daemon does
    code = ("import os, subprocess, sys, time; "
            "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'], "
            "process_group=0); print('up', flush=True); time.sleep(60)")
    proc = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        assert proc.stdout.readline().strip() == "up"
        assert len(_session_pids(proc.pid)) == 2
        assert _stop_session(proc.pid)
        assert _session_pids(proc.pid) == []
    finally:
        proc.kill()
        proc.wait()
