"""Per-layer metrics from a traced run's census and spans.

Time metrics are self time (a span's duration minus its children's): per
call for a layer entered once per operation, per read command for the
fetch and encode steps. Counts come from Spark's status tracker and the
executed plans. On read_serve the counts cover only the census pass (every
distinct command once, in a fixed order), so they repeat exactly for one
seed; elsewhere they cover the whole run.
"""

from __future__ import annotations

from harness import median


def _self_per_call(totals: dict, name: str, scale: float = 1000.0) -> float:
    calls, _total, self_s = totals.get(name, (0, 0.0, 0.0))
    return self_s * scale / calls if calls else 0.0


def match_wire(client, commands) -> dict[str, list[tuple[float, float]]]:
    """Pair each client-timed command with the server record it caused
    (same text, server interval inside the client interval). Returns, per
    command class, (wire_ms, coverage) pairs. Wire is the time outside the
    server's handling: from send until the server has read the command,
    and from its last frame until the client has it. Coverage is the share
    of the client's latency that layer spans or wire account for: the
    unattributed rest is server.execute's self time (what no layer span
    inside it covers) and the handler's time outside any span (dispatch
    before execute, socket writes between frames)."""
    by_text: dict[str, list[dict]] = {}
    for rec in commands:
        by_text.setdefault(rec["text"], []).append(rec)
    out: dict[str, list[tuple[float, float]]] = {}
    for cls, text, r in client:
        for rec in by_text.get(text, ()):
            end = rec["frames_end"] or rec["t1"]
            if end is None or rec.get("matched"):
                continue
            recv = rec.get("t_recv") or rec["t0"]
            if r.t_send <= recv and end <= r.t_end:
                rec["matched"] = True
                wire = (recv - r.t_send) + (r.t_end - end)
                layers = (rec["t1"] - rec["t0"] - rec.get("execute_self_s", 0.0)
                          + rec["frames_s"])
                out.setdefault(cls, []).append((wire * 1000.0,
                                                (layers + wire) * 1000.0 / r.ms))
                break
    return out


def per_layer(res: dict) -> tuple[dict[str, float], dict]:
    """(metric name -> value, coverage detail) for one traced run."""
    rep = res["child"]
    totals = rep.get("totals", {})
    counts = rep.get("counts", {})
    cmds = rep.get("commands", [])
    census = cmds[: rep["census_count"]] if "census_count" in rep else cmds
    reads = [c for c in cmds if c.get("frames_end") is not None]
    shows = [c for c in cmds if c["text"].startswith("SHOW ")]
    setup = rep.get("setup_totals", {})

    def total(key):
        return sum(c.get(key, 0) for c in census)

    def self_total_ms(name):
        return totals.get(name, (0, 0.0, 0.0))[2] * 1000.0

    compact = totals.get("store.compact", (0, 0.0, 0.0))
    progress = rep.get("stream_progress", [])
    wire = match_wire(res["client"], cmds)
    coverage = {cls: median([c for _, c in v]) for cls, v in wire.items()}
    m = {
        "session.start_s": rep.get("session_s", 0.0),
        "commands.parse_ms": _self_per_call(totals, "commands.parse"),
        "commands.parse_calls": totals.get("commands.parse", (0,))[0],
        "schema.validate_us": _self_per_call(totals, "schema.validate", 1e6),
        "store.append_us": _self_per_call(totals, "store.append", 1e6),
        "store.wal_group_ms": _self_per_call(totals, "store.wal_group"),
        "store.flush_ms": _self_per_call(totals, "store.flush"),
        "store.flush_rows": counts.get("store.flush_rows", 0),
        "store.files": rep.get("store_files", 0),
        "store.compact_ms": compact[1] * 1000.0,
        "store.compactions": compact[0],
        "store.bytes_on_disk": rep.get("store_bytes", 0),
        "store.read_ms": _self_per_call(totals, "store.read"),
        "plans.compile_ms": _self_per_call(totals, "plans.compile"),
        "plans.py4j_calls": total("py4j"),
        "catalyst.analysis_ms": total("catalyst_analysis_ms"),
        "catalyst.optimization_ms": total("catalyst_optimization_ms"),
        "catalyst.planning_ms": total("catalyst_planning_ms"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.fetch_ms": self_total_ms("exec.fetch") / max(1, len(reads)),
        "exec.rows_scanned": total("rows_scanned"),
        "exec.files_read": total("files"),
        "exec.scan_ratio": total("rows_scanned") / max(1, total("rows")),
        "exec.background_jobs": rep.get("background_jobs", 0),
        "response.encode_ms": self_total_ms("response.encode") / max(1, len(reads)),
        "response.ttff_ms": median([c["ttff_ms"] for c in reads if c["ttff_ms"] is not None]),
        "response.rows": total("rows"),
        "response.bytes": total("bytes"),
        "server.wire_ms": median([w for v in wire.values() for w, _ in v]),
        "trace.coverage": min(coverage.values(), default=0.0),
        "server.execute_self_ms": median([c["execute_self_s"] * 1000.0 for c in reads
                                          if "execute_self_s" in c]),
        "materialize.remember_ms": _self_per_call(setup, "materialize.remember"),
        "materialize.show_ms": _self_per_call(totals, "materialize.show"),
        "materialize.show_jobs": sum(c.get("jobs", 0) for c in shows) / max(1, len(shows)),
        "streaming.batch_ms": median([p["batch_ms"] for p in progress]),
        "streaming.batches": len(progress),
        "streaming.state_rows": max((p["state_rows"] for p in progress), default=0),
        "pipeline.python_rows": total("python_rows"),
        "client.p50_ms": res["e2e"]["p50_ms"],
    }
    for op, secs in rep.get("op_s", {}).items():
        m[f"pipeline.{op}_s"] = secs
    return m, {"coverage": {k: round(v, 3) for k, v in coverage.items()}}
