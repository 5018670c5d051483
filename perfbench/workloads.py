"""The served workload: read_serve.

It returns a dict with the run's end-to-end metrics (`e2e`), per-layer
inputs (`child` report, client-side samples) and `detail` for humans.
Latencies are in milliseconds, from send to the end frame or reply.
"""

from __future__ import annotations

import threading
import time

import gen
import oracle
from harness import Ctx, ServerChild, dir_stats, median, tail
from wire import Conn

SETUP_REPS = 3
READ_EVENTS = 30_000


def _preload(ctx: Ctx, n: int) -> tuple[str, object, int]:
    """Write the seed's events parquet; return (path, duckdb, payload bytes)."""
    table = gen.events_table(ctx.seed, n, contexts=n // 20)
    path = ctx.path("events.parquet")
    gen.write_events(path, table)
    con = oracle.connect({"ev": path})
    return path, con, oracle.payload_bytes(con)


def mix_median(samples) -> float:
    """The mix's typical latency from (class, text, ms) samples: each
    command text's median, averaged within its class, then over classes
    with the READ_MIX weights. One median over a mixture jumps between the
    latency clusters of its commands as sample counts shift; the medians of
    single commands do not."""
    by_text: dict[tuple[str, str], list[float]] = {}
    for cls, text, ms in samples:
        by_text.setdefault((cls, text), []).append(ms)
    by_class: dict[str, list[float]] = {}
    for (cls, _), xs in by_text.items():
        by_class.setdefault(cls, []).append(median(xs))
    weights = dict(gen.READ_MIX)
    total = sum(weights[c] for c in by_class)
    return sum(weights[c] * sum(x) / len(x) for c, x in by_class.items()) / total


def _check_rows(ctx: Ctx, reply, want: oracle.Expect, text: str) -> bool:
    kind, cols, rows = reply.decode()
    return ctx.check(kind == "rows" and want.matches(cols, rows), f"wrong answer: {text}")


def _closed_loop(port: int, conns: int, texts, start: float, deadline: float,
                 on_reply) -> float:
    """`conns` connections, each sending its share of `texts` back to back
    until `deadline`. on_reply(text_index, reply) runs after each answer
    arrives. Returns commands completed per second: the sum
    over connections of each one's count over its own busy time, so the
    last command's overrun past the deadline is not a rounding step."""
    rates = [0.0] * conns

    def worker(c: int):
        conn = Conn(port)
        try:
            done = 0
            for i in range(c, len(texts), conns):
                if time.monotonic() >= deadline:
                    break
                on_reply(i, conn.call(texts[i]))
                done += 1
            rates[c] = done / (time.monotonic() - start)
        finally:
            conn.close()

    _run_threads(worker, conns)
    return sum(rates)


def _run_threads(fn, n: int) -> None:
    """Run fn(0) .. fn(n - 1) on their own threads; re-raise the first error."""
    errors: list[BaseException] = []

    def guarded(i: int):
        try:
            fn(i)
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _served_result(child, report, e2e, detail, client_cmds=()):
    detail.update({"session_s": round(child.ready["session_s"], 3),
                   "setup_reps_s": [round(x, 3) for x in child.ready["setup_s"]]})
    e2e["setup_s"] = median(child.ready["setup_s"])
    e2e["peak_mem_mb"] = child.peak_mem_mb
    return {"e2e": e2e, "child": report, "detail": detail, "client": list(client_cmds)}


# -- read_serve ------------------------------------------------------------------
def read_serve(ctx: Ctx) -> dict:
    path, con, payload_bytes = _preload(ctx, READ_EVENTS)
    pool = gen.read_pool(ctx.seed, READ_EVENTS // 20)
    expects = [oracle.expect(con, sql) for _, _, sql in pool]
    con.close()
    ctx.mark("inputs")
    child = ServerChild(ctx, {"defines": gen.define_commands(), "preload": path,
                              "preload_parts": 2, "reps": SETUP_REPS,
                              "setup_commands": gen.REMEMBERS})
    try:
        # warm-up: every distinct command once. In a traced run this pass
        # is also the census, so it runs in pool order on one connection;
        # otherwise the pool is split over the run's two connections.
        census_replies = []

        def warm(i, reply):
            _check_rows(ctx, reply, expects[i], pool[i][1])
            census_replies.append((pool[i][0], pool[i][1], reply))

        _closed_loop(child.port, 1 if ctx.trace else 2, [text for _, text, _ in pool],
                     time.monotonic(), float("inf"), warm)
        ctx.mark("warm")

        schedule = gen.read_schedule(pool, 5_000)
        samples: list[tuple[str, str, object]] = []
        lock = threading.Lock()

        def on_reply(i, reply):
            j = schedule[i]
            with lock:
                samples.append((pool[j][0], pool[j][1], reply))
            _check_rows(ctx, reply, expects[j], pool[j][1])

        start = time.monotonic()
        reads_per_s = _closed_loop(child.port, 2, [pool[j][1] for j in schedule],
                                   start, start + ctx.seconds, on_reply)
    except BaseException:
        child.kill()
        raise
    ctx.mark("timed")
    report = child.close()
    ctx.mark("stop")
    size, files = dir_stats(child.ready["root"])
    lat = [r.ms for _, _, r in samples]
    by_class: dict[str, list[float]] = {}
    for cls, _, r in samples:
        by_class.setdefault(cls, []).append(r.ms)
    p, v = tail(lat)
    detail = {f"{c}_p50_ms": round(median(x), 2) for c, x in sorted(by_class.items())}
    detail.update({"reads": len(lat), f"read_p{round(p * 100)}_ms": round(v, 2),
                   "ttff_p50_ms": round(median([r.ttff_ms for _, _, r in samples]), 2),
                   "distinct_commands": len(pool), "store_files": files})
    e2e = {"p50_ms": mix_median([(c, t, r.ms) for c, t, r in samples]),
           "ops_per_s": reads_per_s,
           "space_amp": size / payload_bytes}
    report["store_bytes"], report["store_files"] = size, files
    report["census_count"] = len(pool)
    return _served_result(child, report, e2e, detail,
                          census_replies + samples)
