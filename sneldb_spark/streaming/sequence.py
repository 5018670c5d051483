"""Streaming sequence (funnel) matching: FOLLOWED BY / PRECEDED BY over a
live stream.

The batch engine evaluates ``A FOLLOWED BY B LINKED BY k`` as an as-of
join (plans/sequence.py). This module gives the same pairing
incrementally over an unbounded stream via ``applyInPandasWithState``.
Timestamps are server-assigned at ingest, so the stream arrives in
timestamp order and no watermark is needed (the reference's T2
semantics): every event of a later micro-batch has ts >= the earlier
batch's max, and the drain equals the batch matcher's output.

One state layout serves every matcher. Link keys are hashed into
`STATE_BUCKETS` buckets (``pmod(xxhash64(link), STATE_BUCKETS)``); each
bucket is one ``applyInPandasWithState`` group and one state row holding
the pending state of all its links as flat per-link arrays. Inside a
bucket, matching is vectorized numpy over the whole micro-batch — no
per-event Python — and semantics stay exactly per link (order, expiry
horizons, the TTL cap). One pandas call per bucket instead of one per
link key is what makes state scale: per-key dispatch cost grows with
distinct link keys, not rows (45.8 s per-key vs 2.95 s bucketed at sf1
on identical output, BASELINE.md).

The bucket count is a constant, not derived from the cluster: the
key -> bucket mapping is baked into checkpoint state, and a count that
moved with parallelism would silently route a link's new events to a
bucket that does not hold its pending state. Each state row is stamped
with the count, and a restart under a different count fails with a
RuntimeError; a checkpoint of the old per-link-key layout fails Spark's
state schema check. Either way: delete the checkpoint and re-drain.

Multi-source caveat: the in-order-arrival guarantee is PER SOURCE. A
union of several file streams (e.g. one per event type over the engine's
per-type directories) can deliver one source's newer commit a
micro-batch before another source's older one — an always-on trigger
racing a multi-type FLUSH does exactly that. Drain such unions with
``trigger(availableNow=True)`` at flush barriers (each drain then sees
complete flushes, in order; state persists across drains via the
checkpoint — pinned by tests/test_streaming.py's live-store test), or
feed a single combined stream.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Hash buckets of the stateful grouping. Part of the checkpoint format:
# changing it invalidates every streaming sequence checkpoint.
STATE_BUCKETS = 256

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("link", T.StringType()),
        T.StructField("a_event_id", T.LongType()),
        T.StructField("a_timestamp", T.LongType()),
        T.StructField("b_event_id", T.LongType()),
        T.StructField("b_timestamp", T.LongType()),
    ]
)


def streaming_preceded_by(
    events: DataFrame,
    head_type: str,
    tail_type: str,
    link_field: str,
    max_gap_s: int | None = None,
) -> DataFrame:
    """``A PRECEDED BY B``: each arriving A pairs with the LATEST B seen
    strictly before it (largest (ts, event_id) with ts < ts_A — the
    batch as-of join). `max_gap_s` adds the conversion window: the pair
    only counts when the A lands within the window of that latest B (the
    latest B is the closest, so the filter is exact — batch
    `sequence_match(max_gap_s=...)` parity).

    State per link is at most two Bs: the latest, and the latest with a
    smaller timestamp. Later As have ts >= the latest B's, and one that
    ties it must pair with the earlier B, so no other B can ever match.
    With a window, Bs older than the window relative to their link's
    newest event are dropped after the batch."""

    def kernel(batch: pd.DataFrame, st: tuple | None) -> tuple:
        st_links, st_ts, st_id = st if st is not None else ((), (), ())
        S = len(st_links)
        ts = batch["timestamp"].to_numpy(np.int64, copy=False)
        eid = batch["event_id"].to_numpy(np.int64, copy=False)
        is_b = batch["__minpos"].to_numpy() == 1
        codes, uniques = pd.factorize(np.concatenate([
            np.asarray(st_links, dtype=object),
            batch["__link"].to_numpy(dtype=object, copy=False),
        ]))
        codes = codes.astype(np.int64, copy=False)
        ev_code = codes[S:]

        # candidate Bs (state, then batch) sorted by (link, ts, id); keep
        # the largest id per (link, ts) — the oracle's max(ts, id) tie rule
        b_code = np.concatenate([codes[:S], ev_code[is_b]])
        b_ts = np.concatenate([np.asarray(st_ts, dtype=np.int64), ts[is_b]])
        b_id = np.concatenate([np.asarray(st_id, dtype=np.int64), eid[is_b]])
        order = np.lexsort((b_id, b_ts, b_code))
        b_code, b_ts, b_id = b_code[order], b_ts[order], b_id[order]
        last = np.ones(len(b_code), dtype=bool)
        last[:-1] = (b_code[1:] != b_code[:-1]) | (b_ts[1:] != b_ts[:-1])
        b_code, b_ts, b_id = b_code[last], b_ts[last], b_id[last]

        # each A: the last candidate on its link strictly before it. A
        # dense ts rank makes (link, ts) one sortable int64 key.
        a = ~is_b
        a_code, a_ts, a_id = ev_code[a], ts[a], eid[a]
        hit = np.zeros(len(a_code), dtype=bool)
        pos = np.zeros(len(a_code), dtype=np.int64)
        if len(b_code) and len(a_code):
            _, rank = np.unique(np.concatenate([b_ts, a_ts]), return_inverse=True)
            K = np.int64(rank.max() + 1)
            b_key = b_code * K + rank[:len(b_ts)]
            pos = np.searchsorted(b_key, a_code * K + rank[len(b_ts):]) - 1
            hit = pos >= 0
            pos = np.maximum(pos, 0)
            hit &= b_code[pos] == a_code
            if max_gap_s is not None:
                hit &= a_ts - b_ts[pos] <= max_gap_s
        out = None
        if hit.any():
            p = pos[hit]
            out = pd.DataFrame({
                "link": uniques[a_code[hit]],
                "a_event_id": a_id[hit], "a_timestamp": a_ts[hit],
                "b_event_id": b_id[p], "b_timestamp": b_ts[p],
            })

        # new state: the last two candidates per link (distinct ts after
        # the dedup above), minus Bs out of the window of their link's
        # newest event
        keep = np.ones(len(b_code), dtype=bool)
        keep[:-2] = b_code[2:] != b_code[:-2]
        if max_gap_s is not None:
            newest = np.full(len(uniques), np.iinfo(np.int64).min, dtype=np.int64)
            np.maximum.at(newest, ev_code, ts)
            keep &= ~(b_ts + max_gap_s < newest[b_code])
        if not keep.any():
            return out, None
        return out, (
            uniques[b_code[keep]].tolist(), b_ts[keep].tolist(), b_id[keep].tolist()
        )

    return _bucketed(
        _sides(events, [head_type, tail_type], link_field),
        kernel,
        MATCH_SCHEMA,
        [
            T.StructField("links", T.ArrayType(T.StringType())),
            T.StructField("ts", T.ArrayType(T.LongType())),
            T.StructField("ids", T.ArrayType(T.LongType())),
        ],
    )


def streaming_chain(
    events: DataFrame,
    step_types: list[str],
    link_field: str,
    state_ttl_rows: int = 100_000,
    max_gap_s: int | None = None,
) -> DataFrame:
    """Multi-step streaming funnel: ``E0 FOLLOWED BY E1 FOLLOWED BY ...``
    matched incrementally (the streaming analogue of the batch
    `plans/sequence.py sequence_match_chain`; the reference caps chains at
    one link, matcher.rs:297-307 — this is the same extension surface).
    A two-step chain is ``A FOLLOWED BY B``; its output columns are
    `link, s0_event_id, s0_timestamp, s1_event_id, s1_timestamp`.

    Semantics are the batch chain's, evaluated greedily as events arrive
    in server-timestamp order: an E0 starts a chain; an arriving event at
    step position i advances EVERY pending chain awaiting that step whose
    cursor ts <= its ts (it is the earliest at-or-after candidate for all
    of them — ties processed earlier-position-first so an equal-ts event
    can serve adjacent steps of the same chain, the batch tie rule). A
    chain that completes the last step emits one row with every step's
    (event_id, timestamp); chains advance once per step (one match per
    head) and a single event may serve many chains.

    `max_gap_s` bounds every adjacent link gap (batch WITHIN parity) and
    doubles as the state horizon: a pending chain whose cursor is older
    than the window relative to its link's newest event can never advance
    again and is dropped after the batch (never mid-batch — a horizon
    computed mid-batch could evict a chain an in-window event later in
    the same batch would still advance).

    Output contract (ADVICE r5): `state_ttl_rows` is a memory backstop,
    not a semantic knob — when a single link key holds more pending
    chains than the cap, the OLDEST pending chains are dropped and any
    match they would later have completed is silently missing, a
    documented divergence from the batch matcher on such keys. Batch
    parity is exact whenever no key exceeds the cap (the parity tests
    pin this); set `max_gap_s` so expiry, not the cap, bounds hot keys.

    Bucket state is the list of incomplete chains of all its links,
    flat-encoded (per-chain link + matched-step count, concatenated
    ts/id histories) so it stays a fixed struct at any chain length."""
    if len(step_types) < 2:
        raise ValueError("streaming_chain needs at least two step types")
    n_steps = len(step_types)
    # a type may occur at several positions; the event serves each,
    # ascending, so cascades through equal-ts adjacent steps work
    positions: dict[str, list[int]] = {}
    for i, t in enumerate(step_types):
        positions.setdefault(t, []).append(i)

    out_fields = [T.StructField("link", T.StringType())]
    for i in range(n_steps):
        out_fields.append(T.StructField(f"s{i}_event_id", T.LongType()))
        out_fields.append(T.StructField(f"s{i}_timestamp", T.LongType()))

    def kernel(batch: pd.DataFrame, st: tuple | None) -> tuple:
        """Vectorized multi-link chain matching over one sorted micro-batch.

        With the batch sorted in processing order (ts, minpos, event_id),
        "advance every pending chain whose cursor ts <= event ts" collapses
        to a per-chain FIRST-CANDIDATE lookup — a chain whose step-p match
        sits at batch index j advances at step p+1 on the first index
        i >= j (inclusive: the same event serves adjacent steps when its
        type holds both positions) whose event serves p+1 on the same
        link. That lookup is one `np.searchsorted` over a composite
        (link_code * (N+1) + index) key array per step, vectorized across
        every chain awaiting that step; n_steps-1 rounds cover all chains
        since cursors only move forward. State chains (cursor from a prior
        batch) enter via ts: their starting index is
        `searchsorted(ts, cursor_ts)` — the batch is ts-ascending and the
        advance condition is `cursor_ts <= ts`.

        A chain whose first candidate fails the gap check stalls for the
        whole batch (later candidates are only farther in ts) and is left
        pending for horizon expiry. Expiry and the per-link TTL cap touch
        only links that saw events this batch, horizons from each link's
        own batch-max ts, newest `state_ttl_rows` chains kept in pend
        order (state order, then E0 creation order).
        """
        st_links, st_steps, st_flat_ts, st_flat_id = st if st is not None else ((), (), (), ())
        S = len(st_steps)
        st_steps_a = np.asarray(st_steps, dtype=np.int64)
        N = len(batch)
        ts = batch["timestamp"].to_numpy(np.int64, copy=False)
        eid = batch["event_id"].to_numpy(np.int64, copy=False)

        # one link-code space across state chains + batch rows
        codes, uniques = pd.factorize(np.concatenate([
            np.asarray(st_links, dtype=object),
            batch["__link"].to_numpy(dtype=object, copy=False),
        ]))
        codes = codes.astype(np.int64, copy=False)
        n_codes = len(uniques)
        ev_code = codes[S:]

        # which batch rows serve which step position
        tcodes, tuniq = pd.factorize(batch["event_type"].to_numpy(dtype=object, copy=False))
        serves = np.zeros((len(tuniq), n_steps), dtype=bool)
        for ti, t in enumerate(tuniq):
            serves[ti, positions[t]] = True

        BIG = np.int64(N + 1)
        idxs = np.arange(N, dtype=np.int64)
        cand_keys: list[np.ndarray] = []
        cand_idx: list[np.ndarray] = []
        for p in range(n_steps):
            m = serves[tcodes, p]
            ci = idxs[m]
            cl = ev_code[m]
            order = np.argsort(cl, kind="stable")  # (link, idx): idx already asc
            ci = ci[order]
            cand_keys.append(cl[order] * BIG + ci)
            cand_idx.append(ci)

        # chain matrices: state chains first (state order), then one chain
        # per step-0 event in event order
        e0 = np.sort(cand_idx[0])
        C = S + len(e0)
        ch_ts = np.zeros((C, n_steps), np.int64)
        ch_id = np.zeros((C, n_steps), np.int64)
        ch_len = np.zeros(C, np.int64)
        ch_link = np.empty(C, np.int64)
        ch_m = np.zeros(C, np.int64)  # min candidate batch index (inclusive)
        if S:
            off = np.concatenate([[0], np.cumsum(st_steps_a)])
            row = np.repeat(np.arange(S), st_steps_a)
            col = np.arange(off[-1], dtype=np.int64) - np.repeat(off[:-1], st_steps_a)
            ch_ts[row, col] = np.asarray(st_flat_ts, dtype=np.int64)
            ch_id[row, col] = np.asarray(st_flat_id, dtype=np.int64)
            ch_len[:S] = st_steps_a
            ch_link[:S] = codes[:S]
            cursor = ch_ts[np.arange(S), st_steps_a - 1]
            ch_m[:S] = np.searchsorted(ts, cursor, side="left")
        ch_ts[S:, 0] = ts[e0]
        ch_id[S:, 0] = eid[e0]
        ch_len[S:] = 1
        ch_link[S:] = ev_code[e0]
        ch_m[S:] = e0
        stalled = np.zeros(C, dtype=bool)

        for p in range(1, n_steps):
            active = np.flatnonzero((ch_len == p) & ~stalled)
            if not len(active):
                continue
            keys = cand_keys[p]
            if not len(keys):
                stalled[active] = True
                continue
            target = ch_link[active] * BIG + ch_m[active]
            pos = np.searchsorted(keys, target, side="left")
            ok = pos < len(keys)
            safe = np.minimum(pos, len(keys) - 1)
            found = cand_idx[p][safe]
            hit = ok & (keys[safe] // BIG == ch_link[active])
            if max_gap_s is not None:
                hit &= ts[found] - ch_ts[active, p - 1] <= max_gap_s
            adv = active[hit]
            f = found[hit]
            ch_ts[adv, p] = ts[f]
            ch_id[adv, p] = eid[f]
            ch_len[adv] = p + 1
            ch_m[adv] = f
            stalled[active[~hit]] = True

        done = ch_len == n_steps
        out = None
        if done.any():
            out = {"link": uniques[ch_link[done]]}
            for i in range(n_steps):
                out[f"s{i}_event_id"] = ch_id[done, i]
                out[f"s{i}_timestamp"] = ch_ts[done, i]
            out = pd.DataFrame(out)

        # pending: expiry + per-link TTL cap, only for links seen this batch
        pend = np.flatnonzero(~done)
        if len(pend):
            last = np.full(n_codes, np.iinfo(np.int64).min, dtype=np.int64)
            np.maximum.at(last, ev_code, ts)
            plink = ch_link[pend]
            seen = last[plink] != np.iinfo(np.int64).min
            if max_gap_s is not None:
                cur = ch_ts[pend, ch_len[pend] - 1]
                pend = pend[~(seen & (cur < last[plink] - max_gap_s))]
                plink = ch_link[pend]
                seen = last[plink] != np.iinfo(np.int64).min
            # cap: drop all but the newest state_ttl_rows chains per seen
            # link; pend is already in pend order (state, then creation)
            order = np.argsort(plink, kind="stable")
            sl = plink[order]
            counts = np.bincount(sl, minlength=n_codes)
            starts = np.concatenate([[0], np.cumsum(counts)])[:-1]
            from_end = counts[sl] - (np.arange(len(sl)) - starts[sl])
            keep = ~seen[order] | (from_end <= state_ttl_rows)
            pend = np.sort(pend[order[keep]])  # restore pend order
        if not len(pend):
            return out, None
        plen = ch_len[pend]
        row = np.repeat(pend, plen)
        col_off = np.concatenate([[0], np.cumsum(plen)])
        col = np.arange(col_off[-1], dtype=np.int64) - np.repeat(col_off[:-1], plen)
        return out, (
            uniques[ch_link[pend]].tolist(),
            plen.tolist(),
            ch_ts[row, col].tolist(),
            ch_id[row, col].tolist(),
        )

    return _bucketed(
        _sides(events, step_types, link_field),
        kernel,
        T.StructType(out_fields),
        [
            T.StructField("links", T.ArrayType(T.StringType())),
            T.StructField("steps", T.ArrayType(T.IntegerType())),
            T.StructField("flat_ts", T.ArrayType(T.LongType())),
            T.StructField("flat_id", T.ArrayType(T.LongType())),
        ],
    )


def _sides(events: DataFrame, step_types: list[str], link_field: str) -> DataFrame:
    """The matchers' input rows: link, ts, id, type and `__minpos`, the
    type's first step position (0 = head side)."""
    minpos = F.lit(None).cast("int")
    for i, t in reversed(list(enumerate(step_types))):
        minpos = F.when(F.col("event_type") == t, F.lit(i)).otherwise(minpos)
    return events.where(
        F.col("event_type").isin(list(step_types)) & F.col(link_field).isNotNull()
    ).select(
        F.col(link_field).cast("string").alias("__link"),
        F.col("timestamp").cast("long").alias("timestamp"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        minpos.alias("__minpos"),
    )


def _bucketed(
    sides: DataFrame,
    kernel: Callable[[pd.DataFrame, tuple | None], tuple],
    out_schema: T.StructType,
    state_fields: list[T.StructField],
) -> DataFrame:
    """Group `sides` by hash bucket and run `kernel(batch, state)` once per
    bucket and micro-batch. The batch is every chunk of the bucket sorted
    once in processing order (ts, minpos, event_id) — chunk boundaries
    carry no ordering guarantee. `kernel` returns (output frame or None,
    new state tuple or None to clear); the state row is stamped with the
    bucket count, checked on every restore."""
    n_buckets = STATE_BUCKETS

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st = None
        if state.exists:
            stamp, *st = state.get
            if stamp != n_buckets:
                # a built-in type: executors cannot import sneldb_spark
                raise RuntimeError(
                    f"streaming sequence state was written with {stamp} key "
                    f"buckets but this engine uses {n_buckets}: delete the "
                    "checkpoint and re-drain"
                )
        chunks = list(pdfs)
        if not chunks:
            return
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        batch = batch.sort_values(["timestamp", "__minpos", "event_id"], kind="stable")
        out, new_state = kernel(batch, st)
        if new_state is not None:
            state.update((n_buckets, *new_state))
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    return (
        sides.withColumn("__bucket", F.pmod(F.xxhash64("__link"), F.lit(n_buckets)))
        .groupBy("__bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=T.StructType(
                [T.StructField("buckets", T.IntegerType()), *state_fields]
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
