"""Sequence matching (FOLLOWED BY / PRECEDED BY) as a single-shuffle as-of join.

Semantics (verified against the reference's two-pointer matcher,
reference: src/engine/core/read/sequence/matcher.rs:310-611):

- `A FOLLOWED BY B LINKED BY k`: for each A row, the matched B is the
  *earliest* B in the same link group with `ts_B >= ts_A` (ties allowed,
  one match per A, a B may serve multiple As).
- `A PRECEDED BY B LINKED BY k`: for each A row, the matched B is the
  *latest* B with `ts_B < ts_A` (strict).

Spark-first plan: instead of an O(|A|x|B|) range join + dedup (two
shuffles and a quadratic blow-up on hot links), we union both sides and
use one window over the link key:

    sort within link group by (ts, side, tiebreak)
    FOLLOWED BY: min(B-struct) over [current row .. unbounded following]
    PRECEDED BY: max(B-struct) over [unbounded preceding .. current row - 1]

Side ordering makes the tie semantics exact: A sorts before B at equal ts,
so the forward frame *includes* same-ts Bs and the backward frame *excludes*
them. min/max ignore nulls, and struct comparison is lexicographic on
(ts, event_id), which is the reference's append-order tiebreak. One shuffle
on the link key, no join explosion.

Skew note: a single hot link key serializes into one window partition —
AQE splits skewed JOINs, not windows. The running-frame evaluation keeps
it O(n log n) in the group size (measured ~1M rows on one key locally
without spill trouble). For genuinely hot keys, `check_link_skew` is the
pre-flight diagnostic and `sequence_match_sliced` is the exact
mitigation: it cuts the timeline into contiguous ts slices, runs the
same window per (link, slice), and rescues cross-slice pairs from a
tiny per-slice first/last-B summary — identical output, n_slices-way
parallelism per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sneldb_spark.commands.ast import FOLLOWED_BY, PRECEDED_BY

A_PREFIX = "a_"
B_PREFIX = "b_"


# One window partition processes an entire link group; past this many
# rows on one key the partition serializes badly and deserves a loud
# signal instead of a silent stall (see the skew note above).
HOT_LINK_KEY_THRESHOLD = 5_000_000


def check_link_skew(
    a: DataFrame,
    b: DataFrame,
    link_field: str,
    threshold: int = HOT_LINK_KEY_THRESHOLD,
) -> list[tuple]:
    """Diagnostic pre-flight for sequence queries: count rows per link key
    over both sides and WARN for keys whose group exceeds `threshold` —
    at 100x scale a hot key serializes one window partition (the bound is
    inherent to the semantics; the reference's per-group matcher carries
    the same one). One cheap count aggregate; only the hot tail (top 20)
    reaches the driver. Returns [(key, rows), ...] so callers can fail
    fast or repartition the offending groups out of band."""
    import logging

    hot = (
        a.select(F.col(link_field).alias("__k"))
        .unionByName(b.select(F.col(link_field).alias("__k")))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= F.lit(threshold))
        .orderBy(F.col("__n").desc())
        .limit(20)
        .collect()
    )
    pairs = [(r["__k"], r["__n"]) for r in hot]
    if pairs:
        logging.getLogger(__name__).warning(
            "sequence link key skew: %d key(s) above %d rows (worst: %r with "
            "%d); each hot key serializes one window partition",
            len(pairs), threshold, pairs[0][0], pairs[0][1],
        )
    return pairs


def sequence_match(
    a: DataFrame,
    b: DataFrame,
    link_field: str,
    kind: str,
    *,
    ts_a: Column | str = "timestamp",
    ts_b: Column | str = "timestamp",
    tie: str = "event_id",
    skew_check: bool = False,
    max_gap_s: int | None = None,
) -> DataFrame:
    """Return one row per matched (A, B) pair with columns a_* and b_*.
    `skew_check=True` runs the check_link_skew pre-flight (one eager
    count job) before building the plan.

    `max_gap_s` adds a CONVERSION WINDOW (extension — the reference has
    no gap bound): the pair only counts when |ts_B - ts_A| <= max_gap_s.
    Because the matcher already picks the closest qualifying B (first
    at-or-after for FOLLOWED BY, last strictly-before for PRECEDED BY),
    a post-filter on the matched pair IS the exact windowed semantics —
    if the closest B misses the window, every other candidate misses it
    by more. Zero extra shuffles."""
    if kind not in (FOLLOWED_BY, PRECEDED_BY):
        raise ValueError(f"unknown sequence link kind {kind!r}")
    if skew_check:
        check_link_skew(a, b, link_field)
    u, a_cols, b_cols = _sided_union(a, b, link_field, ts_a, ts_b, tie)
    matched = _apply_asof_window(u, kind, b_cols)
    if max_gap_s is not None:
        matched = matched.where(
            F.abs(F.col("__match.ts") - F.col("__ts")) <= F.lit(int(max_gap_s))
        )
    # ONE selectExpr call instead of one py4j Column round trip per output
    # column: on the materializer's delta-match paths the driver builds
    # these plans on every SHOW, and per-column construction measured as
    # ~2 s of py4j socket time per chain refresh (round 12).
    return matched.selectExpr(
        *[_bq(A_PREFIX + c) for c in a_cols],
        *[f"__match.{_bq(B_PREFIX + c)} AS {_bq(B_PREFIX + c)}" for c in b_cols],
    )


def _bq(name: str) -> str:
    """Backquote a column name for selectExpr (dots in a raw F.col name
    would mean struct access; a quoted identifier stays one column —
    engine field names are plain identifiers either way)."""
    return "`" + name.replace("`", "``") + "`"


def _sided_union(
    a: DataFrame,
    b: DataFrame,
    link_field: str,
    ts_a: Column | str,
    ts_b: Column | str,
    tie: str,
) -> tuple[DataFrame, list[str], list[str]]:
    a_cols = list(a.columns)
    b_cols = list(b.columns)

    def side(df: DataFrame, ts: Column | str, side_lit: int, prefix: str,
             cols: list[str]) -> DataFrame:
        if isinstance(ts, str):
            # all-string select: one selectExpr py4j call for the whole
            # projection (the hot path — the materializer and the chain
            # builder always pass field names)
            return df.selectExpr(
                f"{_bq(link_field)} AS `__link`",
                f"CAST({_bq(ts)} AS BIGINT) AS `__ts`",
                f"CAST({_bq(tie)} AS BIGINT) AS `__tie`",
                f"{side_lit} AS `__side`",
                *[f"{_bq(c)} AS {_bq(prefix + c)}" for c in cols],
            )
        return df.select(
            F.col(link_field).alias("__link"),
            ts.cast("long").alias("__ts"),
            F.col(tie).cast("long").alias("__tie"),
            F.lit(side_lit).alias("__side"),
            *[F.col(c).alias(prefix + c) for c in cols],
        )

    a_side = side(a, ts_a, 0, A_PREFIX, a_cols)
    b_side = side(b, ts_b, 1, B_PREFIX, b_cols)
    return a_side.unionByName(b_side, allowMissingColumns=True), a_cols, b_cols


def _b_struct(b_cols: list[str]) -> Column:
    return F.when(
        F.col("__side") == 1,
        F.struct(
            F.col("__ts").alias("ts"),
            F.col("__tie").alias("tie"),
            *[F.col(B_PREFIX + c).alias(B_PREFIX + c) for c in b_cols],
        ),
    )


def _apply_asof_window(
    u: DataFrame,
    kind: str,
    b_cols: list[str],
    *,
    partition_cols: tuple[str, ...] = ("__link",),
    keep_unmatched: bool = False,
) -> DataFrame:
    """Core as-of evaluation over a sided union with (__link, __ts, __tie,
    __side, b_*...) columns. Returns the A rows with their `__match`
    (matched rows only unless `keep_unmatched`, which the sliced matcher
    uses to rescue cross-slice pairs)."""
    # Rows with a NULL link value or NULL timestamp can never participate.
    u = u.where(F.col("__link").isNotNull() & F.col("__ts").isNotNull())

    b_struct = _b_struct(b_cols)

    if kind == FOLLOWED_BY:
        # Sort DESCENDING so the forward frame becomes a running
        # [unboundedPreceding, currentRow] aggregate — Spark evaluates
        # running frames in one O(n) pass per partition, while
        # [currentRow, unboundedFollowing] frames re-scan per row
        # (~9x slower on hot link keys). Side desc keeps same-ts Bs
        # inside the frame; min(struct) is order-independent.
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col("__ts").desc(), F.col("__side").desc(), F.col("__tie").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        match = F.min(b_struct).over(w)
    else:
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__tie").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        match = F.max(b_struct).over(w)

    out = u.withColumn("__match", match).where(F.col("__side") == 0)
    if keep_unmatched:
        return out
    return out.where(F.col("__match").isNotNull())


def sequence_match_unified(
    events: DataFrame,
    head_type: str,
    tail_type: str,
    link_field: str,
    kind: str = FOLLOWED_BY,
    *,
    type_col: str = "event_type",
    ts_col: str = "timestamp",
    tie: str = "event_id",
) -> DataFrame:
    """As-of matching from ONE scan of a unified event table.

    `sequence_match` unions two per-type scans, and a union discards any
    physical distribution — so even over a bucketed table the window must
    re-shuffle. Here both sides come from a single scan with a computed
    side column, which PRESERVES the scan's partitioning: over a table
    bucketed on the link field the whole funnel runs with zero exchanges
    (see test_plans). Identical pairing semantics, same single window.
    """
    if kind not in (FOLLOWED_BY, PRECEDED_BY):
        raise ValueError(f"unknown sequence link kind {kind!r}")
    cols = list(events.columns)
    u = events.where(F.col(type_col).isin([head_type, tail_type])).select(
        F.col(link_field).alias("__link"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(tie).cast("long").alias("__tie"),
        F.when(F.col(type_col) == head_type, F.lit(0)).otherwise(F.lit(1)).alias("__side"),
        *[F.col(c).alias(A_PREFIX + c) for c in cols],
        *[F.col(c).alias(B_PREFIX + c) for c in cols],
    )
    matched = _apply_asof_window(u, kind, cols)
    out_cols = [F.col(A_PREFIX + c) for c in cols] + [
        F.col("__match." + B_PREFIX + c).alias(B_PREFIX + c) for c in cols
    ]
    return matched.select(*out_cols)


def sequence_match_sliced(
    a: DataFrame,
    b: DataFrame,
    link_field: str,
    kind: str,
    *,
    n_slices: int = 32,
    ts_a: Column | str = "timestamp",
    ts_b: Column | str = "timestamp",
    tie: str = "event_id",
) -> DataFrame:
    """`sequence_match` with hot-link-key skew broken by TIME SLICING —
    identical output, bounded partitions.

    The plain matcher serializes each link group into one window
    partition (AQE splits skewed joins, not windows). Here the timeline
    is cut into `n_slices` contiguous ts ranges and the same as-of window
    runs per (link, slice) — a hot key now parallelizes n_slices-wide and
    each partition's memory is ~1/n_slices of the group. Cross-slice
    pairs are rescued EXACTLY with a per-(link, slice) summary:

    - FOLLOWED BY: an A unmatched within its slice pairs with the overall
      first B after its slice, which is min over later slices of each
      slice's first-B struct — a running min over the (tiny) summary.
      Every B in a later slice has strictly greater ts than any row of
      the A's slice (slices partition the ts domain), so `ts_B >= ts_A`
      holds and within-slice ordering already settled all same-ts ties.
    - PRECEDED BY symmetrically: the last B of the latest earlier slice
      holding any B; strictness of `ts_B < ts_A` is again guaranteed by
      slice disjointness.

    Costs vs the plain matcher: one extra tiny job for the ts bounds
    (2 scalars to the driver), one aggregate over the union for the
    summary (n_slices rows per link), and a broadcast-sized join to
    rescue unmatched As. Worth it only for skewed data — the compiler
    uses the plain single-window path by default and callers opt in when
    `check_link_skew` fires (reference's per-group matcher carries the
    same serial bound: src/engine/core/read/sequence/group.rs).
    """
    if kind not in (FOLLOWED_BY, PRECEDED_BY):
        raise ValueError(f"unknown sequence link kind {kind!r}")
    if n_slices < 2:
        return sequence_match(a, b, link_field, kind, ts_a=ts_a, ts_b=ts_b, tie=tie)

    u, a_cols, b_cols = _sided_union(a, b, link_field, ts_a, ts_b, tie)
    u = u.where(F.col("__link").isNotNull() & F.col("__ts").isNotNull())

    bounds = u.agg(F.min("__ts").alias("mn"), F.max("__ts").alias("mx")).collect()[0]
    if bounds["mn"] is None:
        empty = _apply_asof_window(u, kind, b_cols)
        return empty.select(
            *[F.col(A_PREFIX + c) for c in a_cols],
            *[F.col("__match." + B_PREFIX + c).alias(B_PREFIX + c) for c in b_cols],
        )
    width = max((int(bounds["mx"]) - int(bounds["mn"]) + n_slices) // n_slices, 1)
    u = u.withColumn(
        "__slice", ((F.col("__ts") - F.lit(int(bounds["mn"]))) / F.lit(width)).cast("long")
    )

    within = _apply_asof_window(
        u, kind, b_cols, partition_cols=("__link", "__slice"), keep_unmatched=True
    )

    # Per-(link, slice) B summary from a SECOND scan of the union (the
    # scan aggregates down map-side immediately — n_slices rows per link
    # cross the wire, never the data): fb/lb are null for slices without
    # a B and min/max ignore nulls, so every (link, slice) an A occupies
    # has a summary row to join against. Not cached: persisting a
    # corpus-sized union would thrash at scale, and re-running a pruned
    # scan is the cheaper side of that trade.
    summary = u.groupBy("__link", "__slice").agg(
        F.min(_b_struct(b_cols)).alias("__fb"), F.max(_b_struct(b_cols)).alias("__lb")
    )
    if kind == FOLLOWED_BY:
        w = (
            Window.partitionBy("__link")
            .orderBy(F.col("__slice").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cross = F.min(F.col("__fb")).over(w)
    else:
        w = (
            Window.partitionBy("__link")
            .orderBy(F.col("__slice").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cross = F.max(F.col("__lb")).over(w)
    cross_b = summary.select("__link", "__slice", cross.alias("__cross"))

    # ONE pass over the window output: a within-slice match always beats
    # the cross-slice candidate (it is strictly nearer in time), so the
    # rescue is a coalesce after a left join against the tiny summary —
    # no second evaluation of the window, no union of two branches. The
    # join key equals the window partitioning, so only cross_b moves; the
    # broadcast-vs-shuffle choice is left to AQE (cross_b is n_slices
    # rows per link — usually broadcast, but never forced).
    final = (
        within.join(cross_b, ["__link", "__slice"], "left")
        .withColumn("__m", F.coalesce(F.col("__match"), F.col("__cross")))
        .where(F.col("__m").isNotNull())
    )
    out_cols = [F.col(A_PREFIX + c) for c in a_cols] + [
        F.col("__m." + B_PREFIX + c).alias(B_PREFIX + c) for c in b_cols
    ]
    return final.select(*out_cols)


def sequence_match_chain(
    frames: list[DataFrame],
    link_field: str,
    kinds: list[str],
    *,
    ts: str = "timestamp",
    tie: str = "event_id",
    n_slices: int = 0,
    step_hook=None,
) -> DataFrame:
    """Multi-step funnel matching (extension — the reference caps chains
    at one link and warns, matcher.rs:297-307; composed as-of windows
    express the rest naturally in Spark).

    `step_hook(chain, i)`, when given, is applied to the chain right
    after link i lands and its RETURN VALUE becomes the chain the next
    link builds on — funnel_report uses it to count/persist each prefix
    so an N-step report costs N window passes, not 1+2+...+N. Matching
    is per-chain-row independent (each row as-of picks its own next
    event), so a hook that filters or persists rows never changes which
    events the surviving chains match.

    `frames` is [E0, E1, ..., EN]; `kinds[i]` links step i to step i+1.
    Output has every step's columns under `s{i}_` prefixes, one row per
    fully-matched chain. Each link applies the single-link semantics with
    the CURSOR advanced to the previously matched event:

    - FOLLOWED_BY: step i+1 = earliest E_{i+1} with ts >= matched
      E_i's ts (ties allowed — the same one-match-per-head, B-reusable
      rule as the single link);
    - PRECEDED_BY: step i+1 = latest E_{i+1} with ts < matched E_i's ts.

    Matching is greedy left-to-right (each step commits before the next
    is considered) — the standard funnel interpretation, NOT a global
    constraint solve. When two adjacent steps share an event type, an
    equal-timestamp event can serve both steps (the cursor constraint is
    on ts only, mirroring the single link's tie rule).

    Plan shape: one as-of window shuffle per link, all on the link key —
    N links cost N window passes over (chain ∪ next-side) rows, never a
    join explosion. The per-key skew bound of the single matcher applies
    per step; `n_slices >= 2` routes every step through the time-sliced
    matcher (identical pairs, hot keys parallelize n_slices-wide per
    step — the same exact mitigation the single link offers).
    """
    if len(frames) != len(kinds) + 1:
        raise ValueError("chain needs len(frames) == len(kinds) + 1")
    if not kinds:
        raise ValueError("chain needs at least one link")

    chain = frames[0]
    for i, (kind, nxt) in enumerate(zip(kinds, frames[1:])):
        chain = chain_link(chain, nxt, link_field, kind, i, ts=ts, tie=tie,
                           n_slices=n_slices)
        if step_hook is not None:
            chain = step_hook(chain, i + 1)
    return chain


def chain_link(
    chain: DataFrame,
    nxt: DataFrame,
    link_field: str,
    kind: str,
    i: int,
    *,
    ts: str = "timestamp",
    tie: str = "event_id",
    n_slices: int = 0,
) -> DataFrame:
    """One link of a stepwise chain match: link i joins step i to step
    i+1. For i == 0, `chain` is the unprefixed head frame and the result
    is an s0_/s1_ chain; for i >= 1, `chain` is an s-prefixed chain whose
    cursor is step i and the result gains s{i+1}_ columns. The
    materializer runs the same call over carried state ∪ delta, so a
    refresh step is pair-for-pair the batch chain's."""
    if i == 0:
        a = chain
        keep = [f"{_bq(A_PREFIX + c)} AS {_bq(f's0_{c}')}" for c in chain.columns]
    else:
        # Cursor view: expose plain link/ts/tie names (s-prefixed chain
        # columns can't collide) so the pairwise matcher applies as-is.
        a = chain.selectExpr(
            f"{_bq(f's0_{link_field}')} AS {_bq(link_field)}",
            f"{_bq(f's{i}_{ts}')} AS {_bq(ts)}",
            f"{_bq(f's{i}_{tie}')} AS {_bq(tie)}",
            *[_bq(c) for c in chain.columns],
        )
        keep = [f"{_bq(A_PREFIX + c)} AS {_bq(c)}" for c in chain.columns]
    if n_slices >= 2:
        matched = sequence_match_sliced(a, nxt, link_field, kind, n_slices=n_slices,
                                        ts_a=ts, ts_b=ts, tie=tie)
    else:
        matched = sequence_match(a, nxt, link_field, kind, ts_a=ts, ts_b=ts, tie=tie)
    # single-selectExpr renames: per-column F.col/alias construction is a
    # py4j round trip each, and these wide chain projections rebuild on
    # every incremental refresh (round 12 driver-latency fix)
    return matched.selectExpr(
        *keep,
        *[f"{_bq(B_PREFIX + c)} AS {_bq(f's{i + 1}_{c}')}" for c in nxt.columns],
    )


def funnel_report(
    frames: list[DataFrame],
    link_field: str,
    kinds: list[str] | None = None,
    labels: list[str] | None = None,
    *,
    ts: str = "timestamp",
    tie: str = "event_id",
    max_gap_s: int | None = None,
) -> DataFrame:
    """Step-wise funnel conversion table over an event chain.

    Row per step: (step, label, reached, conversion, overall) where
    `reached` counts funnel entries (step-0 rows) whose greedy chain
    survives through that step — chains are one-per-head, so prefix-chain
    row counts ARE head counts. `conversion` = reached_i / reached_{i-1},
    `overall` = reached_i / reached_0, both rounded to 4 digits.
    Step-0 rows with a NULL link or timestamp still count as funnel
    entries (they can never advance, like any other drop-off).
    `max_gap_s` applies the conversion window to every adjacent step
    (closest-candidate semantics make the post-filter exact).

    The chain is built ONCE, stepwise: after each link lands, the new
    adjacent gap is window-filtered, the prefix chain is persisted and
    counted, and the NEXT link builds on that persisted frame — so an
    N-step report costs N link-key window passes total (each executed
    once), the same as matching the chain itself, instead of the
    1+2+...+(N-1) passes a rebuild-each-prefix loop costs. Filtering a
    gap-violating chain before the next link is exact: matching is
    per-chain-row independent, and a chain violating any gap is dropped
    by the full filter either way. The result is a driver-assembled
    steps-row DataFrame (it IS a scalar report)."""
    from pyspark.sql import types as T

    kinds = kinds or [FOLLOWED_BY] * (len(frames) - 1)
    if len(frames) != len(kinds) + 1:
        raise ValueError("funnel needs len(frames) == len(kinds) + 1")
    labels = labels or [f"step{i}" for i in range(len(frames))]

    reached = [frames[0].count()]
    # The report only ever counts chain rows, so matching needs nothing
    # beyond the link key, the timestamp, and the tie-break id — project
    # the steps down to those three before any link builds. Narrower
    # frames shrink every union/window/persist in the chain AND the scan
    # (column pruning reaches parquet); chain semantics are untouched
    # because matching only reads these columns anyway.
    frames = [f.select(link_field, ts, tie) for f in frames]
    persisted: list[DataFrame] = []

    def count_and_pin(chain: DataFrame, i: int) -> DataFrame:
        if max_gap_s is not None:
            # conversion window on the gap this link just created; earlier
            # gaps were filtered when their links landed
            gap = F.abs(
                F.col(f"s{i}_{ts}").cast("long")
                - F.col(f"s{i - 1}_{ts}").cast("long")
            )
            chain = chain.where(gap <= F.lit(int(max_gap_s)))
        chain = chain.persist()
        reached.append(chain.count())  # materializes from the previous pin
        if persisted:
            persisted.pop().unpersist()
        persisted.append(chain)
        return chain

    try:
        if kinds:  # a single-frame funnel is just its entry count
            sequence_match_chain(frames, link_field, kinds, ts=ts, tie=tie,
                                 step_hook=count_and_pin)
    finally:
        while persisted:
            persisted.pop().unpersist()
    rows = []
    for i, (label, n) in enumerate(zip(labels, reached)):
        prev = reached[i - 1] if i else None
        rows.append(
            (
                i,
                label,
                n,
                round(n / prev, 4) if prev else None,
                round(n / reached[0], 4) if reached[0] else None,
            )
        )
    spark = frames[0].sparkSession
    schema = T.StructType(
        [
            T.StructField("step", T.LongType(), False),
            T.StructField("label", T.StringType(), False),
            T.StructField("reached", T.LongType(), False),
            T.StructField("conversion", T.DoubleType(), True),
            T.StructField("overall", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)
