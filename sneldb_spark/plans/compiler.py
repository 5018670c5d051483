"""AST -> DataFrame compiler.

This is the heart of the engine: the entire reference read pipeline
(planner, zone pruning, SIMD filters, per-shard partial aggregation,
k-way ordered merges — reference: src/engine/core/read/) collapses into
one declarative DataFrame chain per query; Catalyst + Tungsten supply the
physical machinery (predicate pushdown into Parquet row groups ≈ zone
skipping, whole-stage codegen ≈ SIMD eval, HashAggregate partial/final ≈
shard merge, TakeOrderedAndProject ≈ ordered k-way merge with limit).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sneldb_spark.commands import ast
from sneldb_spark.errors import QueryError
from sneldb_spark.plans.aggregates import (
    apply_aggregation,
    apply_partial_aggregation,
)
from sneldb_spark.plans.filters import compile_expr, expr_fields, split_sequence_where
from sneldb_spark.plans.sequence import (
    A_PREFIX,
    B_PREFIX,
    sequence_match,
    sequence_match_sliced,
)
from sneldb_spark.plans.time_bucket import bucket_column
from sneldb_spark.schema.normalization import try_parse_time_value
from sneldb_spark.schema.registry import CORE_FIELDS, EventSchema

SourceFn = Callable[[str], DataFrame]  # event_type (or "*") -> DataFrame
SchemaFn = Callable[[str], Optional[EventSchema]]


@dataclass
class TimeConfig:
    mode: str = "calendar"  # calendar | naive
    timezone: str = "UTC"
    week_start: str = "monday"


class QueryCompiler:
    def __init__(
        self,
        source: SourceFn,
        schema_lookup: SchemaFn | None = None,
        time_config: TimeConfig | None = None,
        topk_source: Callable[[str, str, int, bool], Optional[DataFrame]] | None = None,
        approx_count_unique: bool = False,
        approx_percentiles: bool = False,
        context_source: Callable[[str, str], Optional[DataFrame]] | None = None,
        sequence_slices: int = 0,
        multi_link: bool = False,
    ):
        self._source = source
        self._schema = schema_lookup or (lambda et: None)
        self.time_config = time_config or TimeConfig()
        # Optional (event_type, order_field, n, desc) -> pruned frame for
        # ORDER BY + LIMIT (EventStore.read_topk); None = full scan.
        self._topk_source = topk_source
        # Optional (event_type, context_id) -> file-pruned superset frame
        # for FOR/REPLAY (EventStore.read_for_context); None = full scan.
        # Safe under any filters: the equality filter still applies on top.
        self._context_source = context_source
        # Opt-in: COUNT UNIQUE compiles to approx_count_distinct (HLL++,
        # O(1) state per group) instead of exact count(distinct). Default
        # stays exact — reference semantics.
        self.approx_count_unique = approx_count_unique
        # Opt-in: MEDIAN/P<nn> compile to percentile_approx (KLL-style
        # sketch, bounded state per group) instead of the exact
        # interpolated percentile (which buffers every group value).
        # Default stays exact. The 100 TB path for wide groups.
        self.approx_percentiles = approx_percentiles
        # Opt-in skew mitigation: >= 2 routes sequence queries through the
        # time-sliced matcher (identical pairs, hot link keys parallelize
        # n_slices-wide instead of serializing one window partition).
        self.sequence_slices = sequence_slices
        # Opt-in extension: compile multi-link chains (A -> B -> C ...)
        # as composed as-of windows instead of the reference's
        # warn-and-return-empty (matcher.rs:297-307). Default keeps
        # reference parity.
        self.multi_link = multi_link

    # -- public ----------------------------------------------------------
    def compile(
        self, cmd: ast.Command, upper: tuple[int, int] | None = None
    ) -> DataFrame:
        """`upper` CLOSES every source read at the given (timestamp,
        event_id) mark — the materializer probes the high-water mark
        first and compiles with it so rows racing in mid-materialization
        are excluded now and consumed exactly once by the next delta."""
        if isinstance(cmd, ast.QueryCommand):
            return self.compile_query(cmd, upper=upper)
        if isinstance(cmd, ast.ReplayCommand):
            return self.compile_replay(cmd)
        if isinstance(cmd, ast.CompareCommand):
            from sneldb_spark.plans.compare import compile_compare

            return compile_compare(self, cmd, upper=upper)
        raise QueryError(f"not a readable command: {type(cmd).__name__}")

    # -- resolvers -------------------------------------------------------
    def _resolver(self, df: DataFrame, event_type: str):
        schema = self._schema(event_type) if event_type != "*" else None
        cols = set(df.columns)

        def resolve(field: str):
            if schema is not None and field in getattr(schema, "shadowed", {}):
                # allow_core_shadow: a query naming a shadowed payload
                # field gets the PAYLOAD column (the reference's reading
                # — its schema fields are user fields; server time stays
                # reachable via SINCE/UNTIL and unshadowed names)
                field = schema.shadowed[field]
            if field not in cols:
                # dotted names are literal flat column names in the
                # reference, so there is no path syntax to fall back to
                raise QueryError(f"unknown field {field!r} for {event_type!r}")
            ftype = schema.fields.get(field) if schema else None
            return F.col(f"`{field}`"), ftype

        return resolve

    def _time_column(self, df: DataFrame, q_time_field: str | None, resolve) -> Column:
        if q_time_field:
            col, _ = resolve(q_time_field)
            return col.cast("long")
        return F.col("timestamp").cast("long")

    # -- single-table pipeline -------------------------------------------
    def _base_frame(
        self,
        event_type: str,
        context_id: str | None,
        since: str | None,
        where: ast.Expr | None,
        time_field: str | None,
        until: str | None = None,
    ) -> DataFrame:
        df = None
        if context_id is not None and self._context_source is not None:
            df = self._context_source(event_type, context_id)
        if df is None:
            df = self._source(event_type)
        if context_id is not None:
            df = df.where(F.col("context_id") == F.lit(context_id))
        if since is not None:
            bound = try_parse_time_value(since)
            # Unparsable SINCE is ignored (scenario since_unparsable_ignored_includes_all)
            if bound is not None:
                resolve = self._resolver(df, event_type)
                tcol = self._time_column(df, time_field, resolve)
                df = df.where(tcol >= F.lit(bound))
        if until is not None:
            # UNTIL (extension): exclusive upper bound, same time column
            # and unparsable-is-ignored semantics as SINCE; sargable (a
            # plain < on the scan column)
            bound = try_parse_time_value(until)
            if bound is not None:
                resolve = self._resolver(df, event_type)
                tcol = self._time_column(df, time_field, resolve)
                df = df.where(tcol < F.lit(bound))
        if where is not None:
            resolve = self._resolver(df, event_type)
            df = df.where(compile_expr(where, resolve))
        return df

    def compile_query(
        self, q: ast.QueryCommand, upper: tuple[int, int] | None = None
    ) -> DataFrame:
        if len(q.sequence.links) > 1 and q.link_field is not None:
            if self.multi_link:
                if q.offset is not None and q.limit is None:
                    raise QueryError("OFFSET requires LIMIT")
                return self._compile_chain(q, upper=upper)
            # Reference: multi-link chains warn and return empty
            # (reference: src/engine/core/read/sequence/matcher.rs:297-307).
            # Without LINKED BY even a multi-link query is a plain head
            # query (is_sequence is False), handled below.
            head = self._source(q.event_type)
            return head.where(F.lit(False))
        if q.offset is not None and q.limit is None:
            raise QueryError("OFFSET requires LIMIT")
        if q.is_sequence:
            return self._compile_sequence(q, upper=upper)
        return self._compile_single(q, upper=upper)

    def _topk_frame(self, q: ast.QueryCommand) -> DataFrame | None:
        """File-pruned source for plain `QUERY t ORDER BY f LIMIT n`.
        Only safe with NO filters: the footer bound counts every row
        toward the top-n guarantee, and a WHERE/SINCE/FOR could disqualify
        the counted rows, letting a qualifying row hide in a pruned file."""
        if (
            self._topk_source is None
            or q.is_aggregate
            or q.order_by is None
            # secondary keys make single-key footer pruning unsafe: a row
            # outside the kept files can tie on the primary key at the
            # boundary and win on a tie-breaker
            or q.order_by_rest
            or not q.limit
            or q.where is not None
            or q.since is not None
            or q.until is not None
            or q.context_id is not None
            or q.sequence.links
        ):
            return None
        field, desc = q.order_by
        return self._topk_source(q.event_type, field, q.limit + (q.offset or 0), desc)

    def _compile_single(
        self, q: ast.QueryCommand, upper: tuple[int, int] | None = None
    ) -> DataFrame:
        # With a closed read the top-k footer bound is unsafe (rows past
        # the mark count toward the guarantee but are filtered out), so
        # the pruned source is skipped — `upper` only arrives from the
        # materializer, never the interactive path.
        df = self._topk_frame(q) if upper is None else None
        if df is None:
            df = self._base_frame(q.event_type, q.context_id, q.since, q.where, q.time_field, q.until)
        if upper is not None:
            from sneldb_spark.plans.filters import hwm_at_or_before

            df = df.where(hwm_at_or_before(*upper))
        resolve = self._resolver(df, q.event_type)

        if q.is_aggregate:
            bucket = None
            if q.time_bucket:
                tcol = self._time_column(df, q.time_field, resolve)
                tc = self.time_config
                bucket = bucket_column(
                    tcol, q.time_bucket, mode=tc.mode, timezone=tc.timezone,
                    week_start=tc.week_start,
                )
            out = apply_aggregation(
                df, q.aggs, q.group_by, resolve, bucket,
                approx_unique=self.approx_count_unique,
                approx_pct=self.approx_percentiles,
            )
            out = self._order_limit(out, q, agg=True)
            return out

        out = self._order_limit(df, q, agg=False, resolve=resolve)
        if q.return_fields:
            return self._project(out, q.return_fields)
        return self._reference_column_order(out, q)

    def compile_aggregate_partial(
        self,
        q: ast.QueryCommand,
        hwm: tuple[int, int] | None = None,
        upper: tuple[int, int] | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """Mergeable per-group partial state for an aggregate query
        (REMEMBER/SHOW incremental refresh). With `hwm`, only rows past
        the (timestamp, event_id) high-water mark are aggregated — the
        predicate sits directly on the scan columns so Parquet pushdown
        keeps a refresh from rescanning history. With `upper`, the read
        is CLOSED at that mark, so rows racing in mid-refresh are
        excluded now and consumed exactly once by the next delta.
        Returns (state frame, group-key names); see plans/aggregates.py
        for the state layout."""
        if not q.is_aggregate or q.is_sequence:
            raise QueryError("partial aggregation needs a plain aggregate query")
        df = self._base_frame(q.event_type, q.context_id, q.since, q.where, q.time_field, q.until)
        if hwm is not None:
            from sneldb_spark.plans.filters import hwm_after

            df = df.where(hwm_after(*hwm))
        if upper is not None:
            from sneldb_spark.plans.filters import hwm_at_or_before

            df = df.where(hwm_at_or_before(*upper))
        resolve = self._resolver(df, q.event_type)
        bucket = None
        if q.time_bucket:
            tcol = self._time_column(df, q.time_field, resolve)
            tc = self.time_config
            bucket = bucket_column(
                tcol, q.time_bucket, mode=tc.mode, timezone=tc.timezone,
                week_start=tc.week_start,
            )
        return apply_partial_aggregation(
            df, q.aggs, q.group_by, resolve, bucket,
            approx_unique=self.approx_count_unique,
        )

    def compile_chain_aggregate_partial(self, q: ast.QueryCommand, chain: DataFrame):
        """Partial (mergeable) aggregation over an s-prefixed chain frame
        of any length (a single link is a 2-step chain): the materializer
        feeds the full match at REMEMBER and only DELTA chains at SHOW,
        then merges state. Field resolution and bucketing mirror the
        direct sequence compiles (head first, qualified names pick the
        first step of that type), so finalize yields the same columns.
        Returns (state_frame, group_key_names)."""
        if not (q.is_aggregate and q.is_sequence):
            raise QueryError("needs a sequence aggregate query")
        types = q.sequence.event_types
        resolve = self._chain_resolver(chain, types)
        bucket = None
        if q.time_bucket:
            tcol = resolve(q.time_field)[0].cast("long") if q.time_field else F.col(
                "s0_timestamp"
            ).cast("long")
            tc = self.time_config
            bucket = bucket_column(
                tcol, q.time_bucket, mode=tc.mode, timezone=tc.timezone,
                week_start=tc.week_start,
            )
        return apply_partial_aggregation(
            chain, q.aggs, q.group_by, resolve, bucket,
            approx_unique=self.approx_count_unique,
        )

    def _reference_column_order(self, df: DataFrame, q: ast.QueryCommand) -> DataFrame:
        """Full-column results use the reference's column order: core
        fields, then the (sorted) filter columns, then the remaining
        payload fields — the insertion order of the reference's projection
        planner (src/engine/core/read/projection/{strategies.rs:20-24,
        context.rs:24-40}). A pure reorder: scenario matchers check row
        fragments like '"confirmed",1]' that depend on it."""
        filter_cols = sorted(
            {f for f in expr_fields(q.where) if f in df.columns} - set(CORE_FIELDS)
        )
        if q.since is not None and q.time_field and q.time_field in df.columns:
            # SINCE USING <f> contributes a filter column too
            if q.time_field not in filter_cols and q.time_field not in CORE_FIELDS:
                filter_cols = sorted(set(filter_cols) | {q.time_field})
        cols = [c for c in CORE_FIELDS if c in df.columns]
        cols += filter_cols
        cols += [c for c in df.columns if c not in cols]
        if cols == df.columns:
            return df
        return df.select(*[F.col(f"`{c}`") for c in cols])

    @staticmethod
    def _order_keys(q: ast.QueryCommand) -> list[tuple[str, bool]]:
        return [q.order_by, *q.order_by_rest] if q.order_by is not None else []

    def _order_limit(self, df: DataFrame, q: ast.QueryCommand, agg: bool, resolve=None):
        keys = self._order_keys(q)
        if keys:
            cols = []
            for field, desc in keys:
                if agg:
                    if field not in df.columns:
                        raise QueryError(
                            f"ORDER BY field {field!r} not in aggregate output"
                        )
                    col = F.col(f"`{field}`")
                else:
                    col = resolve(field)[0]
                cols.append(col.desc() if desc else col.asc())
            df = df.orderBy(*cols)
        if q.limit is not None and q.limit == 0:
            return df.where(F.lit(False))
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _project(self, df: DataFrame, return_fields: list[str] | None) -> DataFrame:
        # Core columns always included; unknown requested fields ignored;
        # empty/absent list means all columns (SURVEY §2.2 P1).
        if not return_fields:
            return df
        cols = [c for c in CORE_FIELDS if c in df.columns]
        for f in return_fields:
            if f in df.columns and f not in cols:
                cols.append(f)
        return df.select(*[F.col(f"`{c}`") for c in cols])

    # -- sequence pipeline ------------------------------------------------
    def chain_parts(self, q: ast.QueryCommand, upper=None):
        """The fully-filtered per-step side frames of a multi-link chain
        plus (types, kinds, link_field) — the chain analogue of
        sequence_parts; the materializer uses it to re-run the stepwise
        match over delta slices (incremental chain SHOW)."""
        types = [q.sequence.head] + [t for _, t in q.sequence.links]
        kinds = [k for k, _ in q.sequence.links]
        sides = split_sequence_where(q.where, types)
        frames = [
            self._base_frame(t, q.context_id, q.since, sides[t], q.time_field, q.until)
            for t in types
        ]
        if upper is not None:
            from sneldb_spark.plans.filters import hwm_at_or_before

            bound = hwm_at_or_before(*upper)
            frames = [f.where(bound) for f in frames]
        for et, f in zip(types, frames):
            self._check_link_field(q.link_field, et, f)
        return frames, types, kinds, q.link_field

    @staticmethod
    def _check_link_field(link_field: str | None, event_type: str, df: DataFrame):
        """LINKED BY must name a column of every side, or the query answers
        a clean error frame — without this, an undefined type's core-only
        frame lets the raw AnalysisException escape the engine."""
        if link_field and link_field not in df.columns:
            raise QueryError(f"unknown field {link_field!r} for {event_type!r}")

    def sequence_parts(self, q: ast.QueryCommand):
        """The fully-filtered SIDE FRAMES of a single-link sequence query
        plus its matching parameters: (a, b, kind, link_field, ts_a,
        ts_b). The materializer uses this to re-run the matcher over a
        delta slice of the sides (incremental SHOW) with the exact same
        WHERE/FOR/SINCE filters the full compile applies."""
        if not q.link_field:
            raise QueryError("sequence queries require LINKED BY <field>")
        kind, tail_type = q.sequence.links[0]
        head_type = q.sequence.head
        sides = split_sequence_where(q.where, [head_type, tail_type])

        def side_frame(et: str) -> DataFrame:
            return self._base_frame(et, q.context_id, q.since, sides[et], q.time_field, q.until)

        a = side_frame(head_type)
        b = side_frame(tail_type)

        def side_ts(df: DataFrame) -> str:
            # USING TIME <f> orders the sequence match; plain USING <f>
            # does NOT (it only moves SINCE/bucket time). Mirrors the
            # reference's sequence_time_field defaulting to "timestamp"
            # (src/command/handlers/query/orchestrator.rs:78-81).
            # Returned as the FIELD NAME: the matcher casts it to long
            # itself, and a string ts keeps the whole sided projection on
            # the one-call selectExpr path (round-12 driver latency).
            stf = q.sequence_time_field
            if stf and stf in df.columns:
                return stf
            return "timestamp"

        self._check_link_field(q.link_field, head_type, a)
        self._check_link_field(q.link_field, tail_type, b)
        return a, b, kind, q.link_field, side_ts(a), side_ts(b)

    def _compile_sequence(
        self, q: ast.QueryCommand, upper: tuple[int, int] | None = None
    ) -> DataFrame:
        a, b, kind, _link, ts_a, ts_b = self.sequence_parts(q)
        if upper is not None:
            from sneldb_spark.plans.filters import hwm_at_or_before

            bound = hwm_at_or_before(*upper)
            a, b = a.where(bound), b.where(bound)
        _, tail_type = q.sequence.links[0]
        head_type = q.sequence.head

        if self.sequence_slices >= 2:
            matched = sequence_match_sliced(
                a, b, q.link_field, kind, n_slices=self.sequence_slices,
                ts_a=ts_a, ts_b=ts_b,
            )
        else:
            matched = sequence_match(a, b, q.link_field, kind, ts_a=ts_a, ts_b=ts_b)

        matched = self._apply_within(matched, q, A_PREFIX, B_PREFIX)

        if q.is_aggregate:
            resolve = self._seq_resolver(matched, head_type, tail_type)
            bucket = None
            if q.time_bucket:
                tcol = resolve(q.time_field)[0].cast("long") if q.time_field else F.col(
                    A_PREFIX + "timestamp"
                ).cast("long")
                tc = self.time_config
                bucket = bucket_column(
                    tcol, q.time_bucket, mode=tc.mode, timezone=tc.timezone,
                    week_start=tc.week_start,
                )
            out = apply_aggregation(
                matched, q.aggs, q.group_by, resolve, bucket,
                approx_unique=self.approx_count_unique,
                approx_pct=self.approx_percentiles,
            )
            return self._order_limit(out, q, agg=True)

        # LIMIT caps matched sequences (reference:
        # src/command/handlers/query/handler.rs:133-139).
        out = matched
        if q.order_by is not None:
            resolve = self._seq_resolver(matched, head_type, tail_type)
            cols = [
                resolve(f)[0].desc() if d else resolve(f)[0].asc()
                for f, d in self._order_keys(q)
            ]
            out = out.orderBy(*cols)
        if q.limit is not None:
            out = out.where(F.lit(False)) if q.limit == 0 else out.limit(q.limit)
        if q.offset:
            raise QueryError("OFFSET is not supported on sequence queries")
        return out

    def _compile_chain(
        self, q: ast.QueryCommand, upper: tuple[int, int] | None = None
    ) -> DataFrame:
        """Multi-link chain compile (extension, opt-in via multi_link):
        one fully-filtered side frame per step, composed as-of windows
        (plans/sequence.py sequence_match_chain), then the same
        aggregate / ORDER / LIMIT surface single-link sequences have.
        LIMIT caps matched CHAINS, like the single link caps pairs."""
        from sneldb_spark.plans.sequence import sequence_match_chain

        frames, types, kinds, _link = self.chain_parts(q, upper=upper)
        stf = q.sequence_time_field
        ts = stf if stf and all(stf in f.columns for f in frames) else "timestamp"
        matched = sequence_match_chain(
            frames, q.link_field, kinds, ts=ts, n_slices=self.sequence_slices
        )
        if q.sequence_within is not None:
            # WITHIN bounds EVERY adjacent step gap in a chain
            for i in range(len(types) - 1):
                self_ts, next_ts = f"s{i}_{ts}", f"s{i + 1}_{ts}"
                gap = F.abs(
                    F.col(next_ts).cast("long") - F.col(self_ts).cast("long")
                )
                matched = matched.where(gap <= F.lit(int(q.sequence_within)))
        resolve = self._chain_resolver(matched, types)

        if q.is_aggregate:
            bucket = None
            if q.time_bucket:
                tcol = resolve(q.time_field)[0].cast("long") if q.time_field else F.col(
                    "s0_timestamp"
                ).cast("long")
                tc = self.time_config
                bucket = bucket_column(
                    tcol, q.time_bucket, mode=tc.mode, timezone=tc.timezone,
                    week_start=tc.week_start,
                )
            out = apply_aggregation(
                matched, q.aggs, q.group_by, resolve, bucket,
                approx_unique=self.approx_count_unique,
                approx_pct=self.approx_percentiles,
            )
            return self._order_limit(out, q, agg=True)

        out = matched
        if q.order_by is not None:
            cols = [
                resolve(f)[0].desc() if d else resolve(f)[0].asc()
                for f, d in self._order_keys(q)
            ]
            out = out.orderBy(*cols)
        if q.limit is not None:
            out = out.where(F.lit(False)) if q.limit == 0 else out.limit(q.limit)
        if q.offset:
            raise QueryError("OFFSET is not supported on sequence queries")
        return out

    @staticmethod
    def _apply_within(matched: DataFrame, q: ast.QueryCommand,
                      left_pfx: str, right_pfx: str) -> DataFrame:
        """WITHIN <seconds> (extension): keep only pairs whose matched
        sides land within the window. Exact as a post-filter — the as-of
        match already picked the closest candidate (see
        plans/sequence.py sequence_match max_gap_s)."""
        if q.sequence_within is None:
            return matched
        tsf = "timestamp"
        stf = q.sequence_time_field
        if stf and left_pfx + stf in matched.columns and right_pfx + stf in matched.columns:
            tsf = stf
        gap = F.abs(
            F.col(right_pfx + tsf).cast("long") - F.col(left_pfx + tsf).cast("long")
        )
        return matched.where(gap <= F.lit(int(q.sequence_within)))

    def _chain_resolver(self, matched: DataFrame, types: list[str]):
        cols = set(matched.columns)

        def resolve(field: str):
            # Qualified names pick the FIRST step of that type; unqualified
            # prefer the head, then later steps in order.
            if "." in field:
                prefix, rest = field.split(".", 1)
                for i, t in enumerate(types):
                    if t == prefix and f"s{i}_{rest}" in cols:
                        return F.col(f"s{i}_{rest}"), None
            for i in range(len(types)):
                if f"s{i}_{field}" in cols:
                    return F.col(f"s{i}_{field}"), None
            if field in cols:
                return F.col(f"`{field}`"), None
            raise QueryError(f"unknown field {field!r} in sequence result")

        return resolve

    def _seq_resolver(self, matched: DataFrame, head_type: str, tail_type: str):
        cols = set(matched.columns)

        def resolve(field: str):
            # Qualified names pick a side; unqualified prefer the head side.
            if "." in field:
                prefix, rest = field.split(".", 1)
                if prefix == head_type and A_PREFIX + rest in cols:
                    return F.col(A_PREFIX + rest), None
                if prefix == tail_type and B_PREFIX + rest in cols:
                    return F.col(B_PREFIX + rest), None
            if A_PREFIX + field in cols:
                return F.col(A_PREFIX + field), None
            if B_PREFIX + field in cols:
                return F.col(B_PREFIX + field), None
            if field in cols:
                return F.col(f"`{field}`"), None
            raise QueryError(f"unknown field {field!r} in sequence result")

        return resolve

    # -- replay -----------------------------------------------------------
    def compile_replay(self, cmd: ast.ReplayCommand) -> DataFrame:
        df = self._base_frame(
            cmd.event_type or "*", cmd.context_id, cmd.since, None, cmd.time_field, cmd.until
        )
        # Append order = (timestamp, event_id); one context lives in one
        # "shard" in the reference — here it's simply a sort, and because we
        # filtered to a single context_id the sort input is small.
        df = df.orderBy(F.col("timestamp").asc(), F.col("event_id").asc())
        return self._project(df, cmd.return_fields)
