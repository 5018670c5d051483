"""Command-language parser.

Accepts the reference's command surface (grammar studied at
reference: src/command/parser/commands/{query,define,store,replay,remember,
show,plotql}.rs) and produces the AST in `sneldb_spark.commands.ast`:

    DEFINE <type> [AS <n>] FIELDS { "field": "type", ... }
    STORE <type> FOR <ctx> PAYLOAD { ... }
    QUERY|FIND <type> [FOLLOWED BY|PRECEDED BY <type>]* [FOR ctx]
        [SINCE "ts"] [UNTIL "ts"] [WHERE expr] [RETURN [f,...]] [LINKED BY f]
        [COUNT [UNIQUE f]|TOTAL f|AVG f|MIN f|MAX f|MEDIAN f|P<nn> f, ...]
        [PER HOUR|DAY|WEEK|MONTH|YEAR [USING f]] [BY f1,f2 [USING f]]
        [USING f] [USING TIME f] [ORDER BY f [ASC|DESC][, f ...]] [LIMIT n] [OFFSET n]
    REPLAY [<type>] FOR <ctx> [SINCE "ts"] [UNTIL "ts"] [USING f] [RETURN [f,...]]
    REMEMBER <query> AS <name>  /  SHOW <name>
    PLOT <metric> OF <a[->b]> [FILTER e] [TOP n [BY m]]
        [VS <metric> OF <seq> [FILTER e]]* [BREAKDOWN BY f,...]
        [OVER <gran>(f)] [TOP n [BY m]]
    FLUSH / PING / BATCH <cmd>; <cmd>; ...

Whole-word keywords are case-insensitive; identifiers, string literals and
enum values are case-sensitive.
"""

from __future__ import annotations

import json
import re

from typing import Optional

from sneldb_spark.commands import ast
from sneldb_spark.errors import ParseError

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s+
  | (?P<string>"(?:[^"])*")
  | (?P<number>-?\d+(?:\.\d+)?)
  | (?P<op>!=|>=|<=|=|>|<|\(|\)|\[|\]|,|;)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_\-]*(?:\.[A-Za-z_][A-Za-z0-9_\-]*)?)
    """,
    re.VERBOSE,
)

_CLAUSE_KEYWORDS = {
    "PER", "BY", "USING", "SINCE", "UNTIL", "LIMIT", "OFFSET", "ORDER", "RETURN",
    "LINKED", "WHERE", "FOR", "FOLLOWED", "PRECEDED", "WITHIN",
}


class _Tok:
    __slots__ = ("kind", "text")

    def __init__(self, kind: str, text: str):
        self.kind = kind  # string | number | op | ident
        self.text = text

    def __repr__(self):
        return f"{self.kind}:{self.text}"


def _tokenize(text: str) -> list[_Tok]:
    out: list[_Tok] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ParseError(f"unexpected character at {pos}: {text[pos]!r}")
        pos = m.end()
        for kind in ("string", "number", "op", "ident"):
            val = m.group(kind)
            if val is not None:
                out.append(_Tok(kind, val))
                break
    return out


class _Cursor:
    def __init__(self, tokens: list[_Tok]):
        self.toks = tokens
        self.i = 0

    def peek(self, ahead: int = 0) -> _Tok | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> _Tok:
        if self.i >= len(self.toks):
            raise ParseError("unexpected end of command")
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *kws: str, ahead: int = 0) -> bool:
        t = self.peek(ahead)
        return t is not None and t.kind == "ident" and t.text.upper() in kws

    def eat_kw(self, kw: str) -> bool:
        if self.at_kw(kw):
            self.i += 1
            return True
        return False

    def expect_kw(self, kw: str):
        if not self.eat_kw(kw):
            raise ParseError(f"expected keyword {kw}, found {self.peek()}")

    def expect_op(self, op: str):
        t = self.next()
        if t.kind != "op" or t.text != op:
            raise ParseError(f"expected {op!r}, found {t}")

    def expect_ident(self) -> str:
        t = self.next()
        if t.kind != "ident":
            raise ParseError(f"expected identifier, found {t}")
        return t.text

    def done(self) -> bool:
        return self.i >= len(self.toks)


# ---------------------------------------------------------------------------
# JSON block extraction (STORE / DEFINE)
# ---------------------------------------------------------------------------

def _reject_constant(token: str):
    # Python's decoder accepts NaN/Infinity/-Infinity; JSON has no such
    # tokens, and a stored non-finite value has no JSON rendering either
    raise ParseError(f"invalid JSON block: {token} is not a JSON value")


def _extract_json_block(text: str, start: int) -> tuple[dict, int]:
    brace = text.find("{", start)
    if brace < 0:
        raise ParseError("expected '{' JSON block")
    try:
        obj, end = json.JSONDecoder(parse_constant=_reject_constant).raw_decode(text, brace)
    except json.JSONDecodeError as e:
        raise ParseError(f"invalid JSON block: {e}") from None
    if not isinstance(obj, dict):
        raise ParseError("JSON block must be an object")
    return obj, end


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

def parse_command(text: str) -> ast.Command:
    stripped = text.strip()
    if not stripped:
        raise ParseError("empty command")
    head = stripped.split(None, 1)[0].upper()
    if head == "EXPLAIN":
        rest = stripped.split(None, 1)
        if len(rest) < 2:
            raise ParseError("EXPLAIN expects a command")
        inner = parse_command(rest[1])
        if not isinstance(
            inner, (ast.QueryCommand, ast.ReplayCommand, ast.CompareCommand)
        ):
            raise ParseError("EXPLAIN expects a QUERY/FIND/REPLAY/COMPARE/PLOT command")
        return ast.ExplainCommand(inner=inner)
    if head in ("QUERY", "FIND"):
        return _parse_query(stripped)
    if head == "DEFINE":
        return _parse_define(stripped)
    if head == "STORE":
        return _parse_store(stripped)
    if head == "REPLAY":
        return _parse_replay(stripped)
    if head == "REMEMBER":
        return _parse_remember(stripped)
    if head == "FORGET":
        parts = stripped.split()
        if len(parts) != 2:
            raise ParseError("FORGET expects exactly one argument")
        if not _ALIAS_RE.match(parts[1]):
            raise ParseError(f"invalid materialization name: {parts[1]!r}")
        return ast.ForgetCommand(name=parts[1])
    if head == "SHOW":
        # SHOW PERMISSIONS FOR <user> is user management; SHOW <name> is a
        # materialization read (reference routes on the second word too).
        second = stripped.split(None, 2)[1].upper() if len(stripped.split()) > 1 else ""
        if second == "PERMISSIONS":
            return _parse_show_permissions(stripped)
        return _parse_show(stripped)
    if head == "CREATE":
        return _parse_create_user(stripped)
    if head == "REVOKE":
        return _parse_revoke(stripped)
    if head == "GRANT":
        return _parse_grant(stripped)
    if head == "LIST":
        return _parse_list_users(stripped)
    if head == "PLOT":
        return _parse_plot(stripped)
    if head == "FLUSH":
        return ast.FlushCommand()
    if head == "PING":
        return ast.PingCommand()
    if head == "BATCH":
        return _parse_batch(stripped)
    raise ParseError(f"unknown command: {head}")


# ---------------------------------------------------------------------------
# DEFINE / STORE
# ---------------------------------------------------------------------------

_DEFINE_RE = re.compile(
    r"^\s*DEFINE\s+([A-Za-z_][A-Za-z0-9_\-]*)\s*(?:AS\s+(\d+)\s+)?FIELDS\s*",
    re.IGNORECASE,
)


def _parse_define(text: str) -> ast.DefineCommand:
    m = _DEFINE_RE.match(text)
    if not m:
        raise ParseError("malformed DEFINE (expected DEFINE <type> [AS n] FIELDS {...})")
    fields, end = _extract_json_block(text, m.end())
    if text[end:].strip():
        raise ParseError("unexpected trailing input after FIELDS block")
    if not fields:
        raise ParseError("schema must not be empty")
    version = int(m.group(2)) if m.group(2) else None
    return ast.DefineCommand(event_type=m.group(1), fields=fields, version=version)


_STORE_RE = re.compile(
    r"^\s*STORE\s+([A-Za-z_][A-Za-z0-9_\-]*)\s+FOR\s+"
    r"(?:\"([^\"]*)\"|([A-Za-z_][A-Za-z0-9_\-]*))\s+PAYLOAD\s*",
    re.IGNORECASE,
)


def _parse_store(text: str) -> ast.StoreCommand:
    m = _STORE_RE.match(text)
    if not m:
        raise ParseError("malformed STORE (expected STORE <type> FOR <ctx> PAYLOAD {...})")
    payload, end = _extract_json_block(text, m.end())
    if text[end:].strip():
        raise ParseError("unexpected trailing input after PAYLOAD")
    ctx = m.group(2) if m.group(2) is not None else m.group(3)
    return ast.StoreCommand(event_type=m.group(1), context_id=ctx, payload=payload)


# ---------------------------------------------------------------------------
# QUERY
# ---------------------------------------------------------------------------

def _parse_query(text: str) -> ast.QueryCommand:
    cur = _Cursor(_tokenize(text))
    kw = cur.expect_ident()
    if kw.upper() not in ("QUERY", "FIND"):
        raise ParseError("expected QUERY")
    seq = _parse_event_sequence(cur)
    q = ast.QueryCommand(sequence=seq)
    _parse_clauses(cur, q)
    if not cur.done():
        raise ParseError(f"unexpected trailing token: {cur.peek()}")
    if q.sequence_within is not None and not q.sequence.links:
        # WITHIN is a conversion window on sequence matches; on a plain
        # query it would be silently ignored — reject instead (mirrors the
        # OFFSET-on-sequence validation in the compiler).
        raise ParseError(
            "WITHIN requires a sequence (FOLLOWED BY / PRECEDED BY) match"
        )
    return q


def _parse_event_sequence(cur: _Cursor) -> ast.EventSequence:
    headname = cur.expect_ident()
    links = []
    while True:
        if cur.at_kw("FOLLOWED") and cur.at_kw("BY", ahead=1):
            cur.next(); cur.next()
            links.append((ast.FOLLOWED_BY, cur.expect_ident()))
        elif cur.at_kw("PRECEDED") and cur.at_kw("BY", ahead=1):
            cur.next(); cur.next()
            links.append((ast.PRECEDED_BY, cur.expect_ident()))
        else:
            break
    return ast.EventSequence(head=headname, links=tuple(links))


def _at_clause_start(cur: _Cursor) -> bool:
    return cur.at_kw(*_CLAUSE_KEYWORDS)


def _parse_clauses(cur: _Cursor, q: ast.QueryCommand):
    while not cur.done():
        if cur.eat_kw("FOR"):
            t = cur.next()
            if t.kind == "string":
                q.context_id = t.text[1:-1]
            elif t.kind in ("ident", "number"):
                q.context_id = t.text
            else:
                raise ParseError(f"expected context id after FOR, found {t}")
        elif cur.eat_kw("SINCE"):
            t = cur.next()
            if t.kind == "string":
                q.since = t.text[1:-1]
            elif t.kind == "number":
                q.since = t.text
            else:
                raise ParseError(f"expected time literal after SINCE, found {t}")
        elif cur.eat_kw("UNTIL"):
            # extension: exclusive upper time bound — [SINCE, UNTIL)
            t = cur.next()
            if t.kind == "string":
                q.until = t.text[1:-1]
            elif t.kind == "number":
                q.until = t.text
            else:
                raise ParseError(f"expected time literal after UNTIL, found {t}")
        elif cur.eat_kw("RETURN"):
            q.return_fields = _parse_return_list(cur)
        elif cur.at_kw("LINKED"):
            cur.next(); cur.expect_kw("BY")
            q.link_field = cur.expect_ident()
        elif cur.at_kw("WITHIN"):
            # extension: conversion window on the sequence match
            cur.next()
            t = cur.next()
            if t is None or t.kind != "number":
                raise ParseError("WITHIN expects a number of seconds")
            q.sequence_within = int(float(t.text))
        elif cur.eat_kw("WHERE"):
            q.where = _parse_expr(cur)
        elif cur.eat_kw("USING"):
            _parse_using(cur, q)
        elif cur.at_kw("PER"):
            cur.next()
            gran = cur.expect_ident().lower()
            if gran not in ("hour", "day", "week", "month", "year"):
                raise ParseError(f"invalid PER granularity: {gran}")
            q.time_bucket = gran
            if cur.eat_kw("USING"):
                _parse_using(cur, q)
        elif cur.at_kw("ORDER") and cur.at_kw("BY", ahead=1):
            cur.next(); cur.next()

            def one_key() -> tuple[str, bool]:
                f = cur.expect_ident()
                desc = False
                if cur.at_kw("ASC"):
                    cur.next()
                elif cur.at_kw("DESC"):
                    cur.next()
                    desc = True
                return (f, desc)

            q.order_by = one_key()
            rest = []
            while cur.peek() and cur.peek().kind == "op" and cur.peek().text == ",":
                cur.next()
                rest.append(one_key())
            q.order_by_rest = tuple(rest)
        elif cur.eat_kw("BY"):
            q.group_by.append(cur.expect_ident())
            while cur.peek() and cur.peek().kind == "op" and cur.peek().text == ",":
                cur.next()
                q.group_by.append(cur.expect_ident())
            if cur.eat_kw("USING"):
                _parse_using(cur, q)
        elif cur.eat_kw("LIMIT"):
            q.limit = _parse_nonneg_int(cur, "LIMIT")
        elif cur.eat_kw("OFFSET"):
            q.offset = _parse_nonneg_int(cur, "OFFSET")
        elif cur.at_kw("COUNT", "TOTAL", "AVG", "MIN", "MAX", "UNIQUE", "MEDIAN") \
                or _at_percentile(cur):
            q.aggs.extend(_parse_agg_specs(cur))
        else:
            raise ParseError(f"unexpected token: {cur.peek()}")


def _parse_using(cur: _Cursor, q: ast.QueryCommand):
    """USING (already consumed) — split the reference's two clauses:

    ``USING TIME f`` -> sequence_time_field (sequence-match time only;
    reference Clause::UsingTime, src/command/parser/commands/query.rs:106-109)
    ``USING f``      -> time_field (SINCE bounds + PER buckets;
    reference Clause::Using, query.rs:111-113).

    A field literally named ``time`` stays reachable: ``USING time`` (no
    trailing identifier) binds time_field to "time", matching the
    reference's PEG where USING TIME requires a following field.
    """
    if cur.at_kw("TIME") and (t := cur.peek(1)) is not None and t.kind == "ident":
        cur.next()
        q.sequence_time_field = cur.expect_ident()
    else:
        q.time_field = cur.expect_ident()


def _parse_nonneg_int(cur: _Cursor, what: str) -> int:
    t = cur.next()
    if t.kind != "number" or "." in t.text or int(t.text) < 0:
        raise ParseError(f"expected non-negative integer after {what}")
    return int(t.text)


def _parse_return_list(cur: _Cursor) -> list[str]:
    cur.expect_op("[")
    fields: list[str] = []
    t = cur.peek()
    if t and t.kind == "op" and t.text == "]":
        cur.next()
        return fields
    while True:
        t = cur.next()
        if t.kind == "ident":
            fields.append(t.text)
        elif t.kind == "string":
            fields.append(t.text[1:-1])
        else:
            raise ParseError(f"expected field name in RETURN list, found {t}")
        t = cur.next()
        if t.kind == "op" and t.text == "]":
            return fields
        if not (t.kind == "op" and t.text == ","):
            raise ParseError(f"expected ',' or ']' in RETURN list, found {t}")


def _percentile_op(text: str) -> Optional[str]:
    """``P50``/``p95`` -> AggSpec op ``p50`` (P1..P99; P0/P100 are MIN/MAX)."""
    up = text.upper()
    if len(up) >= 2 and up[0] == "P" and up[1:].isdigit():
        n = int(up[1:])
        if 1 <= n <= 99:
            return f"p{n}"
    return None


def _at_percentile(cur: _Cursor) -> bool:
    t = cur.peek()
    return t is not None and t.kind == "ident" and _percentile_op(t.text) is not None


def _parse_agg_specs(cur: _Cursor) -> list[ast.AggSpec]:
    specs = [_parse_one_agg(cur)]
    while cur.peek() and cur.peek().kind == "op" and cur.peek().text == ",":
        # Only continue if the next thing is really another agg spec —
        # otherwise the comma belongs to an outer list.
        nxt = cur.peek(1)
        if nxt is None or nxt.kind != "ident" or (
            nxt.text.upper() not in ("COUNT", "TOTAL", "AVG", "MIN", "MAX", "MEDIAN")
            and _percentile_op(nxt.text) is None
        ):
            break
        cur.next()
        specs.append(_parse_one_agg(cur))
    return specs


def _field_follows(cur: _Cursor) -> bool:
    t = cur.peek()
    if t is None or t.kind != "ident":
        return False
    up = t.text.upper()
    if up in _CLAUSE_KEYWORDS:
        return False
    # ORDER BY lookahead handled by ORDER in clause keywords already
    return True


def _parse_one_agg(cur: _Cursor) -> ast.AggSpec:
    kw = cur.expect_ident().upper()
    if kw == "COUNT":
        if cur.at_kw("UNIQUE"):
            cur.next()
            if not _field_follows(cur):
                raise ParseError("COUNT UNIQUE requires a field")
            return ast.AggSpec("count_unique", cur.expect_ident())
        if _field_follows(cur):
            return ast.AggSpec("count_field", cur.expect_ident())
        return ast.AggSpec("count")
    if kw in ("TOTAL", "AVG", "MIN", "MAX", "MEDIAN"):
        if not _field_follows(cur):
            raise ParseError(f"{kw} requires a field")
        return ast.AggSpec(kw.lower(), cur.expect_ident())
    if (pop := _percentile_op(kw)) is not None:
        if not _field_follows(cur):
            raise ParseError(f"{kw} requires a field")
        return ast.AggSpec(pop, cur.expect_ident())
    raise ParseError(f"unknown aggregate: {kw}")


# ---------------------------------------------------------------------------
# WHERE expressions
# ---------------------------------------------------------------------------

def _parse_expr(cur: _Cursor) -> ast.Expr:
    return _parse_or(cur)


def _parse_or(cur: _Cursor) -> ast.Expr:
    left = _parse_and(cur)
    if cur.at_kw("OR"):
        cur.next()
        return ast.Or(left, _parse_or(cur))
    return left


def _parse_and(cur: _Cursor) -> ast.Expr:
    left = _parse_factor(cur)
    if cur.at_kw("AND"):
        cur.next()
        return ast.And(left, _parse_and(cur))
    return left


def _parse_factor(cur: _Cursor) -> ast.Expr:
    if cur.at_kw("NOT"):
        cur.next()
        return ast.Not(_parse_factor(cur))
    t = cur.peek()
    if t and t.kind == "op" and t.text == "(":
        cur.next()
        e = _parse_expr(cur)
        cur.expect_op(")")
        return e
    return _parse_predicate(cur)


def _parse_value(cur: _Cursor) -> ast.Value:
    t = cur.next()
    if t.kind == "string":
        return t.text[1:-1]
    if t.kind == "number":
        return float(t.text) if "." in t.text else int(t.text)
    if t.kind == "ident":
        up = t.text.upper()
        if up == "TRUE":
            return True
        if up == "FALSE":
            return False
        if up == "NULL":
            return None
        return t.text  # bare word treated as string (parity with reference)
    raise ParseError(f"expected literal value, found {t}")


def _parse_predicate(cur: _Cursor) -> ast.Expr:
    t = cur.next()
    if t.kind != "ident":
        raise ParseError(f"expected field name, found {t}")
    fieldname = t.text
    nxt = cur.peek()
    if nxt and nxt.kind == "op" and nxt.text in ("=", "!=", ">", ">=", "<", "<="):
        op = cur.next().text
        return ast.Compare(fieldname, op, _parse_value(cur))
    if nxt and nxt.kind == "ident" and nxt.text.upper() in ("STARTS", "ENDS"):
        w = cur.peek(1)
        if w and w.kind == "ident" and w.text.upper() == "WITH":
            up = nxt.text.upper()
            cur.next(); cur.next()
            op = "starts_with" if up == "STARTS" else "ends_with"
            return ast.Compare(fieldname, op, _parse_value(cur))
    if nxt and nxt.kind == "ident" and nxt.text.upper() == "CONTAINS":
        cur.next()
        return ast.Compare(fieldname, "contains", _parse_value(cur))
    if nxt and nxt.kind == "ident" and nxt.text.upper() == "IN":
        cur.next()
        cur.expect_op("(")
        values = [_parse_value(cur)]
        while True:
            t2 = cur.next()
            if t2.kind == "op" and t2.text == ")":
                break
            if not (t2.kind == "op" and t2.text == ","):
                raise ParseError(f"expected ',' or ')' in IN list, found {t2}")
            values.append(_parse_value(cur))
        return ast.In(fieldname, tuple(values))
    # bare-field atom: `WHERE is_active` == `is_active = true`
    return ast.Compare(fieldname, "=", True)


# ---------------------------------------------------------------------------
# REPLAY
# ---------------------------------------------------------------------------

def _parse_replay(text: str) -> ast.ReplayCommand:
    cur = _Cursor(_tokenize(text))
    cur.expect_kw("REPLAY")
    event_type = None
    if not cur.at_kw("FOR"):
        event_type = cur.expect_ident()
    cur.expect_kw("FOR")
    t = cur.next()
    if t.kind == "string":
        ctx = t.text[1:-1]
    elif t.kind in ("ident", "number"):
        ctx = t.text
    else:
        raise ParseError(f"expected context id after FOR, found {t}")
    cmd = ast.ReplayCommand(context_id=ctx, event_type=event_type)
    while not cur.done():
        if cur.eat_kw("SINCE"):
            t = cur.next()
            if t.kind not in ("string", "number"):
                raise ParseError("expected time literal after SINCE")
            cmd.since = t.text[1:-1] if t.kind == "string" else t.text
        elif cur.eat_kw("UNTIL"):
            t = cur.next()
            if t.kind not in ("string", "number"):
                raise ParseError("expected time literal after UNTIL")
            cmd.until = t.text[1:-1] if t.kind == "string" else t.text
        elif cur.eat_kw("USING"):
            cur.eat_kw("TIME")
            cmd.time_field = cur.expect_ident()
        elif cur.eat_kw("RETURN"):
            cmd.return_fields = _parse_return_list(cur)
        else:
            raise ParseError(f"unexpected token in REPLAY: {cur.peek()}")
    return cmd


# ---------------------------------------------------------------------------
# REMEMBER / SHOW / BATCH
# ---------------------------------------------------------------------------

_ALIAS_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_\-]*$")


def _parse_remember(text: str) -> ast.RememberCommand:
    body = text.strip()[len("REMEMBER"):].strip()
    upper = body.upper()
    as_idx = upper.rfind(" AS ")
    if as_idx < 0:
        raise ParseError("REMEMBER requires 'AS <name>'")
    query_part = body[:as_idx].strip()
    name = body[as_idx + 4:].strip()
    if not _ALIAS_RE.match(name):
        raise ParseError(f"invalid materialization name: {name!r}")
    cmd = parse_command(query_part)
    # QUERY matches the reference surface (remember.rs:52); COMPARE/PLOT
    # is our extension — a remembered dashboard whose aggregate sides
    # refresh incrementally from stored partial state.
    if not isinstance(cmd, (ast.QueryCommand, ast.CompareCommand)):
        raise ParseError("REMEMBER expects a QUERY or COMPARE/PLOT command")
    return ast.RememberCommand(name=name, query=cmd)


def _parse_show(text: str) -> ast.ShowCommand:
    # SHOW <name> [LIMIT n] — the LIMIT is our extension (like FORGET/
    # EXPLAIN): a bounded service read. A monitoring client probing a
    # large materialization must not be forced into a full drain; the
    # limit caps the result at the sink, the serve/refresh semantics are
    # unchanged.
    parts = text.strip().split()
    limit = None
    if len(parts) == 4 and parts[2].upper() == "LIMIT":
        try:
            limit = int(parts[3])
        except ValueError:
            raise ParseError(f"SHOW LIMIT expects an integer: {parts[3]!r}")
        if limit < 0:
            raise ParseError("SHOW LIMIT must be >= 0")
        parts = parts[:2]
    if len(parts) != 2:
        raise ParseError("SHOW expects exactly one argument")
    name = parts[1].strip('"')
    if not _ALIAS_RE.match(name):
        raise ParseError(f"invalid materialization name: {name!r}")
    return ast.ShowCommand(name=name, limit=limit)


# the only characters the top-level splitter inspects; re's C scanner
# skips everything between them, so a large BATCH body costs one regex
# pass instead of a per-character Python loop (the splitter showed up as
# the single hottest frame in the BATCH ingest profile)
_SPLIT_TOKEN_RE = re.compile(r'[\\";{}\[\]]')


def _split_commands(body: str) -> list[str]:
    """Split on top-level ';' — semicolons inside string literals or JSON
    blocks belong to the sub-command. Inside a string, JSON escapes are
    honored: a backslash neutralizes the next character, so an escaped
    quote (\\") stays IN the string instead of closing it — without this,
    payload data containing '\\" ; ' would split a BATCH mid-command
    (user-reachable through the clients' store_many, which JSON-encodes
    arbitrary payloads into BATCH bodies)."""
    parts: list[str] = []
    depth = 0
    in_str = False
    escaped_pos = -1  # position neutralized by a preceding backslash
    start = 0
    for m in _SPLIT_TOKEN_RE.finditer(body):
        pos = m.start()
        if pos == escaped_pos:
            continue
        c = body[pos]
        if in_str:
            if c == "\\":
                escaped_pos = pos + 1
            elif c == '"':
                in_str = False
        elif c == '"':
            in_str = True
        elif c in "{[":
            depth += 1
        elif c in "}]":
            depth -= 1
        elif c == ";" and depth == 0:
            parts.append(body[start:pos])
            start = pos + 1
    parts.append(body[start:])
    return [p.strip() for p in parts if p.strip()]


def _parse_batch(text: str) -> ast.BatchCommand:
    # Reference form is `BATCH [ cmd; cmd; ... ]`
    # (reference: src/command/parser/commands/batch.rs:16-23); the bare
    # unbracketed form is tolerated as a convenience.
    body = text.strip()[len("BATCH"):].strip()
    if body.startswith("["):
        if not body.endswith("]"):
            raise ParseError("missing closing ']' for BATCH")
        body = body[1:-1]
    cmds = [parse_command(part) for part in _split_commands(body)]
    if not cmds:
        raise ParseError("BATCH requires at least one command")
    return ast.BatchCommand(commands=cmds)


# ---------------------------------------------------------------------------
# User / permission management
# (reference: src/command/parser/commands/{create_user,grant_permission,
#  revoke_permission,revoke_key,list_users,show_permissions}.rs)
# ---------------------------------------------------------------------------


def _ident_or_string(cur: _Cursor, what: str) -> str:
    t = cur.next()
    if t.kind == "ident":
        return t.text
    if t.kind == "string":
        return t.text[1:-1]
    raise ParseError(f"expected {what}, found {t}")


def _parse_create_user(text: str) -> ast.CreateUserCommand:
    cur = _Cursor(_tokenize(text))
    cur.expect_kw("CREATE")
    cur.expect_kw("USER")
    user_id = _ident_or_string(cur, "user id")
    secret_key = None
    roles = None
    while cur.at_kw("WITH"):
        cur.next()
        if cur.eat_kw("KEY"):
            secret_key = _ident_or_string(cur, "secret key")
        elif cur.eat_kw("ROLES"):
            cur.expect_op("[")
            roles = []
            while True:
                t = cur.next()
                if t.kind == "op" and t.text == "]":
                    break
                if t.kind == "op" and t.text == ",":
                    continue
                if t.kind in ("ident", "string"):
                    roles.append(t.text[1:-1] if t.kind == "string" else t.text)
                else:
                    raise ParseError(f"expected role name or ']', found {t}")
        else:
            raise ParseError("expected KEY or ROLES after WITH")
    if not cur.done():
        raise ParseError("unexpected trailing input after CREATE USER")
    return ast.CreateUserCommand(user_id=user_id, secret_key=secret_key, roles=roles)


def _parse_perm_list(cur: _Cursor) -> list[str]:
    perms: list[str] = []
    while cur.at_kw("READ", "WRITE"):
        perms.append(cur.next().text.lower())
        t = cur.peek()
        if t and t.kind == "op" and t.text == ",":
            cur.next()
            continue
        break
    # A bare identifier here is a misspelled permission name — name it,
    # matching the reference's error text
    # (src/command/parser/commands/revoke_permission.rs:34).
    t = cur.peek()
    if not perms and t is not None and t.kind == "ident" and not cur.at_kw("ON", "ALL"):
        raise ParseError(
            f"Invalid permission: '{t.text}'. Must be 'READ' or 'WRITE'"
        )
    return perms


def _parse_event_type_list(cur: _Cursor) -> list[str]:
    types = [_ident_or_string(cur, "event type")]
    while cur.peek() and cur.peek().kind == "op" and cur.peek().text == ",":
        cur.next()
        types.append(_ident_or_string(cur, "event type"))
    return types


def _parse_grant(text: str) -> ast.GrantPermissionCommand:
    cur = _Cursor(_tokenize(text))
    cur.expect_kw("GRANT")
    perms = _parse_perm_list(cur)
    if not perms:
        raise ParseError("GRANT requires at least one permission (READ or WRITE)")
    cur.expect_kw("ON")
    event_types = _parse_event_type_list(cur)
    cur.expect_kw("TO")
    user_id = _ident_or_string(cur, "user id")
    if not cur.done():
        raise ParseError("unexpected trailing input after GRANT")
    return ast.GrantPermissionCommand(
        permissions=perms, event_types=event_types, user_id=user_id
    )


def _parse_revoke(text: str) -> ast.Command:
    cur = _Cursor(_tokenize(text))
    cur.expect_kw("REVOKE")
    if cur.eat_kw("KEY"):
        user_id = _ident_or_string(cur, "user id")
        if not cur.done():
            raise ParseError("unexpected trailing input after REVOKE KEY")
        return ast.RevokeKeyCommand(user_id=user_id)
    # REVOKE [READ|WRITE,...] ON types FROM user — empty list = revoke all
    perms = _parse_perm_list(cur)
    cur.eat_kw("ALL")  # tolerated alias for the empty list
    cur.expect_kw("ON")
    event_types = _parse_event_type_list(cur)
    cur.expect_kw("FROM")
    user_id = _ident_or_string(cur, "user id")
    if not cur.done():
        raise ParseError("unexpected trailing input after REVOKE")
    return ast.RevokePermissionCommand(
        permissions=perms, event_types=event_types, user_id=user_id
    )


def _parse_list_users(text: str) -> ast.ListUsersCommand:
    cur = _Cursor(_tokenize(text))
    cur.expect_kw("LIST")
    cur.expect_kw("USERS")
    if not cur.done():
        raise ParseError("unexpected trailing input after LIST USERS")
    return ast.ListUsersCommand()


def _parse_show_permissions(text: str) -> ast.ShowPermissionsCommand:
    cur = _Cursor(_tokenize(text))
    cur.expect_kw("SHOW")
    cur.expect_kw("PERMISSIONS")
    cur.expect_kw("FOR")
    user_id = _ident_or_string(cur, "user id")
    if not cur.done():
        raise ParseError("unexpected trailing input after SHOW PERMISSIONS")
    return ast.ShowPermissionsCommand(user_id=user_id)


# ---------------------------------------------------------------------------
# PlotQL: PLOT metric OF seq [FILTER e] [TOP n] VS ... BREAKDOWN BY ... OVER g(f)
# ---------------------------------------------------------------------------

def _parse_metric(cur: _Cursor) -> ast.AggSpec:
    kw = cur.expect_ident().upper()
    def paren_field() -> str:
        cur.expect_op("(")
        f = cur.expect_ident()
        cur.expect_op(")")
        return f
    if kw == "COUNT":
        t = cur.peek()
        if t and t.kind == "op" and t.text == "(":
            return ast.AggSpec("count_field", paren_field())
        return ast.AggSpec("count")
    if kw == "UNIQUE":
        return ast.AggSpec("count_unique", paren_field())
    if kw in ("TOTAL", "SUM"):
        return ast.AggSpec("total", paren_field())
    if kw in ("AVG", "MIN", "MAX", "MEDIAN"):
        return ast.AggSpec(kw.lower(), paren_field())
    if (pop := _percentile_op(kw)) is not None:
        return ast.AggSpec(pop, paren_field())
    raise ParseError(f"unknown PLOT metric: {kw}")


def _parse_plot_sequence(cur: _Cursor) -> ast.EventSequence:
    headname = cur.expect_ident()
    links = []
    while True:
        t = cur.peek()
        if t and t.kind == "op" and t.text == ">":  # tokenized '-' swallowed? no
            raise ParseError("unexpected '>'")
        if cur.at_kw("THEN"):
            cur.next()
            links.append((ast.FOLLOWED_BY, cur.expect_ident()))
            continue
        # '->' arrives as ident containing '-'? No: '-\w' isn't an op. Handle raw.
        break
    return ast.EventSequence(head=headname, links=tuple(links))


_METRIC_KEYWORDS = {"COUNT", "UNIQUE", "TOTAL", "SUM", "AVG", "MIN", "MAX", "MEDIAN"}


def _is_metric_kw(text: str) -> bool:
    return text.upper() in _METRIC_KEYWORDS or _percentile_op(text) is not None

# TOP BY target: None (main metric), ("field", name), or ("metric", AggSpec)
_TopBy = tuple | None


def _parse_top_by(cur: _Cursor) -> tuple[int, _TopBy]:
    """TOP n [BY metric|field] — ranking is always descending (reference:
    plotql.rs build_order_spec_for_metrics: desc = true for every target)."""
    n = _parse_nonneg_int(cur, "TOP")
    target: _TopBy = None
    if cur.eat_kw("BY"):
        t = cur.peek()
        nxt = cur.peek(1)
        paren = nxt is not None and nxt.kind == "op" and nxt.text == "("
        # a metric keyword counts as a metric only in its metric FORM
        # (bare COUNT, or kw(field)); `TOP 3 BY p50` with no parens is a
        # ranking FIELD named p50
        if t and t.kind == "ident" and _is_metric_kw(t.text) and (
            paren or t.text.upper() == "COUNT"
        ):
            target = ("metric", _parse_metric(cur))
        else:
            target = ("field", cur.expect_ident())
    return n, target


def _parse_plot(text: str) -> ast.CompareCommand:
    # Normalize '->' to ' THEN ' so the tokenizer stays simple.
    normalized = text.replace("->", " THEN ")
    cur = _Cursor(_tokenize(normalized))
    cur.expect_kw("PLOT")

    def parse_side() -> tuple[ast.QueryCommand, int | None, _TopBy]:
        metric = _parse_metric(cur)
        cur.expect_kw("OF")
        seq = _parse_plot_sequence(cur)
        q = ast.QueryCommand(sequence=seq, aggs=[metric])
        top: int | None = None
        top_by: _TopBy = None
        while True:
            if cur.eat_kw("FILTER"):
                q.where = _parse_expr(cur)
            elif cur.at_kw("TOP"):
                cur.next()
                top, top_by = _parse_top_by(cur)
            else:
                break
        return q, top, top_by

    q0, top, top_by = parse_side()
    sides = [q0]
    while cur.eat_kw("VS"):
        qn, top_n, top_by_n = parse_side()
        top = top if top is not None else top_n
        top_by = top_by if top_by is not None else top_by_n
        sides.append(qn)

    breakdown: list[str] = []
    gran = None
    time_field = None
    while not cur.done():
        if cur.at_kw("BREAKDOWN"):
            cur.next(); cur.expect_kw("BY")
            breakdown.append(cur.expect_ident())
            while cur.peek() and cur.peek().kind == "op" and cur.peek().text == ",":
                cur.next()
                breakdown.append(cur.expect_ident())
        elif cur.eat_kw("OVER"):
            gran = cur.expect_ident().lower()
            if gran not in ("hour", "day", "week", "month", "year"):
                raise ParseError(f"invalid OVER granularity: {gran}")
            cur.expect_op("(")
            time_field = cur.expect_ident()
            cur.expect_op(")")
        elif cur.at_kw("TOP"):
            cur.next()
            top, tb = _parse_top_by(cur)
            top_by = top_by if top_by is not None else tb
        else:
            raise ParseError(f"unexpected token in PLOT: {cur.peek()}")

    for q in sides:
        q.group_by = list(breakdown)
        q.time_bucket = gran
        if time_field and time_field not in ("timestamp",):
            q.time_field = time_field
        if top is not None:
            # reference build_order_spec_for_metrics: BY field -> that
            # column; BY metric -> ensure in aggs, rank by its output; no
            # target -> the side's main metric. Always descending.
            if top_by is None:
                rank = q.aggs[0].output_name
            elif top_by[0] == "metric":
                spec = top_by[1]
                if spec not in q.aggs:
                    q.aggs.append(spec)
                rank = spec.output_name
            else:
                rank = top_by[1]
            q.order_by = (rank, True)
            q.limit = top
    return ast.CompareCommand(queries=sides)
