"""Seeded input generators: event tables, command pools, documents, vectors.

Every function is a pure function of its seed and size arguments, so one
seed gives byte-identical inputs on every run. The event shape follows the
test data's `events` table as the engine stores it: context_id, event_type,
timestamp (epoch seconds), event_id, plus payload k / props / value /
value_cents.
"""

from __future__ import annotations

import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "click", "view", "error")
TYPE_WEIGHTS = (0.06, 0.16, 0.38, 0.30, 0.10)
FIELDS = '{ "k": "int", "props": "string", "value": "float", "value_cents": "int" }'
DAY = 86_400
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
DAYS = 8


def define_commands(types=EVENT_TYPES) -> list[str]:
    return [f"DEFINE {t} FIELDS {FIELDS}" for t in types]


def events_table(seed: int, n: int, contexts: int) -> pa.Table:
    """`n` events over `contexts` context ids spanning DAYS days."""
    rng = np.random.default_rng(seed)
    types = np.array(EVENT_TYPES)[
        rng.choice(len(EVENT_TYPES), size=n, p=TYPE_WEIGHTS)
    ]
    ts = T0 + rng.integers(0, DAYS * DAY, size=n)
    ctx = rng.integers(0, contexts, size=n)
    k = rng.integers(0, 100, size=n)
    cents = rng.integers(0, 50_000, size=n)
    return pa.table(
        {
            "context_id": pa.array(ctx.astype(str)),
            "event_type": pa.array(types),
            "timestamp": pa.array(ts, pa.int64()),
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "k": pa.array(k, pa.int64()),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
            "value": pa.array(cents / 100.0, pa.float64()),
            "value_cents": pa.array(cents, pa.int64()),
        }
    )


def write_events(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=64 * 1024)


def payload(rng: random.Random) -> dict:
    cents = rng.randrange(50_000)
    k = rng.randrange(100)
    return {"k": k, "props": f'{{"k": {k}}}', "value": cents / 100.0,
            "value_cents": cents}


def store_text(event_type: str, ctx: str, body: dict) -> str:
    return f'STORE {event_type} FOR "{ctx}" PAYLOAD {json.dumps(body)}'


def batch_text(stores: list[str]) -> str:
    return "BATCH [ " + "; ".join(stores) + " ]"


def batches(seed: int, n: int, contexts: int, size: int = 100) -> list[tuple[str, dict, int]]:
    """`n` BATCH texts of `size` STOREs each, as (text, events per type,
    compact JSON payload bytes)."""
    rng = random.Random(seed * 1_000_003 + 17)
    out = []
    for _ in range(n):
        stores, per_type, nbytes = [], {}, 0
        for _ in range(size):
            et = rng.choices(EVENT_TYPES, TYPE_WEIGHTS)[0]
            body = payload(rng)
            stores.append(store_text(et, str(rng.randrange(contexts)), body))
            per_type[et] = per_type.get(et, 0) + 1
            nbytes += len(json.dumps(body, separators=(",", ":")))
        out.append((batch_text(stores), per_type, nbytes))
    return out


# -- read command pool --------------------------------------------------------
# (class, weight): the fixed mix every read loop draws from. There is no
# record of real traffic shares, so every class weighs the same, as the
# soak tool's reader (sneldb_spark/tools/soak.py) picks uniformly among
# its read commands.
READ_MIX = (("scan", 1), ("agg", 1), ("point", 1), ("seq", 1), ("plot", 1), ("show", 1))
# materializations the SHOW commands of the pool read
REMEMBERS = ["REMEMBER QUERY purchase COUNT, TOTAL value_cents BY k AS purchase_by_k"]

_EV_COLS = "context_id, event_type, timestamp, event_id, k, props, value, value_cents"


def read_pool(seed: int, contexts: int) -> list[tuple[str, str, str]]:
    """15 distinct (class, command text, DuckDB oracle SQL) triples with
    parameters drawn from the seed: three of each class, but two PLOTs and
    one SHOW. The pool is small enough for a run to send every command once
    before timing, so timed reads repeat warm commands, as a dashboard
    does. The SQL runs over a table `ev` holding every stored event."""
    rng = random.Random(seed * 7919 + 1)
    pool: list[tuple[str, str, str]] = []
    # every scan selects a fifth of the values and a fifth of the keys of
    # its type, so a scan costs about the same whatever the seed
    for t in ("purchase", "view", "error"):
        lo, k0 = rng.randrange(0, 400), rng.randrange(0, 80)
        where = f"value >= {lo} AND value < {lo + 100} AND k >= {k0} AND k < {k0 + 20}"
        pool.append(("scan", f"QUERY {t} WHERE {where}",
                     f"SELECT {_EV_COLS} FROM ev WHERE event_type = '{t}' AND {where}"))
    pool.append(("agg", "QUERY click COUNT BY k",
                 "SELECT k, count(*) AS count FROM ev WHERE event_type = 'click' GROUP BY k"))
    pool.append(("agg", "QUERY purchase COUNT, TOTAL value_cents BY k",
                 "SELECT k, count(*) AS count, sum(value_cents) AS total_value_cents "
                 "FROM ev WHERE event_type = 'purchase' GROUP BY k"))
    pool.append(("agg", "QUERY view COUNT PER DAY",
                 f"SELECT (timestamp // {DAY}) * {DAY} AS bucket, count(*) AS count "
                 "FROM ev WHERE event_type = 'view' GROUP BY bucket"))
    for k0 in rng.sample(range(0, 90), 3):
        pool.append(("seq", "QUERY signup FOLLOWED BY purchase LINKED BY context_id "
                            f"WHERE signup.k >= {k0} AND signup.k < {k0 + 10}",
                     followed_by_sql(k0)))
    c1, c2, c3 = rng.sample(range(contexts), 3)
    pool.append(("point", f"REPLAY FOR {c1}",
                 f"SELECT {_EV_COLS} FROM ev WHERE context_id = '{c1}'"))
    pool.append(("point", f"QUERY purchase FOR {c2}",
                 f"SELECT {_EV_COLS} FROM ev WHERE event_type = 'purchase' "
                 f"AND context_id = '{c2}'"))
    pool.append(("point", f"REPLAY error FOR {c3} RETURN [value, k]",
                 "SELECT context_id, event_type, timestamp, event_id, value, k FROM ev "
                 f"WHERE event_type = 'error' AND context_id = '{c3}'"))
    for a, b in (("purchase", "click"), ("signup", "error")):
        pool.append(("plot", f"PLOT COUNT OF {a} VS COUNT OF {b} OVER day(timestamp)",
                     _plot_sql(a, b)))
    pool.append(("show", "SHOW purchase_by_k",
                 "SELECT k, count(*) AS count, sum(value_cents) AS total_value_cents "
                 "FROM ev WHERE event_type = 'purchase' GROUP BY k"))
    return pool


def followed_by_sql(k0: int | None = None) -> str:
    """signup FOLLOWED BY purchase: each signup (with k0 <= k < k0 + 10,
    when given) pairs with the first purchase of its context at or after
    it (ties: signup first, then event id) -- the as-of window shape of
    the correctness board."""
    side = "" if k0 is None else f" AND k >= {k0} AND k < {k0 + 10}"
    return f"""WITH a AS (SELECT * FROM ev WHERE event_type = 'signup'{side}),
b AS (SELECT * FROM ev WHERE event_type = 'purchase'),
u AS (SELECT context_id, timestamp, event_id, FALSE AS is_b FROM a
      UNION ALL SELECT context_id, timestamp, event_id, TRUE AS is_b FROM b),
m AS (SELECT *, min(CASE WHEN is_b THEN struct_pack(ts := timestamp, eid := event_id) END)
        OVER (PARTITION BY context_id ORDER BY timestamp, is_b, event_id
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mt FROM u)
SELECT event_id AS a_event_id, (mt).eid AS b_event_id FROM m
WHERE NOT is_b AND mt IS NOT NULL"""


def _plot_sql(a: str, b: str) -> str:
    day = f"(timestamp // {DAY}) * {DAY}"
    return f"""WITH p AS (SELECT {day} AS bucket, count(*) AS cnt FROM ev
                WHERE event_type = '{a}' GROUP BY bucket),
c AS (SELECT {day} AS bucket, count(*) AS cnt FROM ev WHERE event_type = '{b}' GROUP BY bucket)
SELECT COALESCE(p.bucket, c.bucket) AS bucket, p.cnt AS {a}_count, c.cnt AS {b}_count
FROM p FULL OUTER JOIN c ON p.bucket = c.bucket"""


def read_schedule(pool: list[tuple[str, str, str]], n: int) -> list[int]:
    """`n` indices into `pool`. Classes follow READ_MIX in a fixed
    interleaved cycle and each class walks its commands round-robin, so
    every seed runs the same sequence of command shapes; the seed only
    changes their parameters (and so the data they touch)."""
    by_class: dict[str, list[int]] = {}
    for i, (cls, _, _) in enumerate(pool):
        by_class.setdefault(cls, []).append(i)
    cycle = [c for c, w in READ_MIX for _ in range(w)]
    cycle = cycle[0::2] + cycle[1::2]  # spread repeats of one class apart
    seen = dict.fromkeys(by_class, 0)
    out = []
    for i in range(n):
        cls = cycle[i % len(cycle)]
        out.append(by_class[cls][seen[cls] % len(by_class[cls])])
        seen[cls] += 1
    return out


# -- pipeline inputs ------------------------------------------------------------
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small customer query big "
    "stream group filter"
).split()


def documents(seed: int, n: int) -> pa.Table:
    """Short documents; a fifth are near-copies of an earlier one, so the
    dedup operators have pairs to find."""
    rng = random.Random(seed * 31 + 5)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[rng.randrange(i)].split()
            j = rng.randrange(len(words))
            words[j] = rng.choice(_WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(20, 60))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{i % 4}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng(seed * 17 + 9)
    centers = rng.normal(0, 1, size=(8, dim))
    label = rng.integers(0, 8, size=n)
    vecs = (centers[label] + rng.normal(0, 0.6, size=(n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
