"""Near-pair core: candidates, then one verify, in self or cross mode.

Every pair and top-k operator in `dedup.py` and `similarity.py` is a thin
wrapper over these stages. `right=None` selects self mode (pairs
`id1 < id2`); a right side selects cross mode (`new_id`, `ref_id`).
docs/pipeline.md ("Near-pair core") maps each wrapper to its stage and
carries the scale accounting.

- band join: a signature table, checkpointed once, banded into
  (band, key) rows by one selectExpr, equi-joined on them and verified
  by one expression (estimated Jaccard or Hamming);
- block grid: rows replicated over block pairs, one chunked GEMM per
  group, and an emit rule (threshold or local top-k);
- broadcast-query top-k: one GEMM per corpus Arrow batch against the
  collected queries, optionally masked by a probe;
- rank: the one (sim desc, id asc) window every top-k output ends in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pair_ids(right) -> tuple[str, str]:
    return ("id1", "id2") if right is None else ("new_id", "ref_id")


def pair_schema(a: str, b: str, nullable: bool = False) -> T.StructType:
    return T.StructType([
        T.StructField(a, T.LongType(), nullable),
        T.StructField(b, T.LongType(), nullable),
        T.StructField("sim", T.DoubleType(), True),
    ])


def signature_table(df: DataFrame) -> DataFrame:
    """Materialize a table that more than one stage reads, once.

    localCheckpoint, not persist: the returned frames are lazy, so a
    persist would outlive the call (session-lifetime cached blocks, and
    CacheManager plan-matching would let a repeat call hit the previous
    run's cache). Checkpoint blocks are owned by the returned lineage and
    reclaimed by the ContextCleaner once it is dropped."""
    return df.localCheckpoint(eager=True)


def rank(scored: DataFrame, part: str, other: str, k: int) -> DataFrame:
    """Each `part`'s k best rows by (sim desc, `other` asc)."""
    w = Window.partitionBy(part).orderBy(F.col("sim").desc(), F.col(other).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def unit_rows(vecs, dtype=np.float64) -> np.ndarray:
    """Row-normalized matrix of a vector column; zero vectors stay zero."""
    mat = np.array([np.asarray(v, dtype=dtype) for v in vecs])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


# ---------------------------------------------------------------------------
# band join
# ---------------------------------------------------------------------------


def band_rows(sigs: DataFrame, keys: list[str], *cols: str, key: str = "key") -> DataFrame:
    """(cols..., band, key): one row per band, `keys[b]` a SQL expression
    over the signature. One selectExpr builds the whole relation; a
    Column per element would cost a py4j round trip each."""
    structs = ", ".join(f"struct({b} AS band, {k} AS {key})" for b, k in enumerate(keys))
    return sigs.selectExpr(*cols, f"inline(array({structs})) AS (band, {key})")


def band_join(left: DataFrame, right, *cols, key: str = "key") -> DataFrame:
    """Banded rows of `left` and `right` sharing (band, key), projected to
    `cols` (qualified `l.`/`r.`). Self mode joins `left` with itself
    under `l.id < r.id`."""
    l, r = left.alias("l"), (left if right is None else right).alias("r")
    on = (F.col("l.band") == F.col("r.band")) & (F.col(f"l.{key}") == F.col(f"r.{key}"))
    if right is None:
        on = on & (F.col("l.id") < F.col("r.id"))
    return l.join(r, on).select(*cols)


def band_candidates(left: DataFrame, right, keys: list[str], *, carry: str | None = None,
                    key: str = "key") -> DataFrame:
    """Distinct candidate id pairs; a `carry` column rides along as
    `<carry>1` / `<carry>2`."""
    cols = ("id", carry) if carry else ("id",)
    a, b = pair_ids(right)
    pick = [F.col("l.id").alias(a), F.col("r.id").alias(b)]
    if carry:
        pick += [F.col(f"l.{carry}").alias(f"{carry}1"), F.col(f"r.{carry}").alias(f"{carry}2")]
    rows = band_rows(left, keys, *cols, key=key)
    other = None if right is None else band_rows(right, keys, *cols, key=key)
    return band_join(rows, other, *pick, key=key).distinct()


def jaccard(num_hashes: int):
    """Verify by estimated Jaccard: the fraction of agreeing minhashes
    between signature columns `a` and `b`."""
    def verify(a: str, b: str) -> tuple[str, Column]:
        same = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda x: x)
        return "est_jaccard", F.size(same) / F.lit(num_hashes)
    return verify


def hamming(a: str, b: str) -> tuple[str, Column]:
    """Verify by Hamming distance between integer fingerprint columns."""
    return "hamming", F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def band_pairs(left: DataFrame, right, keys: list[str], verify, keep, *, sig: str = "sig",
               carry: bool = False, key: str = "key") -> DataFrame:
    """Band join, then one verify: `verify(a, b)` names and scores a pair
    from its two signatures, `keep(score)` filters on the score. Narrow
    signatures ride through the join (`carry`); wide ones are fetched
    back by id from the checkpointed tables after the distinct."""
    left = signature_table(left)
    right = None if right is None else signature_table(right)
    a, b = pair_ids(right)
    cand = band_candidates(left, right, keys, carry=sig if carry else None, key=key)
    if not carry:  # withColumnRenamed: one py4j call, a select of aliases ~25
        sides = ((a, left), (b, left if right is None else right))
        for n, (name, side) in enumerate(sides, 1):
            side = side.withColumnRenamed("id", name).withColumnRenamed(sig, f"{sig}{n}")
            cand = cand.join(side, name)
    name, score = verify(f"{sig}1", f"{sig}2")
    return cand.withColumn(name, score).where(keep(F.col(name))).select(a, b, name)


# ---------------------------------------------------------------------------
# block grid
# ---------------------------------------------------------------------------


def block_grid(left: DataFrame, right, n_blocks: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, b | side, b1, b2) rows so every pair meets in exactly one
    (b1, b2) group. Self mode: a row in block b goes to every
    (least(b, o), greatest(b, o)). Cross mode: a left row in block i goes
    to every (i, j), a right row in block j to every (i, j), and `side`
    tells them apart."""
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    olist = F.array(*[F.lit(i) for i in range(n_blocks)])

    def rows(df, *extra):
        return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *extra)

    if right is None:
        return rows(left, blk.alias("b")).select(
            "id", "v", "b", F.explode(olist).alias("o")
        ).select("id", "v", "b", F.least("b", "o").alias("b1"), F.greatest("b", "o").alias("b2"))
    new = rows(left, blk.alias("b1"), F.lit(0).alias("side")).select(
        "id", "v", "side", "b1", F.explode(olist).alias("b2"))
    ref = rows(right, blk.alias("b2"), F.lit(1).alias("side")).select(
        "id", "v", "side", F.explode(olist).alias("b1"), "b2")
    return new.unionByName(ref)


def _chunks(lunit: np.ndarray, runit: np.ndarray, round_digits):
    """(offset, sims) over the left rows in chunks: the sims slab stays
    chunk x |right| (<= ~160 MB) instead of |block|^2."""
    chunk = max(64, int(20_000_000 / max(1, len(runit))))
    for s in range(0, len(lunit), chunk):
        sims = lunit[s : s + chunk] @ runit.T
        yield s, sims if round_digits is None else np.round(sims, round_digits)


def threshold_emit(threshold: float, cross: bool, round_digits):
    """Emit rule: every pair with sim >= threshold. In a square (diagonal)
    group each pair shows twice and `id1 < id2` keeps one; off the
    diagonal it shows once and self mode orders its ids instead."""
    def emit(lids, lunit, rids, runit, square):
        out = []
        for s, sims in _chunks(lunit, runit, round_digits):
            ii, jj = np.nonzero(sims >= threshold)
            a, b, v = lids[s + ii], rids[jj], sims[ii, jj]
            if square:
                keep = a < b
                a, b, v = a[keep], b[keep], v[keep]
            elif not cross:
                a, b = np.minimum(a, b), np.maximum(a, b)
            out.append((a, b, v))
        return out
    return emit


def topk_emit(k: int, round_digits):
    """Emit rule: per source row, every candidate >= its k-th best sim
    against the other block (ties kept so the global rank sees them all,
    self dropped in a square group). An off-diagonal group is seen once,
    so it emits both directions."""
    def local(src_ids, src_unit, dst_ids, dst_unit, exclude_self):
        m = len(dst_ids)
        take = min(k, m - 1 if exclude_self else m)
        if take <= 0:
            return []
        out = []
        for s, sims in _chunks(src_unit, dst_unit, round_digits):
            ids = src_ids[s : s + len(sims)]
            if exclude_self:  # ids are unique: each row drops exactly its own column
                sims[dst_ids[None, :] == ids[:, None]] = -np.inf
            kth = np.partition(sims, m - take, axis=1)[:, m - take]
            ii, jj = np.nonzero(sims >= kth[:, None])
            out.append((ids[ii], dst_ids[jj], sims[ii, jj]))
        return out

    def emit(lids, lunit, rids, runit, square):
        if square:
            return local(lids, lunit, lids, lunit, True)
        return local(lids, lunit, rids, runit, False) + local(rids, runit, lids, lunit, False)
    return emit


def grid_pairs(left: DataFrame, right, emit, schema: T.StructType, n_blocks: int,
               id_col: str, vec_col: str, dtype=np.float64) -> DataFrame:
    """The block grid's one group kernel: normalize the group once, split
    it into its left and right block, and let `emit` turn the chunked
    sims into (a, b, sim) rows named by `schema`."""
    cross = right is not None

    def score_pair(key, pdf):
        ids, unit = pdf["id"].to_numpy(), unit_rows(pdf["v"], dtype)
        if not cross and key[0] == key[1]:
            parts = emit(ids, unit, ids, unit, True)
        else:
            lm = (pdf["side"] == 0 if cross else pdf["b"] == key[0]).to_numpy()
            parts = []
            if 0 < lm.sum() < len(lm):
                parts = emit(ids[lm], unit[lm], ids[~lm], unit[~lm], False)
        return pd.DataFrame({
            name: np.concatenate([p[i] for p in parts]) if parts else []
            for i, name in enumerate(schema.names)
        })

    grid = block_grid(left, right, n_blocks, id_col, vec_col)
    return grid.groupBy("b1", "b2").applyInPandas(score_pair, schema=schema)


# ---------------------------------------------------------------------------
# broadcast-query top-k
# ---------------------------------------------------------------------------

SIM_SCHEMA = pair_schema("query_id", "neighbor_id")


def broadcast_topk(rows: DataFrame, q_ids: np.ndarray, q_unit: np.ndarray, k: int,
                   id_col: str, vec_col: str, round_digits, probe=None) -> DataFrame:
    """Exact top-k of each collected query over `rows`: every Arrow batch
    runs one GEMM against the query matrix and emits only its local
    top-k per query (ties at the k-th value kept, self-matches dropped),
    then one global rank. `probe(pdf, unit)` is an optional
    (row, query) mask of the pairs a query may score."""
    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, unit = pdf[id_col].to_numpy(), unit_rows(pdf[vec_col])
            allowed = np.ones((len(ids), len(q_ids)), bool) if probe is None else probe(pdf, unit)
            keep = allowed.any(axis=1)
            ids, unit, allowed = ids[keep], unit[keep], allowed[keep]
            sims = unit @ q_unit.T
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            sims[~allowed] = -np.inf
            out = []
            for j, qid in enumerate(q_ids):
                col, n = sims[:, j], int(allowed[:, j].sum())
                take = min(k + 1, n)  # +1: the self-match may occupy a slot
                if take:
                    kth = np.partition(col, len(col) - take)[len(col) - take]
                    hits = np.nonzero(col >= kth)[0]
                    out += [(qid, ids[i], col[i]) for i in hits if ids[i] != qid]
            yield pd.DataFrame(out, columns=SIM_SCHEMA.names)

    return rank(rows.mapInPandas(score, schema=SIM_SCHEMA), "query_id", "neighbor_id", k)
