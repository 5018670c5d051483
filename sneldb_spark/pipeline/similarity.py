"""Similarity search over embedding columns (array<float>).

- `brute_force_topk`: exact cosine top-k. The query matrix is broadcast
  (queries are small by construction); the corpus streams through an
  Arrow-batched numpy matmul (`mapInPandas`) emitting per-batch top-k,
  then one tiny global re-rank — no full sort of the corpus, no per-pair
  expression evaluation.
- `lsh_topk`: random-hyperplane LSH — signatures bucket the corpus, only
  bucket-colliding candidates get exact scoring. At 100 TB this turns an
  O(|Q|x|C|) scan into O(|Q| x bucket) with a recall/probe tradeoff.
- `embedding_near_pairs`: all-pairs near-dup by cosine >= threshold,
  exact and fully distributed: rows hash into blocks, each unordered
  block pair gets one GEMM (`applyInPandas`), only above-threshold pairs
  are emitted. No driver-side corpus collect anywhere on the path.

The matmul kernel is the one place where built-in expressions genuinely
can't compete: Catalyst higher-order functions evaluate per element per
pair, while one BLAS sgemm per Arrow batch is ~100x faster. Scalar helpers
(dot/norm/cosine as Columns) are kept for composability.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sneldb_spark.pipeline import ensure_min_partitions


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


_SIM_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("neighbor_id", T.LongType(), False),
        T.StructField("sim", T.DoubleType(), True),
    ]
)


# Hard cap on the rows any "small by contract" query side may collect to the
# driver: 100k rows x 64 float64 dims is ~51 MB — comfortably inside driver
# memory, far below spark.driver.maxResultSize. A caller passing a larger
# frame gets a clear error instead of a driver OOM (the bounded limit(N+1)
# probe costs nothing extra: it is the same collect, capped).
MAX_DRIVER_QUERY_ROWS = 100_000


def _collect_query_side(rows_df: DataFrame, cols: list[str]) -> pd.DataFrame:
    """Bounded driver collect of a contractually-small query side."""
    pdf = rows_df.select(*cols).limit(MAX_DRIVER_QUERY_ROWS + 1).toPandas()
    if len(pdf) > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query side exceeds MAX_DRIVER_QUERY_ROWS={MAX_DRIVER_QUERY_ROWS:,}: "
            "this operator collects the query side to the driver by contract; "
            "split the query batch or use a distributed join form."
        )
    return pdf


def _normalized_matrix(rows_df: DataFrame, id_col: str, vec_col: str):
    """Collect (ids, row-normalized float64 matrix) — for the broadcast side."""
    pdf = _collect_query_side(rows_df, [id_col, vec_col])
    ids = pdf[id_col].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return ids, mat / norms


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, sim, rank). Self-matches excluded.
    Ranking is deterministic: (sim desc, neighbor_id asc) — with optional
    rounding applied *before* ranking so results are reproducible across
    float summation orders.

    Plan: queries collected+normalized once on the driver (they are the
    small side by contract), shipped in the UDF closure; each corpus Arrow
    batch does one float64 GEMM and emits only its local top-k per query,
    so the shuffle into the final global rank carries O(batches * |Q| * k)
    rows instead of |C| * |Q|.
    """
    q_ids, q_mat = _normalized_matrix(queries, id_col, vec_col)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (mat / norms) @ q_mat.T  # (batch, nq)
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            take = min(k + 1, len(ids))  # +1: self-match may occupy a slot
            out = []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                # keep everything >= the take-th value (ties included) so the
                # global (sim desc, id asc) rank sees every tied candidate
                kth = np.partition(col, len(col) - take)[len(col) - take]
                for i in np.nonzero(col >= kth)[0]:
                    if ids[i] != qid:
                        out.append((qid, ids[i], col[i]))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    scored = ensure_min_partitions(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema=_SIM_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane signature: bit i = sign(v . r_i). The hyperplanes
    are generated deterministically from `seed` and shipped in the kernel
    closure.

    The dot products run in an Arrow batch kernel with an EXPLICIT
    left-associated float64 accumulation (``acc = (..((0.0 + t0) + t1)..)``,
    one vectorized add per dimension), which is bit-identical to both the
    Catalyst ``F.aggregate`` fold and the oracle SQL's ``0.0 + t1 + ... ``
    chain — so signatures agree with the SQL replica exactly, including at
    sign boundaries. (A plain GEMM would use pairwise summation and could
    flip a bit when a dot product sits within one ulp of zero.) The
    previous pure-expression form expanded to planes*dim literal terms,
    blowing past the JVM's JIT/codegen method limits into interpreted
    evaluation — the Arrow kernel is ~5x faster and scale-independent."""
    pl = _lsh_planes(planes, dim, seed)
    out = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    sig_schema = T.StructType(
        [
            T.StructField("id", out.schema["id"].dataType, False),
            T.StructField("v", T.ArrayType(T.DoubleType()), True),
            T.StructField("sig", T.LongType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            bits = _lsh_bits(mat, pl)
            yield pd.DataFrame({"id": pdf["id"], "v": pdf["v"], "sig": bits})

    return out.mapInPandas(kernel, schema=sig_schema)


def _lsh_planes(planes: int, dim: int, seed: int) -> np.ndarray:
    import random

    rng = random.Random(seed)
    return np.array(
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)],
        dtype=np.float64,
    )


def _lsh_bits(mat: np.ndarray, pl: np.ndarray) -> np.ndarray:
    """Signature bits for a (rows x dim) float64 matrix — the exact
    arithmetic of the `lsh_signatures` kernel (left-associated float64
    accumulation; see its docstring), shared so a driver-side caller
    computes bit-identical signatures."""
    acc = np.zeros((len(mat), pl.shape[0]), dtype=np.float64)
    for j in range(pl.shape[1]):  # left-associated: matches the SQL fold exactly
        acc += mat[:, j : j + 1] * pl[:, j]
    return (acc > 0) @ (1 << np.arange(pl.shape[0], dtype=np.int64))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    dim: int = 64,
    max_probe_hamming: int = 2,
    round_digits: int | None = 4,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose signature is
    within `max_probe_hamming` bits of the query signature.

    Candidate generation is a banded EQUI-join, not a nested-loop scan:
    the signature splits into ``max_probe_hamming + 1`` disjoint blocks,
    and by pigeonhole any pair within the hamming budget shares at least
    one identical block — so joining on (block index, block value) produces
    exactly the pairs the exhaustive signature comparison would, at a
    hash-join's cost. The hamming verify then filters to the same final
    set. At 100 TB this is the difference between a shuffle-partitioned
    hash join and |corpus| x |queries| signature tests.
    """
    n_bands = max_probe_hamming + 1
    bounds = [round(i * planes / n_bands) for i in range(n_bands + 1)]

    def banded(df: DataFrame, sig_col: str) -> DataFrame:
        blocks = []
        for b in range(n_bands):
            lo, hi = bounds[b], bounds[b + 1]
            mask = (1 << (hi - lo)) - 1
            blocks.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col(sig_col), lo)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
            )
        return df.select(
            "*", F.explode(F.array(*blocks)).alias("bb")
        ).select(*df.columns, F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))

    # localCheckpoint the signature table: banding reads it narrow (no
    # vectors through the explode) and the verify fetches vectors back from
    # the checkpoint — so the signature kernel runs once AND each stage
    # carries exactly ONE Python eval. (Fusing the signature and scoring
    # kernels into one stage — two chained Python evals per task — measured
    # 6–13 s on the gate in a long-lived session vs 1.6 s fresh: every
    # task needs two simultaneous Python workers, and the doubled pool
    # demand stalls cold-forked workers behind pandas imports.)
    # Checkpoint, not persist: the returned frame is lazy, so a persist
    # would leak cached blocks across calls and let a repeat invocation hit
    # the previous run's cache via CacheManager plan-matching.
    sigs = lsh_signatures(corpus, id_col, vec_col, planes, dim).localCheckpoint(
        eager=True
    )
    c = banded(sigs.drop("v"), "sig")
    # The query side is the small side by contract and scoring already
    # collects it — so ONE driver pass now serves both: raw vectors are
    # collected once, signatures computed with the kernel's exact numpy
    # arithmetic (_lsh_bits, bit-identical), the banded (band, key) rows
    # shipped back as a broadcast local relation, and the normalized
    # scoring matrix falls out of the same collect. This replaces a
    # second queries scan + a signature kernel pass + its banding explode
    # with zero extra jobs.
    pl = _lsh_planes(planes, dim, seed=42)
    q_pdf = _collect_query_side(queries, [id_col, vec_col])
    q_ids = q_pdf[id_col].to_numpy()
    if len(q_pdf):
        q_raw = np.array([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
        qsigs = _lsh_bits(q_raw, pl)
    else:
        q_raw, qsigs = np.zeros((0, dim)), np.array([], dtype=np.int64)
    q_rows = []
    for qid, sig in zip(q_ids, qsigs):
        for b in range(n_bands):
            lo, hi = bounds[b], bounds[b + 1]
            q_rows.append(
                (int(qid), int(sig), b, (int(sig) >> lo) & ((1 << (hi - lo)) - 1))
            )
    spark = queries.sparkSession
    if 0 < len(q_rows) <= 4096:
        # Ship the banded rows as a pure-JVM literal relation. A
        # createDataFrame local frame is a PYTHON-RDD scan with
        # defaultParallelism partitions — executed inside the broadcast
        # it launches one pickle-worker task per core, and in a
        # long-lived session whose plain-pickle worker pool has gone
        # cold that measured as ~2.4 s of blocked (zero-CPU) time per
        # task: 9.6 s on the gate vs 1.6 s fresh. The literal explode is
        # one JVM task, no Python boundary at all (guide §4). One
        # selectExpr: a Column per literal is a py4j round trip each.
        rows_expr = ", ".join(
            f"struct({qid}L AS query_id, {sig}L AS qsig, {b} AS band, {key}L AS key)"
            for qid, sig, b, key in q_rows
        )
        q_local = spark.range(1).selectExpr(
            f"inline(array({rows_expr})) AS (query_id, qsig, band, key)"
        )
    else:  # very wide query batches: literal plan size would dominate
        q_local = spark.createDataFrame(
            q_rows, "query_id long, qsig long, band int, key long"
        )
    q = F.broadcast(q_local)
    # Dedup the candidate PAIRS while they are narrow (query_id, id)
    # longs — a map-side-combinable HashAggregate — then fetch each
    # candidate's vector from the signature cache. The r10 form
    # deduplicated rows already carrying the full `v` arrays (a
    # SortAggregate over vectors).
    cand = (
        c.join(q, ["band", "key"])
        .where(
            (F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))) <= max_probe_hamming)
            & (F.col("id") != F.col("query_id"))
        )
        .select("query_id", "id")
        .dropDuplicates(["query_id", "id"])
        .join(sigs.select("id", "v"), "id")
    )
    # Exact scoring of the banded candidates runs through the same
    # Arrow-GEMM shape as `brute_force_topk`: one float64 vectorized dot
    # per Arrow batch instead of a Catalyst per-element fold per pair
    # (~100x — see module docstring).
    norms = np.linalg.norm(q_raw, axis=1, keepdims=True) if len(q_raw) else q_raw
    if len(q_raw):
        norms[norms == 0] = 1.0
        q_mat = q_raw / norms
    else:
        q_mat = q_raw
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            qrows = q_mat[[q_index[int(qid)] for qid in pdf["query_id"]]]
            sims = np.einsum("ij,ij->i", mat / norms, qrows)
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype("int64"),
                    "neighbor_id": pdf["id"].astype("int64"),
                    "sim": sims,
                }
            )

    scored = cand.select("query_id", "id", "v").mapInPandas(score, schema=_SIM_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _spherical_plusplus_seed(
    df: DataFrame, nlist: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic spherical k-means++ seeding for the IVF quantizer
    (opt-in via ``ivf_assignments(init="plusplus")``).

    The angular analogue of `clustering._plusplus_seed`: each next
    centroid is a D-proportional draw with D = 1 - max cosine sim to the
    chosen set, derandomized by the md5-keyed exponential race (pick the
    row minimizing -ln(u)/D). u is built EXACTLY as in
    `clustering._plusplus_seed`: the first 15 hex chars of
    md5("<id>:<draw_index>") scaled by 16^15 and clamped strictly below
    1.0 — fresh per draw (decorrelated) and identical across engines.
    One Arrow scan per added centroid — each batch emits only its local
    best candidate by lexicographic (key, cid) (the same tie-break the
    driver applies across batches, so the winner is
    partitioning-independent even on duplicate vectors), the driver
    reduces — so seeding costs nlist-1 passes; worth it when low ids are
    clustered and lowest-id seeding would stack several lists in one
    region (unbalanced lists = one hot partition at probe time). Rows
    already indistinguishable from a chosen centroid (D <= 1e-12) can
    never win; if everything is, the remaining seeds pad from the
    lowest-id vectors (the default recipe)."""
    import hashlib

    def _norm_rows(m: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    first = (
        df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(1).toPandas()
    )
    if not len(first):
        raise ValueError("ivf_assignments: empty corpus")
    cents = _norm_rows(
        np.array([np.asarray(first[vec_col][0], dtype=np.float64)])
    )
    cand_schema = T.StructType(
        [
            T.StructField("key", T.DoubleType(), False),
            T.StructField("cid", T.LongType(), False),
            T.StructField("v", T.ArrayType(T.DoubleType()), False),
        ]
    )
    src = ensure_min_partitions(df.select(id_col, vec_col))
    while len(cents) < nlist:
        chosen = cents
        draw = len(cents)  # mixed into the hash: fresh uniform per draw

        def best(
            batches: Iterator[pd.DataFrame], chosen=chosen, draw=draw
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                d = 1.0 - (_norm_rows(raw) @ chosen.T).max(axis=1)
                # same u as clustering._plusplus_seed: 15 hex chars of
                # md5("<id>:<draw>") / 16^15, clamped strictly below 1.0
                u = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                f"{i}:{draw}".encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        / float(16**15)
                        for i in pdf[id_col]
                    ),
                    dtype=np.float64,
                    count=len(pdf),
                )
                u = np.minimum(u, 1.0 - 2.0**-53)
                with np.errstate(divide="ignore"):
                    key = np.where(
                        d > 1e-12, -np.log(u + 1e-300) / d, np.inf
                    )
                if not np.isfinite(key.min()):
                    continue
                # lexicographic (key, cid): the same tie-break the driver
                # applies across batches — partition-layout independent
                # even when one batch holds duplicate vectors/keys
                order = np.lexsort((pdf[id_col].to_numpy(), key))
                j = int(order[0])
                yield pd.DataFrame(
                    {
                        "key": [float(key[j])],
                        "cid": [int(pdf[id_col].iloc[j])],
                        "v": [raw[j].tolist()],
                    }
                )

        cand = src.mapInPandas(best, schema=cand_schema).toPandas()
        if not len(cand):  # nothing left at positive distance: pad
            pad = (
                df.select(id_col, vec_col)
                .orderBy(F.col(id_col).asc())
                .limit(nlist)
                .toPandas()
            )
            vecs = _norm_rows(
                np.array([np.asarray(v, dtype=np.float64) for v in pad[vec_col]])
            )
            cents = np.vstack([cents, vecs])[:nlist]
            break
        cand = cand.sort_values(["key", "cid"]).iloc[0]
        cents = np.vstack(
            [cents, _norm_rows(np.array([np.asarray(cand["v"])]))]
        )
    return cents


def ivf_assignments(
    df: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "lowest_id",
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: spherical k-means with deterministic init.

    Centroids start as the `nlist` lowest-id vectors (default,
    deterministic, no RNG), the deterministic spherical k-means++
    draw (``init="plusplus"``, see `_spherical_plusplus_seed` — one
    corpus scan per centroid, fine at small nlist), or deterministic
    k-means|| (``init="parallel"``, clustering.parallel_seed with the
    cosine metric — ~10 scans at ANY nlist, the seeding for
    nlist-in-the-thousands builds), then `iters` Lloyd rounds. Per round: assignment is a distributed
    Arrow-batched argmax GEMM; the centroid update aggregates per-cluster
    element sums JVM-side (posexplode -> groupBy(cluster, pos)) so only the
    (nlist x dim) centroid table ever reaches the driver. Returns
    (corpus with `cluster` column, normalized centroid matrix).

    At 100 TB the assignment pass is a full scan per round (embarrassingly
    parallel, no shuffle); the update shuffles (nlist * dim) partial sums —
    both independent of corpus size in driver memory.
    """
    if init not in ("lowest_id", "plusplus", "parallel"):
        raise ValueError(f"ivf_assignments: unknown init {init!r}")

    def _norm_rows(m: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    if init == "plusplus":
        cents = _spherical_plusplus_seed(df, nlist, id_col, vec_col)
    elif init == "parallel":
        # k-means|| (clustering.parallel_seed, cosine metric): O(rounds)
        # scans instead of plusplus's O(nlist) — the scale-safe seeding
        # for large nlist builds (VERDICT r6)
        from sneldb_spark.pipeline.clustering import parallel_seed

        cents = parallel_seed(df, nlist, id_col, vec_col, metric="cosine")
    else:
        seed_pdf = (
            df.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(nlist)
            .toPandas()
        )
        cents = _norm_rows(
            np.array([np.asarray(v, dtype=np.float64) for v in seed_pdf[vec_col]])
        )

    def _batch_matrix(pdf: pd.DataFrame) -> np.ndarray:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        return _norm_rows(mat)

    base = ensure_min_partitions(df)

    # Lloyd rounds: one scan each; every Arrow batch emits only its nlist
    # partial (sum, count) rows, reduced on the driver — no join, no
    # explode shuffle. At 100 TB each round moves O(batches * nlist * dim)
    # floats to the driver, independent of row count.
    partial_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("s", T.ArrayType(T.DoubleType()), False),
            T.StructField("n", T.LongType(), False),
        ]
    )
    for _ in range(iters):
        centroids = cents

        def partials(
            batches: Iterator[pd.DataFrame], centroids=centroids
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                asn = (_norm_rows(raw) @ centroids.T).argmax(axis=1)
                rows = []
                for cl in np.unique(asn):
                    sel = raw[asn == cl]
                    rows.append((int(cl), sel.sum(axis=0).tolist(), len(sel)))
                yield pd.DataFrame(rows, columns=["cluster", "s", "n"])

        pdf = base.select(vec_col).mapInPandas(partials, schema=partial_schema).toPandas()
        new = cents.copy()
        for cl, grp in pdf.groupby("cluster"):
            total = np.sum(np.stack([np.asarray(s) for s in grp["s"]]), axis=0)
            new[int(cl)] = total / grp["n"].sum()
        cents = _norm_rows(new)

    # Final pass: tag every row with its list id in one Arrow pass-through.
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField("cluster", T.IntegerType(), False)])
    centroids = cents

    def tag(batches: Iterator[pd.DataFrame], centroids=centroids) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf["cluster"] = (_batch_matrix(pdf) @ centroids.T).argmax(axis=1).astype("int32")
            yield pdf

    return base.mapInPandas(tag, schema=out_schema), cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    init: str = "lowest_id",
) -> DataFrame:
    """IVF ANN top-k: probe the `nprobe` nearest inverted lists per query,
    exact-score only those candidates. `nprobe == nlist` degenerates to the
    exact scan (used by the oracle-checked gate query); smaller nprobe is
    the 100 TB path — each query touches ~nprobe/nlist of the corpus, and
    the cluster column can be a partition key so probes prune files.
    """
    _, cents = ivf_assignments(corpus, nlist, iters, id_col, vec_col, init=init)
    q_ids, q_mat = _normalized_matrix(queries, id_col, vec_col)
    # probe_mask[cluster, j] = does query j probe this inverted list?
    probe_order = np.argsort(-(q_mat @ cents.T), axis=1, kind="stable")[:, :nprobe]
    probe_mask = np.zeros((nlist, len(q_ids)), dtype=bool)
    for j, row in enumerate(probe_order):
        probe_mask[row, j] = True

    # One scan, no join: each Arrow batch assigns its rows to lists (argmax
    # GEMM against the centroid matrix), masks scores to probing queries,
    # and emits its local top-k per query. Rows in lists no query probes
    # cost one small GEMM and are dropped — at scale, persisting the tagged
    # corpus partitioned BY cluster turns that into file-level pruning
    # (the probe set prunes partitions before the scan).
    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            unit = mat / norms
            asn = (unit @ cents.T).argmax(axis=1)
            allowed = probe_mask[asn]  # (batch, nq)
            keep = allowed.any(axis=1)
            if not keep.any():
                continue
            ids, unit, allowed = ids[keep], unit[keep], allowed[keep]
            sims = unit @ q_mat.T
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            sims[~allowed] = -np.inf
            take = min(k + 1, len(ids))
            out = []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                kth = np.partition(col, len(col) - take)[len(col) - take]
                for i in np.nonzero(col >= kth)[0]:
                    if ids[i] != qid and col[i] != -np.inf:
                        out.append((qid, ids[i], col[i]))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    scored = ensure_min_partitions(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema=_SIM_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id1", T.LongType(), False),
        T.StructField("id2", T.LongType(), False),
        T.StructField("sim", T.DoubleType(), True),
    ]
)

_KNN_SCHEMA = T.StructType(
    [
        T.StructField("src_id", T.LongType(), False),
        T.StructField("dst_id", T.LongType(), False),
        T.StructField("sim", T.DoubleType(), True),
    ]
)


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
    candidates_only: bool = False,
    dtype: str = "float64",
) -> DataFrame:
    """Exact k-nearest-neighbor graph over the corpus: for EVERY vector,
    its top-k cosine neighbors (self excluded). Output
    (src_id, dst_id, sim, rank) — the adjacency list semantic clustering,
    diversity analysis, and hard-negative mining start from.

    Unlike `brute_force_topk` (small query set broadcast against the
    corpus), both sides here are corpus-sized, so nothing is collected or
    broadcast: rows hash into `n_blocks` blocks, every unordered block
    pair gets one float64 GEMM (`applyInPandas`, same blocking as
    `embedding_near_pairs`), and each pair group emits only the per-row
    LOCAL top-k against the other block (ties at the k-th value kept so
    the global rank sees every tied candidate). The global window then
    ranks O(|C| * n_blocks * k) candidate rows — linear in the corpus —
    instead of the |C|^2 pair matrix.

    Scale accounting: shuffle volume is n_blocks * |C| rows in, ~k *
    n_blocks * |C| candidate rows out; executor memory is two blocks of
    vectors per group (pick n_blocks as in `embedding_near_pairs` — the
    GEMM itself streams source rows in bounded chunks, so the similarity
    matrix never materializes beyond chunk x block_size ≈ 160 MB and the
    vector blocks are the real footprint); compute is the inherent
    O(|C|^2) of an exact graph — swap in the IVF/LSH families when
    approximate recall suffices at 100 TB. tools/smoke_knn.py verifies
    the candidate-row bound and times the full graph at 1M x 64-dim.

    `dtype="float32"` halves the GEMM + selection memory traffic (the
    wall-clock driver at corpus scale); keep the float64 default where
    results feed a fixed-precision oracle comparison.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("b"),
    )
    rep = base.select(
        "id",
        "v",
        "b",
        F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])).alias("o"),
    ).select(
        "id",
        "v",
        "b",
        F.least("b", "o").alias("b1"),
        F.greatest("b", "o").alias("b2"),
    )

    def _local_topk(src_ids, src_unit, dst_ids, dst_unit, exclude_self: bool):
        """Per source row, emit candidates >= its k-th best similarity
        against the dst block (ties included; self dropped when square).
        Sources stream in chunks so the similarity slab stays
        chunk x |dst| (~<=160 MB) instead of |block|^2 — at 1M vectors a
        full 62k x 62k block matrix would be ~31 GB and dominate executor
        memory, defeating the documented two-blocks-of-vectors sizing.
        The per-chunk top-k is fully vectorized (row-wise partition +
        boolean gather): no per-row Python in the hot loop."""
        m = len(dst_ids)
        valid = m - 1 if exclude_self else m
        if valid <= 0:
            return pd.DataFrame(columns=["src_id", "dst_id", "sim"])
        take = min(k, valid)
        out = []
        chunk = max(64, int(20_000_000 / max(1, m)))
        for s in range(0, len(src_ids), chunk):
            chunk_ids = src_ids[s : s + chunk]
            sims = src_unit[s : s + chunk] @ dst_unit.T
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            if exclude_self:
                # ids are unique: each row drops exactly its own column
                sims[dst_ids[None, :] == chunk_ids[:, None]] = -np.inf
            kth = np.partition(sims, m - take, axis=1)[:, m - take]
            sel = sims >= kth[:, None]  # -inf self never selected
            ii, jj = np.nonzero(sel)
            out.append(
                pd.DataFrame(
                    {
                        "src_id": chunk_ids[ii],
                        "dst_id": dst_ids[jj],
                        "sim": sims[ii, jj],
                    }
                )
            )
        if not out:
            return pd.DataFrame(columns=["src_id", "dst_id", "sim"])
        return pd.concat(out, ignore_index=True)

    def score_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b1, b2 = key
        ids = pdf["id"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.dtype(dtype)) for v in pdf["v"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        unit = (mat / norms).astype(np.dtype(dtype), copy=False)
        if b1 == b2:
            return _local_topk(ids, unit, ids, unit, exclude_self=True)
        lmask = pdf["b"].to_numpy() == b1
        lids, rids = ids[lmask], ids[~lmask]
        if not len(lids) or not len(rids):
            return pd.DataFrame(columns=["src_id", "dst_id", "sim"])
        lunit, runit = unit[lmask], unit[~lmask]
        # Each cross block-pair is seen exactly once: emit both directions.
        fwd = _local_topk(lids, lunit, rids, runit, exclude_self=False)
        rev = _local_topk(rids, runit, lids, lunit, exclude_self=False)
        return pd.concat([fwd, rev], ignore_index=True)

    cand = rep.groupBy("b1", "b2").applyInPandas(score_pair, schema=_KNN_SCHEMA)
    if candidates_only:
        # pre-window candidate stream — lets the scale smoke verify the
        # O(|C| * n_blocks * k) bound empirically
        return cand
    w = Window.partitionBy("src_id").orderBy(F.col("sim").desc(), F.col("dst_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs (id1 < id2) with cosine >= threshold (exact), blocked.

    Nothing is collected to the driver. Each row hashes into one of
    `n_blocks` blocks and is replicated to every unordered block pair it
    participates in; `applyInPandas` then runs one float64 GEMM per block
    pair and emits only above-threshold pairs. Every (x, y) pair lands in
    exactly one group — (block(x), block(y)) sorted — so no dedup pass is
    needed, and the id1 < id2 filter handles self/ordering inside the
    diagonal groups.

    Scale accounting: shuffle volume is n_blocks * |C| rows (the
    replication), executor memory is two blocks ≈ 2|C|/n_blocks vectors
    per group, and compute is the inherent O(|C|^2/2) of *exact* all-pairs
    — pick n_blocks ≈ 2|C|·dim·8B / executor_mem to bound memory, and use
    the MinHash/SimHash/LSH families when approximate recall is acceptable
    at 100 TB.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("b"),
    )
    rep = base.select(
        "id",
        "v",
        "b",
        F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])).alias("o"),
    ).select(
        "id",
        "v",
        "b",
        F.least("b", "o").alias("b1"),
        F.greatest("b", "o").alias("b2"),
    )

    def score_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b1, b2 = key
        ids = pdf["id"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        unit = mat / norms
        if b1 == b2:
            left_ids, left_unit = ids, unit
            right_ids, right_unit = ids, unit
        else:
            lmask = pdf["b"].to_numpy() == b1
            left_ids, right_ids = ids[lmask], ids[~lmask]
            if not len(left_ids) or not len(right_ids):
                return pd.DataFrame(columns=["id1", "id2", "sim"])
            left_unit, right_unit = unit[lmask], unit[~lmask]
        # Stream left rows in chunks: the sims slab stays chunk x |right|
        # (~<=160 MB) instead of |block|^2 — see knn_graph._local_topk.
        parts = []
        chunk = max(64, int(20_000_000 / max(1, len(right_ids))))
        for s in range(0, len(left_ids), chunk):
            sims = left_unit[s : s + chunk] @ right_unit.T
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            ii, jj = np.nonzero(sims >= threshold)
            if not len(ii):
                continue
            l, r = left_ids[s + ii], right_ids[jj]
            vals = sims[ii, jj]
            if b1 == b2:
                # Symmetric: each pair appears at [i,j] and [j,i];
                # id1 < id2 keeps one and drops self-matches.
                keep = l < r
                l, r, vals = l[keep], r[keep], vals[keep]
                parts.append(pd.DataFrame({"id1": l, "id2": r, "sim": vals}))
            else:
                # Off-diagonal: each cross pair is computed exactly once
                # here — order the ids rather than filtering, or the
                # pair is lost.
                parts.append(
                    pd.DataFrame(
                        {
                            "id1": np.minimum(l, r),
                            "id2": np.maximum(l, r),
                            "sim": vals,
                        }
                    )
                )
        if not parts:
            return pd.DataFrame(columns=["id1", "id2", "sim"])
        return pd.concat(parts, ignore_index=True)

    return rep.groupBy("b1", "b2").applyInPandas(score_pair, schema=_PAIR_SCHEMA)


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-based (SemDeDup-style) deduplication: connected components
    over the exact cosine near-pair graph, keeping one representative per
    semantic cluster.

    Returns one row per input id: (id, cluster_id = min id in component,
    cluster_size, is_representative). The dedup decision is "keep rows
    where is_representative"; everything composes from the blocked GEMM
    pair kernel (no driver-side corpus) plus the same min-label-propagation
    components used by the text dedup family — one shuffle per round,
    rounds = component diameter.
    """
    from sneldb_spark.pipeline.dedup import dedup_clusters

    pairs = embedding_near_pairs(
        df, threshold, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
    )
    clusters = dedup_clusters(
        df.select(id_col),
        pairs.select("id1", "id2"),
        id_col=id_col,
        with_sizes=True,
    )
    return clusters.select(
        F.col("id").alias(id_col),
        "cluster_id",
        "cluster_size",
        (F.col("id") == F.col("cluster_id")).alias("is_representative"),
    )


_CROSS_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("new_id", T.LongType()),
        T.StructField("ref_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def semantic_cross_pairs(
    new_df: DataFrame,
    ref_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """All NEW x REF pairs with cosine >= threshold (exact, blocked) —
    the embedding analogue of `minhash_cross_pairs`: incremental
    semantic dedup checks a new batch against an already-curated corpus
    WITHOUT re-pairing the reference against itself.

    Each side blocks independently on xxhash64(id); a new row in block
    i is replicated to every (i, j) group and a ref row in block j to
    every (i, j) group, so each cross pair meets in exactly ONE group —
    one float64 GEMM per group, only above-threshold pairs emitted.
    Shuffle volume is n_blocks * (|new| + |ref|) rows; ref-vs-ref and
    new-vs-new work is never done (that is the whole point — at 100 TB
    the reference corpus dominates and re-blocking it quadratically per
    increment would swamp the delta's own cost).
    """
    olist = F.array(*[F.lit(i) for i in range(n_blocks)])
    new = new_df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("bn"),
        F.lit(0).alias("side"),
    ).select("id", "v", "side", "bn", F.explode(olist).alias("br"))
    ref = ref_df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("br"),
        F.lit(1).alias("side"),
    ).select("id", "v", "side", F.explode(olist).alias("bn"), "br")
    rep = new.unionByName(ref)

    def score_pair(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        nmask = pdf["side"].to_numpy() == 0
        new_ids = pdf["id"].to_numpy()[nmask]
        ref_ids = pdf["id"].to_numpy()[~nmask]
        if not len(new_ids) or not len(ref_ids):
            return pd.DataFrame(columns=["new_id", "ref_id", "sim"])
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        unit = mat / norms
        new_unit, ref_unit = unit[nmask], unit[~nmask]
        parts = []
        # chunk the new side: the sims slab stays chunk x |ref-block|
        # (<=160 MB), same accounting as embedding_near_pairs
        chunk = max(64, int(20_000_000 / max(1, len(ref_ids))))
        for s in range(0, len(new_ids), chunk):
            sims = new_unit[s : s + chunk] @ ref_unit.T
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            ii, jj = np.nonzero(sims >= threshold)
            if not len(ii):
                continue
            parts.append(
                pd.DataFrame(
                    {
                        "new_id": new_ids[s + ii],
                        "ref_id": ref_ids[jj],
                        "sim": sims[ii, jj],
                    }
                )
            )
        if not parts:
            return pd.DataFrame(columns=["new_id", "ref_id", "sim"])
        return pd.concat(parts, ignore_index=True)

    return rep.groupBy("bn", "br").applyInPandas(
        score_pair, schema=_CROSS_PAIR_SCHEMA
    )


def semantic_dedup_incremental(
    new_df: DataFrame,
    ref_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """One row per NEW vector: (id, ref_matches, best_sim, is_novel) —
    is_novel = no reference vector within the cosine threshold. The
    curated-corpus growth step is `new.where(is_novel)`; the reference
    corpus is scanned once per increment and never self-joined."""
    pairs = semantic_cross_pairs(
        new_df, ref_df, threshold, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits, n_blocks=n_blocks,
    )
    agg = pairs.groupBy("new_id").agg(
        F.count(F.lit(1)).alias("ref_matches"),
        F.max("sim").alias("best_sim"),
    )
    return (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(agg, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.coalesce(F.col("ref_matches"), F.lit(0)).alias("ref_matches"),
            F.col("best_sim"),
            F.col("ref_matches").isNull().alias("is_novel"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: cluster-partitioned Parquet + file-level probe pruning
# ---------------------------------------------------------------------------

def ivf_build_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "lowest_id",
) -> np.ndarray:
    """Materialize the IVF index: the corpus written as Parquet
    PARTITIONED BY its inverted-list id, plus the centroid matrix as a
    tiny sidecar table. This is the 100 TB serving path the in-memory
    `ivf_topk` docstring points at — once the lists are partition
    directories, a probe of `nprobe` lists is file-level partition
    pruning: queries never open the other `nlist - nprobe` lists'
    files at all."""
    tagged, cents = ivf_assignments(corpus, nlist, iters, id_col, vec_col,
                                    init=init)
    (
        tagged.withColumnRenamed("cluster", "ivf_cluster")
        # co-locate each list before the partitioned write: without this,
        # every upstream task writes a sliver into every list directory
        # (tasks x nlist tiny files); with it, a list is a few large files.
        # AQE splits any skewed list back across tasks at real scale.
        .repartition("ivf_cluster")
        .write.mode("overwrite")
        .partitionBy("ivf_cluster")
        .parquet(f"{path}/lists")
    )
    # Centroids are (nlist x dim) driver metadata — a JSON sidecar, not a
    # Spark job: saves a write+read job pair per build/serve without
    # touching the distributed part of the index.
    import json as _json
    import os as _os

    _os.makedirs(path, exist_ok=True)
    with open(f"{path}/centroids.json", "w", encoding="utf-8") as f:
        _json.dump([[float(x) for x in row] for row in cents], f)
    return cents


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """ANN top-k against a persisted IVF index: load the (tiny) centroid
    table, pick each query's `nprobe` nearest lists, and scan ONLY those
    partition directories (`ivf_cluster IN (...)` is a partition filter —
    Catalyst prunes the files before the scan; asserted by plan test).
    Scoring inside the probed lists reuses the exact batch-GEMM kernel."""
    import json as _json

    with open(f"{path}/centroids.json", encoding="utf-8") as f:
        cents = np.array(_json.load(f), dtype=np.float64)
    q_ids, q_mat = _normalized_matrix(queries, id_col, vec_col)
    nprobe = min(nprobe, len(cents))
    probe_order = np.argsort(-(q_mat @ cents.T), axis=1, kind="stable")[:, :nprobe]
    probed = sorted({int(c) for row in probe_order for c in row})

    lists = spark.read.parquet(f"{path}/lists").where(
        F.col("ivf_cluster").isin(probed)
    )
    # per-query probe mask over the probed subset
    probe_mask = {int(c): np.zeros(len(q_ids), dtype=bool) for c in probed}
    for j, row in enumerate(probe_order):
        for c in row:
            probe_mask[int(c)][j] = True
    masks = probe_mask

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n = np.linalg.norm(mat, axis=1, keepdims=True)
            n[n == 0] = 1.0
            sims = (mat / n) @ q_mat.T  # rows x queries
            # round BEFORE ranking and exclude self-matches — the exact
            # contract brute_force_topk pins, so nprobe=nlist reproduces it
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            clusters = pdf["ivf_cluster"].to_numpy()
            out = []
            for j, qid in enumerate(q_ids):
                allowed = np.fromiter(
                    (masks[int(c)][j] for c in clusters), dtype=bool, count=len(clusters)
                )
                if not allowed.any():
                    continue
                col = np.where(allowed, sims[:, j], -np.inf)
                take = min(k + 1, int(allowed.sum()))
                kth = np.partition(col, len(col) - take)[len(col) - take]
                for i in np.nonzero(col >= kth)[0]:
                    if ids[i] != qid:
                        out.append((qid, ids[i], col[i]))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    from pyspark.sql import Window

    scored = lists.mapInPandas(
        score, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental IVF index maintenance: assign NEW vectors to the
    existing trained centroids and append them into the partitioned list
    layout — no retrain, no rewrite of the stored lists. Serving
    (`ivf_topk_indexed`) is unchanged: probes still arrive as partition
    filters over the union of old and appended files.

    This is the standard IVF trade: assignments stay exact against the
    FROZEN centroids (at nprobe = nlist results remain bit-identical to
    brute force over the grown corpus), while recall at partial probes
    drifts only as the data distribution drifts from the trained
    centroids — rebuild with `ivf_build_index` when drift warrants.

    One Arrow pass to tag + one repartition-by-list append; returns the
    number of vectors appended.
    """
    import json as _json

    with open(f"{path}/centroids.json", encoding="utf-8") as f:
        cents = np.array(_json.load(f), dtype=np.float64)

    base = new_vectors.select(id_col, vec_col)
    out_schema = T.StructType(
        list(base.schema.fields) + [T.StructField("ivf_cluster", T.IntegerType(), False)]
    )

    def tag(batches: Iterator[pd.DataFrame], centroids=cents) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            pdf = pdf.copy()
            pdf["ivf_cluster"] = ((mat / norms) @ centroids.T).argmax(axis=1).astype(
                "int32"
            )
            yield pdf

    tagged = ensure_min_partitions(base).mapInPandas(tag, schema=out_schema)
    (
        tagged.repartition("ivf_cluster")
        .write.mode("append")
        .partitionBy("ivf_cluster")
        .parquet(f"{path}/lists")
    )
    return new_vectors.count()
