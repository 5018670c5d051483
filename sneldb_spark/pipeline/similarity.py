"""Similarity search over embedding columns (array<float>).

Every operator here is a thin wrapper over the near-pair core
(`pipeline/near.py`; stages and scale accounting in docs/pipeline.md):

- `brute_force_topk`, `ivf_topk`, `ivf_topk_indexed`: broadcast-query
  top-k (IVF masks each query to its probed lists);
- `lsh_topk`: random-hyperplane signatures, band join against the
  query signatures, exact scoring of the candidates;
- `embedding_near_pairs`, `semantic_cross_pairs`, `knn_graph`: the
  block grid with a threshold or local top-k emit rule.

The matmul kernels are the one place where built-in expressions genuinely
can't compete: Catalyst higher-order functions evaluate per element per
pair, while one BLAS sgemm per Arrow batch is ~100x faster. Scalar helpers
(dot/norm/cosine as Columns) are kept for composability.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sneldb_spark.pipeline import ensure_min_partitions
from sneldb_spark.pipeline.near import (
    SIM_SCHEMA,
    band_join,
    band_rows,
    broadcast_topk,
    grid_pairs,
    hamming,
    pair_schema,
    rank,
    signature_table,
    threshold_emit,
    topk_emit,
    unit_rows,
)


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
    return pdf[id_col].to_numpy(), unit_rows(pdf[vec_col])


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
    float summation orders. Queries are collected and normalized once on
    the driver (the small side by contract)."""
    q_ids, q_unit = _normalized_matrix(queries, id_col, vec_col)
    rows = ensure_min_partitions(corpus.select(id_col, vec_col))
    return broadcast_topk(rows, q_ids, q_unit, k, id_col, vec_col, round_digits)


def lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane signature: bit i = sign(v . r_i), hyperplanes
    drawn deterministically from `seed`. The Arrow kernel accumulates the
    dot products left-associated in float64 (`_lsh_bits`), bit-identical
    to the oracle SQL's ``0.0 + t1 + ...`` chain even at sign boundaries,
    where a GEMM's pairwise summation could flip a bit."""
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

    def kernel(batches):
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
    """Signature bits for a (rows x dim) float64 matrix, shared by the
    `lsh_signatures` kernel and the driver-side query signatures."""
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

    The band join in cross mode (corpus x queries): the signature splits
    into ``max_probe_hamming + 1`` disjoint bands, and by pigeonhole any
    pair within the hamming budget shares one identical band, so the
    equi-join plus the hamming verify yields exactly the exhaustive
    comparison's pairs at a hash join's cost.
    """
    n_bands = max_probe_hamming + 1
    bounds = [round(i * planes / n_bands) for i in range(n_bands + 1)]
    keys = [
        f"shiftrightunsigned(sig, {lo}) & {(1 << (hi - lo)) - 1}"
        for lo, hi in zip(bounds, bounds[1:])
    ]
    # Banding reads the signature table narrow and the verify fetches
    # vectors back from it: the kernel runs once AND each stage carries
    # ONE Python eval (two chained evals per task measured 6–13 s on the
    # gate in a long-lived session vs 1.6 s fresh: the doubled worker
    # demand stalls cold-forked workers behind pandas imports).
    sigs = signature_table(lsh_signatures(corpus, id_col, vec_col, planes, dim))
    # The query side is small by contract and scoring collects it anyway,
    # so ONE driver pass serves both: signatures come from the kernel's
    # exact numpy arithmetic (_lsh_bits, bit-identical) and go back as a
    # literal relation, banded by the same keys as the corpus.
    q_pdf = _collect_query_side(queries, [id_col, vec_col])
    q_ids = q_pdf[id_col].to_numpy()
    if len(q_pdf):
        q_raw = np.array([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
        q_unit = unit_rows(q_raw)
    else:
        q_raw = q_unit = np.zeros((0, dim))
    q_bits = _lsh_bits(q_raw, _lsh_planes(planes, dim, seed=42))
    q_sigs = list(zip(q_ids.tolist(), q_bits.tolist()))
    spark = queries.sparkSession
    if 0 < len(q_sigs) * n_bands <= 4096:
        # a pure-JVM literal relation: a createDataFrame frame is a
        # Python-RDD scan whose cold pickle workers measured 9.6 s on the
        # gate inside the broadcast (1.6 s fresh)
        rows = ", ".join(f"struct({q}L AS query_id, {g}L AS sig)" for q, g in q_sigs)
        q_local = spark.range(1).selectExpr(f"inline(array({rows})) AS (query_id, sig)")
    else:  # very wide query batches: literal plan size would dominate
        q_local = spark.createDataFrame(q_sigs, "query_id long, sig long")
    q = F.broadcast(band_rows(q_local, keys, "query_id", "sig AS qsig"))
    # Dedup the candidate PAIRS while they are narrow (query_id, id) longs
    # (a map-side-combinable HashAggregate), then fetch each candidate's
    # vector from the signature table.
    _, dist = hamming("sig", "qsig")
    cand = (
        band_join(band_rows(sigs, keys, "id", "sig"), q, "r.query_id", "l.id", "l.sig", "r.qsig")
        .where((dist <= max_probe_hamming) & (F.col("id") != F.col("query_id")))
        .select("query_id", "id")
        .dropDuplicates(["query_id", "id"])
        .join(sigs.select("id", "v"), "id")
    )
    q_index = {qid: i for i, qid in enumerate(q_ids.tolist())}

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qrows = q_unit[[q_index[int(qid)] for qid in pdf["query_id"]]]
            sims = np.einsum("ij,ij->i", unit_rows(pdf["v"]), qrows)
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            yield pd.DataFrame({
                "query_id": pdf["query_id"].astype("int64"),
                "neighbor_id": pdf["id"].astype("int64"),
                "sim": sims,
            })

    scored = cand.select("query_id", "id", "v").mapInPandas(score, schema=SIM_SCHEMA)
    return rank(scored, "query_id", "neighbor_id", k)


def _spherical_plusplus_seed(
    df: DataFrame, nlist: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic spherical k-means++ seeding for the IVF quantizer
    (``ivf_assignments(init="plusplus")``): the angular analogue of
    `clustering._plusplus_seed`, D = 1 - max cosine sim to the chosen
    set, derandomized by the same md5-keyed exponential race. One Arrow
    scan per added centroid; each batch emits its best (key, cid) and the
    driver reduces with the same tie-break, so the winner does not depend
    on partitioning. Rows with D <= 1e-12 never win; if every row is
    such, the remaining seeds pad from the lowest-id vectors."""
    import hashlib

    first = (
        df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(1).toPandas()
    )
    if not len(first):
        raise ValueError("ivf_assignments: empty corpus")
    cents = unit_rows([first[vec_col][0]])
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

        def best(batches, chosen=chosen, draw=draw):
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                d = 1.0 - (unit_rows(raw) @ chosen.T).max(axis=1)
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
            cents = np.vstack([cents, unit_rows(pad[vec_col])])[:nlist]
            break
        cand = cand.sort_values(["key", "cid"]).iloc[0]
        cents = np.vstack([cents, unit_rows([cand["v"]])])
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
    nlist-in-the-thousands builds), then `iters` Lloyd rounds. A round
    is one scan: every Arrow batch assigns its rows by argmax GEMM and
    emits only its nlist partial (sum, count) rows, reduced on the
    driver, so a round moves O(batches * nlist * dim) floats whatever the
    row count. Returns (corpus with `cluster` column, normalized centroid
    matrix).
    """
    if init not in ("lowest_id", "plusplus", "parallel"):
        raise ValueError(f"ivf_assignments: unknown init {init!r}")
    if init == "plusplus":
        cents = _spherical_plusplus_seed(df, nlist, id_col, vec_col)
    elif init == "parallel":
        from sneldb_spark.pipeline.clustering import parallel_seed

        cents = parallel_seed(df, nlist, id_col, vec_col, metric="cosine")
    else:
        seed_pdf = (
            df.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(nlist)
            .toPandas()
        )
        cents = unit_rows(seed_pdf[vec_col])

    base = ensure_min_partitions(df)
    partial_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("s", T.ArrayType(T.DoubleType()), False),
            T.StructField("n", T.LongType(), False),
        ]
    )
    for _ in range(iters):
        centroids = cents

        def partials(batches, centroids=centroids):
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                asn = (unit_rows(raw) @ centroids.T).argmax(axis=1)
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
        cents = unit_rows(new)
    return _tag(base, cents, vec_col, "cluster"), cents


def _tag(rows: DataFrame, cents: np.ndarray, vec_col: str, out_col: str) -> DataFrame:
    """`rows` plus `out_col`, the index of each row's nearest centroid, in
    one Arrow pass-through."""
    schema = T.StructType(
        list(rows.schema.fields) + [T.StructField(out_col, T.IntegerType(), False)]
    )

    def tag(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf[out_col] = (unit_rows(pdf[vec_col]) @ cents.T).argmax(axis=1).astype("int32")
            yield pdf

    return rows.mapInPandas(tag, schema=schema)


def _probe_mask(q_unit: np.ndarray, cents: np.ndarray, nprobe: int) -> np.ndarray:
    """(list, query) mask: each query probes its `nprobe` nearest lists."""
    order = np.argsort(-(q_unit @ cents.T), axis=1, kind="stable")[:, :nprobe]
    mask = np.zeros((len(cents), len(q_unit)), dtype=bool)
    mask[order, np.arange(len(q_unit))[:, None]] = True
    return mask


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
    the 100 TB path — each query touches ~nprobe/nlist of the corpus.

    One scan, no join: each Arrow batch assigns its rows to lists (argmax
    GEMM against the centroids) and scores a row only for the queries
    that probe its list. Persisting the tagged corpus partitioned by list
    (`ivf_build_index`) turns that mask into file-level pruning.
    """
    _, cents = ivf_assignments(corpus, nlist, iters, id_col, vec_col, init=init)
    q_ids, q_unit = _normalized_matrix(queries, id_col, vec_col)
    mask = _probe_mask(q_unit, cents, nprobe)
    rows = ensure_min_partitions(corpus.select(id_col, vec_col))
    return broadcast_topk(
        rows, q_ids, q_unit, k, id_col, vec_col, round_digits,
        probe=lambda pdf, unit: mask[(unit @ cents.T).argmax(axis=1)],
    )


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
    dtype: str = "float64",
) -> DataFrame:
    """Exact k-nearest-neighbor graph over the corpus: for EVERY vector,
    its top-k cosine neighbors (self excluded). Output
    (src_id, dst_id, sim, rank) — the adjacency list semantic clustering,
    diversity analysis, and hard-negative mining start from.

    Both sides are corpus-sized, so nothing is collected or broadcast:
    the block grid (self mode) with the local top-k emit rule, then one
    global rank over O(|C| * n_blocks * k) candidate rows instead of the
    |C|^2 pair matrix. `dtype="float32"` halves the GEMM + selection
    memory traffic (the wall-clock driver at corpus scale); keep the
    float64 default where results feed a fixed-precision oracle
    comparison.
    """
    schema = pair_schema("src_id", "dst_id")
    cand = grid_pairs(
        df, None, topk_emit(k, round_digits), schema, n_blocks, id_col, vec_col, dtype
    )
    return rank(cand, "src_id", "dst_id", k)


def embedding_near_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs (id1 < id2) with cosine >= threshold (exact): the block
    grid in self mode with the threshold emit rule. Nothing is collected
    to the driver and no dedup pass is needed (every pair lands in exactly
    one group)."""
    emit = threshold_emit(threshold, False, round_digits)
    return grid_pairs(df, None, emit, pair_schema("id1", "id2"), n_blocks, id_col, vec_col)


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


def semantic_cross_pairs(
    new_df: DataFrame,
    ref_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """All NEW x REF pairs (new_id, ref_id, sim) with cosine >= threshold
    (exact): the block grid in cross mode, the embedding analogue of
    `minhash_cross_pairs`. Incremental semantic dedup checks a new batch
    against an already-curated corpus WITHOUT re-pairing the reference
    against itself: ref-vs-ref and new-vs-new work is never done."""
    emit = threshold_emit(threshold, True, round_digits)
    schema = pair_schema("new_id", "ref_id", nullable=True)
    return grid_pairs(new_df, ref_df, emit, schema, n_blocks, id_col, vec_col)


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

def _centroids(path: str) -> np.ndarray:
    import json

    with open(f"{path}/centroids.json", encoding="utf-8") as f:
        return np.array(json.load(f), dtype=np.float64)


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
    JSON sidecar. A probe of `nprobe` lists is then file-level partition
    pruning: queries never open the other lists' files."""
    import json
    import os

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
    # (nlist x dim) driver metadata: a sidecar file, not a Spark job pair
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/centroids.json", "w", encoding="utf-8") as f:
        json.dump([[float(x) for x in row] for row in cents], f)
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
    Scoring inside the probed lists is the broadcast-query top-k kernel,
    masked to each query's own lists."""
    cents = _centroids(path)
    q_ids, q_unit = _normalized_matrix(queries, id_col, vec_col)
    mask = _probe_mask(q_unit, cents, nprobe)
    probed = np.nonzero(mask.any(axis=1))[0].tolist()
    lists = spark.read.parquet(f"{path}/lists").where(F.col("ivf_cluster").isin(probed))
    return broadcast_topk(
        lists, q_ids, q_unit, k, id_col, vec_col, round_digits,
        probe=lambda pdf, unit: mask[pdf["ivf_cluster"].to_numpy()],
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

    Assignments stay exact against the FROZEN centroids (at nprobe =
    nlist results remain bit-identical to brute force over the grown
    corpus); recall at partial probes drifts only as the data drifts from
    them — rebuild with `ivf_build_index` when it does. Returns the
    number of vectors appended.
    """
    rows = ensure_min_partitions(new_vectors.select(id_col, vec_col))
    (
        _tag(rows, _centroids(path), vec_col, "ivf_cluster")
        .repartition("ivf_cluster")
        .write.mode("append")
        .partitionBy("ivf_cluster")
        .parquet(f"{path}/lists")
    )
    return new_vectors.count()
