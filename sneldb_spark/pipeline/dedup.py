"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
duplicate clusters, and span/line boilerplate removal.

MinHash and SimHash pairs are wrappers over the near-pair core's band
join (`pipeline/near.py`); docs/pipeline.md carries the scale design of
every operator here. Signature kernels run per Arrow batch in numpy
(`mapInPandas`); everything else is built-in expressions.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sneldb_spark.pipeline import cluster_parallelism, ensure_min_partitions
from sneldb_spark.pipeline.near import (
    band_candidates,
    band_pairs,
    hamming,
    jaccard,
    signature_table,
)

_WORD_RE = re.compile(r"\W+")


def _words(text) -> list[str]:
    return [w for w in _WORD_RE.split((text or "").lower()) if w]


def _shingles(text, n: int) -> set[str]:
    """Distinct n-word shingles (the whole text when it is shorter)."""
    words = _words(text)
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical content by md5 digest. Returns one row per distinct
    content: (content_hash, keep_id = min id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Return the deduplicated rows (keeper = min id per identical content).

    One shuffle on the content digest + a row_number keeper pick. The
    keeper set is one row per DISTINCT document — corpus-sized — so it
    must never be broadcast (a forced-broadcast join here is a
    driver/executor OOM at 100 TB); the window form also avoids the
    second corpus scan a semi-join-back would cost."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def collapse_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Exact-collapse pre-step for ANY pairwise near-dedup: returns
    ``(reps, mapping)`` where ``reps`` is one row per DISTINCT content
    (representative id = min id, original columns preserved) and
    ``mapping`` is (id, rep_id) for every input row.

    Every similarity kernel in this module is a pure function of
    content, so byte-identical documents are interchangeable — and every
    PAIRWISE generator (MinHash banding, SimHash blocks, PPJoin prefix
    index) degenerates to E^2/2 candidates on an E-clone flood because
    all E copies share every join key. Run the kernel over ``reps`` and
    lift the result back through ``mapping`` (see `minhash_assign` for
    the packaged MinHash composition and `lift_assignments` for the
    lift). tools/smoke_clone_flood.py measures the law this avoids.
    """
    # NULL text digests as '' so NULL-text rows collapse with ''-text rows
    # (the signature kernels read text as (text or '')). One min_by
    # aggregation picks the representative ROW per digest in one
    # exchange and keeps map-side partial aggregation, so a clone flood
    # collapses before the shuffle.
    base = df.withColumn("__dg", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
    agg = base.groupBy("__dg").agg(
        F.min(F.col(id_col)).alias("rep_id"),
        F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__rep_row"),
    )
    reps = agg.select("__rep_row.*")
    # the NARROW (id, digest) side joins the digest->rep_id half of the
    # aggregate: skew-splittable by AQE under a flood
    mapping = (
        base.select(F.col(id_col).alias("id"), "__dg")
        .join(agg.select("__dg", "rep_id"), "__dg")
        .select("id", "rep_id")
    )
    return reps, mapping


def lift_assignments(
    mapping: DataFrame, rep_assign: DataFrame, rep_id_col: str = "id"
) -> DataFrame:
    """Lift a rep-space (id, cluster_id) assignment (e.g. from
    `dedup_clusters` over pairs generated on `collapse_exact` reps) back
    to every original document: (id, cluster_id), linear output."""
    return mapping.join(
        rep_assign.withColumnRenamed(rep_id_col, "rep_id"), "rep_id"
    ).select("id", "cluster_id")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) via inverted-index join
# ---------------------------------------------------------------------------

def shingle_hash_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, h: sorted distinct 64-bit shingle hashes, n_shingles) per doc,
    blake2b-8 per shingle in an Arrow batch kernel (Catalyst higher-order
    array lambdas evaluate interpreted per element: ~3.5x slower at
    sf0.1). The hash only needs to be a deterministic injection, so the
    choice never leaks into results."""

    def sh_fn(batches):
        for pdf in batches:
            ids, arrs, counts = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = _shingles(text, n)
                h = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.blake2b(s.encode(), digest_size=8).digest(), "big"
                        )
                        for s in sh
                    ),
                    dtype=np.uint64,
                    count=len(sh),
                )
                h.sort()
                ids.append(doc_id)
                arrs.append(h.astype(np.int64))
                counts.append(len(h))
            yield pd.DataFrame({"id": ids, "h": arrs, "n_shingles": counts})

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("h", T.ArrayType(T.LongType())),
            T.StructField("n_shingles", T.LongType()),
        ]
    )
    return ensure_min_partitions(df.select(id_col, text_col)).mapInPandas(
        sh_fn, schema=schema
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 10_000,
) -> DataFrame:
    """Exact Jaccard-similar pairs (>= threshold) over n-word shingles.

    Prefix filter (AllPairs/PPJoin): under ANY fixed global order, two sets
    with Jaccard >= t must share an element among each set's first
    ``n - ceil(t*n) + 1`` elements. We use hash order — the per-doc arrays
    are already hash-sorted, so prefix postings are a zero-shuffle
    slice+explode instead of the classic frequency ranking (which costs two
    extra shuffles of the full posting table: count join + per-doc window).

    What frequency order actually buys at scale is protection from
    degenerate shingles (boilerplate shared by millions of docs lands in
    prefixes and goes quadratic). We keep exactly that protection with
    ``max_shingle_freq``: one map-side-combined frequency pass collects the
    (tiny) set of over-frequent "stop shingles", which are subtracted from
    every array before slicing — the same recall tradeoff the classic cap
    makes (at t >= 0.5 a shingle shared by more than 1/t * max_freq docs
    is not discriminative anyway). Candidates are then verified exactly,
    JVM-side, so both orders return identical pairs.
    """
    # the shingle table feeds the stop-shingle scan and both join sides
    docs = signature_table(shingle_hash_arrays(df, id_col, text_col, n))
    prefix_len = (
        F.col("n_shingles")
        - F.ceil(F.lit(threshold) * F.col("n_shingles")).cast("int")
        + 1
    )
    prefix_src = F.col("h")
    if max_shingle_freq is not None:
        stop = (
            docs.select(F.explode("h").alias("sh"))
            .groupBy("sh")
            .count()
            .where(F.col("count") > max_shingle_freq)
            .select("sh")
            .collect()
        )
        if stop:
            stop_lit = F.array(*[F.lit(r["sh"]) for r in stop])
            prefix_src = F.array_except(F.col("h"), stop_lit)
    pre = docs.select(
        F.col("id"),
        F.col("n_shingles").alias("n"),
        F.posexplode(F.slice(prefix_src, 1, prefix_len)).alias("pos", "sh"),
    )
    left, right = pre.alias("l"), pre.alias("r")
    # PPJoin positional filter: a match at positions (p1, p2) caps the
    # overlap at 1 + min(n1-1-p1, n2-1-p2); Jaccard >= t needs overlap >=
    # ceil(t/(1+t) * (n1+n2)). Prunes ~40% of the length filter's
    # candidates at sf0.1 before the verify join.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("l.n") + F.col("r.n"))
    )
    pos_bound = F.lit(1) + F.least(
        F.col("l.n") - 1 - F.col("l.pos"), F.col("r.n") - 1 - F.col("r.pos")
    )
    cand = (
        left.join(
            right,
            (F.col("l.sh") == F.col("r.sh"))
            & (F.col("l.id") < F.col("r.id"))
            # length filter: |B| >= t|A| is necessary for J >= t
            & (F.col("r.n") >= F.ceil(F.lit(threshold) * F.col("l.n")))
            & (F.col("l.n") >= F.ceil(F.lit(threshold) * F.col("r.n")))
            & (pos_bound >= min_overlap),
        )
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .distinct()
    )
    # Spread the CPU-bound verify: AQE's byte-based coalescing would
    # collapse the tiny candidate pairs to ~1 partition (2x on the kernel
    # at sf0.1). Then |A∩B| via array_intersect of the sorted hash arrays.
    cand = cand.repartition(cluster_parallelism(df.sparkSession), "id1")
    d1 = docs.select(F.col("id").alias("id1"), F.col("h").alias("h1"), F.col("n_shingles").alias("n1"))
    d2 = docs.select(F.col("id").alias("id2"), F.col("h").alias("h2"), F.col("n_shingles").alias("n2"))
    out = (
        cand.join(d1, "id1")
        .join(d2, "id2")
        .withColumn("common", F.size(F.array_intersect("h1", "h2")))
        .withColumn("jaccard", F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over the pair graph)
# ---------------------------------------------------------------------------

def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_rounds: int = 50,
    max_driver_edges: int = 1_000_000,
    with_sizes: bool = False,
) -> DataFrame:
    """Assign every doc a duplicate-cluster id: connected components over
    the similarity pair graph by iterative min-label propagation.

    ``ids`` is one column of doc ids; ``pairs`` has (id1, id2) edges from
    any pairwise dedup (exact / Jaccard / MinHash / SimHash / embedding).
    Returns (id, cluster_id = min doc id in the component); the usual
    dedup decision is "keep id == cluster_id".

    ``with_sizes=True`` appends a ``cluster_size`` column. It is computed
    on the MEMBER set (ids that appear in some pair — bounded by the edge
    list, never corpus-sized): driver-side from the union-find roots on
    the small-graph path, a members-only aggregate on the distributed
    path; singletons take the literal 1. A corpus-wide
    ``groupBy(cluster_id)`` + self-join would evaluate the full cluster
    frame twice and shuffle every id — this shape touches the corpus
    exactly once (the singleton anti-join that assignment needs anyway).

    Under ``max_driver_edges`` pairs a driver union-find labels the
    graph from one bounded collect; past it, min-label propagation runs
    one shuffle per round (rounds = graph diameter, capped by
    ``max_rounds``) over locally checkpointed state. docs/pipeline.md
    has the scale shape.
    """
    # Persist `pairs`: consumed by the bounded collect below and, on
    # overflow, again by the distributed loop's edge build — an expensive
    # upstream pair pipeline (LSH join, Jaccard verify) must run once.
    pairs = pairs.persist()
    # Only nodes that appear in some pair can ever change label — iterate
    # over that (typically much smaller) vertex set and stitch the
    # untouched ids back as their own singleton clusters at the end.
    all_ids = ids.select(F.col(id_col).alias("id"))
    # One bounded collect of max_driver_edges+1 RAW pair rows decides the
    # path AND fetches the graph: union-find is direction- and
    # repeat-insensitive, so no symmetrize/distinct exchange precedes it.
    edge_rows = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).limit(max_driver_edges + 1).collect()
    if len(edge_rows) <= max_driver_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edge_rows:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                # union by min: smaller id becomes the root = cluster id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        members = {n for r in edge_rows for n in (r["src"], r["dst"])}
        label_rows = [(n, find(n)) for n in members]
        pairs.unpersist()
        if not label_rows:  # no edges at all: everyone is a singleton
            out = all_ids.withColumn("cluster_id", F.col("id"))
            if with_sizes:
                out = out.withColumn("cluster_size", F.lit(1).cast("long"))
            return out
        base_schema = all_ids.select("id", F.col("id").alias("cluster_id")).schema
        if with_sizes:
            from collections import Counter

            root_sizes = Counter(root for _, root in label_rows)
            label_rows = [(n, root, root_sizes[root]) for n, root in label_rows]
            base_schema = base_schema.add("cluster_size", T.LongType())
        labels = ids.sparkSession.createDataFrame(label_rows, base_schema)
        # the member set came FROM the driver, so it always fits a
        # broadcast; unhinted, the statistics-free anti-join would
        # shuffle the whole corpus id column
        singletons = all_ids.join(
            F.broadcast(labels.select("id")), "id", "left_anti"
        ).withColumn("cluster_id", F.col("id"))
        if with_sizes:
            singletons = singletons.withColumn(
                "cluster_size", F.lit(1).cast("long")
            )
        return labels.unionByName(singletons)
    # Distributed path: the min-label loop propagates along BOTH edge
    # orientations, so symmetrize (+distinct — repeated messages are
    # wasted shuffle volume in every round) once here, where the list is
    # re-read `diameter` times.
    edges = (
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .union(pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .persist()
    )
    # Labels only ever decrease, so the label sum strictly decreases until
    # convergence — an aggregate scan per round replaces a join-based
    # changed-row count.
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for _ in range(max_rounds):
        msgs = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), F.col("cluster_id")
        )
        # localCheckpoint truncates lineage every round: the plan stays
        # O(1)-deep however many rounds run
        new_labels = (
            msgs.unionByName(labels)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    pairs.unpersist()
    singletons = all_ids.join(labels.select("id"), "id", "left_anti").withColumn(
        "cluster_id", F.col("id")
    )
    if with_sizes:
        # members-only: both re-read the checkpointed label set, never the
        # corpus; a singleton's cluster is never a member's
        sizes = labels.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        labels = labels.join(sizes, "cluster_id").select(
            "id", "cluster_id", "cluster_size"
        )
        singletons = singletons.withColumn(
            "cluster_size", F.lit(1).cast("long")
        )
    return labels.unionByName(singletons)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


_MH_PRIME = 4294967311  # smallest prime > 2^32: (a*h+b) mod p permutes 32-bit hashes


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic minwise coefficients, shared by the Spark kernel and
    the SQL oracle (which inlines them as literals): odd a_i in [1, 2^31),
    b_i in [0, p). a_i * h < 2^63 for 32-bit h, so every engine's 64-bit
    integers hold the product exactly."""
    rng = np.random.RandomState(42)
    a = (rng.randint(1, 1 << 30, size=num_hashes).astype(np.uint64) * 2 + 1)
    b = rng.randint(0, _MH_PRIME, size=num_hashes).astype(np.uint64)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) — classic minwise family min_i((a_i*h + b_i)
    mod p) over 32-bit shingle hashes: one vectorized (shingles x
    num_hashes) multiply-mod-min per doc in an Arrow batch kernel (~4x the
    explode + JVM min-aggregate form), no shuffle. The modular reduction
    is essential: without it the multiply-add is monotone in h and every
    "hash function" picks the same shingle.

    Engine-portable arithmetic, so a SQL oracle reproduces signatures
    bit-for-bit: the shingle hash is the top 4 bytes of md5, and the odd
    multipliers a_i stay below 2^31 so a_i*h + b_i < 2^63.
    """
    a, b = _minhash_coeffs(num_hashes)
    a, b = np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)
    p = np.uint64(_MH_PRIME)

    def sig_fn(batches):
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = _shingles(text, n)
                h = np.fromiter(
                    (
                        int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")
                        for s in sh
                    ),
                    dtype=np.uint64,
                    count=len(sh),
                )
                m = ((h[:, None] * a[None, :] + b[None, :]) % p).min(axis=0)
                ids.append(doc_id)
                sigs.append(m.astype(np.int64))
            yield pd.DataFrame({"id": ids, "sig": sigs})

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return (
        ensure_min_partitions(df.select(id_col, text_col))
        .mapInPandas(sig_fn, schema=schema)
    )


def _minhash_keys(bands: int, rows_per_band: int) -> list[str]:
    """Band b's key is its signature slice VALUES concatenated, not a hash
    of them: band joins have zero false matches and the SQL oracle
    reproduces the candidate set exactly."""
    return [
        "concat_ws(',', "
        + ", ".join(f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    ]


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band's signature slice become
    candidate pairs (id1, id2)."""
    return band_candidates(sigs, None, _minhash_keys(bands, rows_per_band), key="bh")


def _minhash_pairs(df, ref, id_col, text_col, threshold, num_hashes, bands, n):
    def sigs(d):
        return minhash_signatures(d, id_col, text_col, num_hashes, n)

    return band_pairs(
        sigs(df), None if ref is None else sigs(ref),
        _minhash_keys(bands, num_hashes // bands), jaccard(num_hashes),
        lambda s: s >= threshold, key="bh",
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """Near-dup pairs (id1, id2, est_jaccard): LSH candidates verified by
    estimated Jaccard (fraction of agreeing minhashes)."""
    return _minhash_pairs(df, None, id_col, text_col, threshold, num_hashes, bands, n)


def minhash_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    max_rounds: int = 50,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """Clone-flood-safe near-dedup assignment: (id, cluster_id), one row
    per input document, output LINEAR in corpus size regardless of the
    duplication structure.

    Banding a CLONE FLOOD (E byte-identical copies of a page) puts all E
    docs in the same bucket of every band: E^2/2 candidate pairs. This
    collapses exact clones to one representative per distinct content
    (`collapse_exact`) BEFORE banding, runs LSH + verify + components over
    distinct contents only, and maps every doc back through its digest
    (Lee et al. 2022: exact-collapse precedes MinHash).

    Exactly equivalent to `minhash_dedup_pairs` + `dedup_clusters`:
    identical texts always pair (est_jaccard = 1), signatures are pure
    functions of content, and each representative is already its clone
    group's min id.
    """
    reps, mapping = collapse_exact(
        df.select(F.col(id_col), F.col(text_col)), id_col, text_col
    )
    # the rep corpus feeds signatures AND the cluster vertex set; the
    # mapping feeds the final lift — persist both across those consumers
    reps = reps.persist()
    mapping = mapping.persist()
    pairs = minhash_dedup_pairs(
        reps, id_col=id_col, text_col=text_col, threshold=threshold,
        num_hashes=num_hashes, bands=bands, n=n,
    ).select("id1", "id2")
    rep_clusters = dedup_clusters(
        reps.select(id_col), pairs, id_col=id_col,
        max_rounds=max_rounds, max_driver_edges=max_driver_edges,
    )
    # materialize BEFORE the upstream caches are released; checkpoint
    # blocks go with the returned lineage, not the session
    out = lift_assignments(mapping, rep_clusters).localCheckpoint(eager=True)
    reps.unpersist()
    mapping.unpersist()
    return out


def minhash_cross_pairs(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """Cross-corpus near-dup pairs (new_id, ref_id, est_jaccard): every
    NEW document within estimated Jaccard `threshold` of a REFERENCE
    document. `minhash_dedup_pairs` in cross mode: the band join runs NEW
    bands x REF bands, so the reference is never re-paired with itself
    and incremental dedup scales with the delta. Ids are not assumed
    disjoint: a doc present on both sides pairs with itself (est 1.0) —
    filter `new_id != ref_id` when id spaces overlap.
    """
    return _minhash_pairs(new_df, ref_df, id_col, text_col, threshold, num_hashes, bands, n)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc: per-token 64-bit hash, bitwise majority
    vote, one (tokens x 64) bit-unpack per doc in an Arrow batch kernel
    (~10x the explode + 64 JVM aggregates form). The token hash is the
    top 8 bytes of md5, so the SQL oracle reproduces it bit-for-bit. Each
    token OCCURRENCE votes; a tied bit votes 0.
    """
    if bits != 64:
        raise ValueError("simhash_fingerprints is fixed at 64 bits")
    shifts = np.arange(64, dtype=np.uint64)

    def fp_fn(batches):
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = _words(text)
                if not toks:
                    ids.append(doc_id)
                    fps.append(0)
                    continue
                h = np.fromiter(
                    (
                        int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                        for t in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                bitsm = (h[:, None] >> shifts[None, :]) & np.uint64(1)  # (n, 64)
                votes = (2 * bitsm.astype(np.int64) - 1).sum(axis=0)
                fp = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
                ids.append(doc_id)
                fps.append(int(fp.astype(np.int64)))  # two's-complement long
            yield pd.DataFrame({"id": ids, "simhash": fps})

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("simhash", T.LongType())]
    )
    return (
        ensure_min_partitions(df.select(id_col, text_col))
        .mapInPandas(fp_fn, schema=schema)
    )


def simhash_near_pairs(
    fps: DataFrame, max_hamming: int = 3, blocks: int = 4
) -> DataFrame:
    """Pairs (id1, id2, hamming): band join on `blocks` fingerprint blocks,
    verified by exact hamming distance.

    Complete (ALL pairs with hamming <= max_hamming) only when
    ``max_hamming <= blocks - 1`` (pigeonhole). With a larger budget the
    banding is part of the semantics: a qualifying pair sharing no block
    is absent, and the SQL oracle replicates that. Past ~1M docs trade
    hamming budget for key width (docs/pipeline.md)."""
    width = 64 // blocks
    keys = [
        f"shiftrightunsigned(simhash, {b * width}) & {(1 << width) - 1}"
        for b in range(blocks)
    ]
    return band_pairs(
        fps, None, keys, hamming, lambda h: h <= max_hamming,
        sig="simhash", carry=True,
    )


# ---------------------------------------------------------------------------
# Duplicated-span removal (token-granular exact substring dedup)
# ---------------------------------------------------------------------------

def duplicated_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide duplicated n-gram span removal: every span of `n`
    consecutive tokens whose exact text occurs >= `min_count` times across
    the corpus (any document, including self-repeats) is removed from every
    document: the span-granular complement to document-level dedup (the
    "exact substring deduplication" step of LM data pipelines).

    Returns (id, n_tokens, n_dup_tokens, clean_text) with clean_text the
    original token sequence minus all covered positions, single-space
    joined ('' when everything was duplicated). All-JVM, four linear
    shuffles (docs/pipeline.md).
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    )
    # (id, pos, gram) for every n-token window; docs shorter than n emit none
    from sneldb_spark.pipeline.text import token_ngrams

    grams = toks.select(
        "id",
        F.posexplode(token_ngrams(F.col("w"), n)).alias("pos0", "gram"),
    ).select(
        "id", (F.col("pos0") + 1).alias("pos"), "gram"  # 1-based span start
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gram")
    )
    # positions covered by any duplicated span: [pos, pos+n-1]
    covered = (
        grams.join(dup_grams, "gram", "left_semi")
        .select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("p"))
        .distinct()
    )
    tok = toks.select("id", F.posexplode("w").alias("p0", "tok")).select(
        "id", (F.col("p0") + 1).alias("p"), "tok"
    )
    kept = tok.join(covered, ["id", "p"], "left_anti")
    clean = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text")
    )
    dup_counts = covered.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup_tokens"))
    base = toks.select("id", F.size("w").alias("n_tokens"))
    return (
        base.join(dup_counts, "id", "left")
        .join(clean, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def boilerplate_line_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide boilerplate LINE removal (the C4 "discard any line that
    appears more than once in the corpus" / CCNet line-hash-dedup step):
    every line whose exact text occurs in >= `min_docs` DISTINCT documents
    is removed from every document, all occurrences. The distinct-DOC
    count is what separates this from `duplicated_span_removal`'s total
    occurrence count — a line repeated inside one document is that
    document's own structure, not cross-site boilerplate (navigation,
    cookie banners, footers), and stays.

    Returns (id, n_lines, n_removed_lines, clean_text) with clean_text the
    surviving lines rejoined by `line_sep` in original order ('' when
    everything was boilerplate). All-JVM, three linear shuffles
    (docs/pipeline.md).
    """
    sep_re = re.escape(line_sep)  # F.split takes a REGEX pattern
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_re, -1)).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("line")
    )
    flagged = lines.join(boiler, "line", "left_semi").select("id", "pos")
    kept = lines.join(boiler, "line", "left_anti")
    clean = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias("clean_text")
    )
    removed = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_removed_lines")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), sep_re, -1)).alias("n_lines"),
    )
    return (
        base.join(removed, "id", "left")
        .join(clean, "id", "left")
        .select(
            "id",
            "n_lines",
            F.coalesce("n_removed_lines", F.lit(0)).alias("n_removed_lines"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def cluster_keep_best(
    clusters: DataFrame,
    docs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup: keep the BEST-scoring member of each
    duplicate cluster instead of the first-seen copy (the curation rule
    real pipelines want — dedup should discard the worse duplicates).

    `clusters` is any (id, cluster_id) assignment (e.g. from
    `dedup_clusters`); `docs` carries the quality signal. Deterministic:
    ties break on ascending id. One id-keyed join plus one cluster-keyed
    window — both shuffles on bounded keys, nothing broadcast.

    Output: (id, cluster_id, score) — one row per cluster.
    """
    from pyspark.sql import Window

    joined = clusters.join(
        docs.select(F.col(id_col).alias("id"), F.col(score_col).alias("score")),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("id", "cluster_id", "score")
    )
