"""Scale smoke for the exact corpus k-NN graph: synthesize N x dim
vectors, size n_blocks by the documented rule (two blocks of vectors per
group; the chunked GEMM bounds the similarity slab), then run the
near-pair core's block-grid candidate stage ONCE, counting its candidate
stream against the documented O(|C| * n_blocks * k) bound and ranking
those same candidates into the final graph (exactly knn_graph's plan,
split so the O(|C|^2) kernel is not paid twice).

Usage: python tools/smoke_knn.py [n_vectors] [dim] [k] [n_blocks] [dtype]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sneldb_spark.pipeline.near import grid_pairs, pair_schema, rank, topk_emit
from sneldb_spark.session import get_spark


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    # sizing rule: two blocks of vectors per group <= ~256 MB =>
    # n_blocks >= 2 * n * dim * 8B / 256MB; floor of 12 keeps
    # group count (n_blocks*(n_blocks+1)/2) above the core count so the
    # uneven diagonal/cross groups still load-balance.
    default_blocks = max(12, (2 * n * dim * 8) // (256 * 1024 * 1024) + 1)
    n_blocks = int(sys.argv[4]) if len(sys.argv) > 4 else default_blocks
    dtype = sys.argv[5] if len(sys.argv) > 5 else "float32"

    spark = get_spark(app_name="smoke-knn")
    spark.sparkContext.setLogLevel("ERROR")

    vecs = (
        spark.range(0, n, 1, 64)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: (
                    (F.xxhash64(F.col("id"), i) % 1000) / 500.0
                ).cast("float"),
            ).alias("embedding"),
        )
        .persist()
    )
    vecs.count()

    t0 = time.perf_counter()
    cand = grid_pairs(
        vecs, None, topk_emit(k, None), pair_schema("src_id", "dst_id"),
        n_blocks, "vec_id", "embedding", dtype,
    ).persist()
    cand_rows = cand.count()
    t1 = time.perf_counter()
    bound = n * n_blocks * k
    print(
        f"n={n} dim={dim} k={k} n_blocks={n_blocks} dtype={dtype} "
        f"candidates={cand_rows} bound={bound} "
        f"ratio={cand_rows / bound:.3f} kernel_pass={t1 - t0:.1f}s"
    )
    assert cand_rows <= bound * 1.5, "candidate bound violated beyond tie slack"

    # the same global rank knn_graph applies, over the persisted
    # candidates — delta cost is one |C|*n_blocks*k-row shuffle
    t2 = time.perf_counter()
    edges = rank(cand, "src_id", "dst_id", k).count()
    t3 = time.perf_counter()
    print(f"graph_edges={edges} expect={n * k} window_pass={t3 - t2:.1f}s")
    assert edges == n * k
    cand.unpersist()


if __name__ == "__main__":
    main()
