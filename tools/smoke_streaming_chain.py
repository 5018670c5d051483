"""Scale smoke for the STREAMING multi-step chain: synthesize N events
over K link keys (3 event types round-robin along each key's timeline),
split them into T time-ordered parquet files, drain them as T micro-batches
(maxFilesPerTrigger=1, mtimes staggered so the file source replays them in
time order), and compare match count + wall time against the batch
sequence_match_chain over the same events.

Usage: python tools/smoke_streaming_chain.py [n_events] [n_keys] [n_batches]

The matcher runs one Python dispatch per hash bucket
(streaming/sequence.py STATE_BUCKETS), not per link key.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sneldb_spark.commands.ast import FOLLOWED_BY
from sneldb_spark.plans.sequence import sequence_match_chain
from sneldb_spark.session import get_spark
from sneldb_spark.streaming.sequence import STATE_BUCKETS, streaming_chain

TYPES = ["t0", "t1", "t2"]


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    keys = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = get_spark(app_name="smoke-streaming-chain")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(0, n, 1, 64).select(
        (F.col("id") % keys).cast("string").alias("link"),
        F.col("id").alias("timestamp"),
        F.col("id").alias("event_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in TYPES]),
            (F.col("id") % 3).cast("int") + 1,
        ).alias("event_type"),
    )

    in_dir = tempfile.mkdtemp(prefix="smoke_sc_in_")
    ckpt = tempfile.mkdtemp(prefix="smoke_sc_ck_")
    try:
        # T time-ordered slices, one file each, mtimes staggered so the
        # file source (ordered by mod time) replays them as an in-order
        # event stream across micro-batches
        per = (n + n_batches - 1) // n_batches
        now = time.time()
        for b in range(n_batches):
            sub = base.where(
                (F.col("timestamp") >= b * per) & (F.col("timestamp") < (b + 1) * per)
            )
            d = os.path.join(in_dir, f"b{b}")
            sub.coalesce(1).write.mode("overwrite").parquet(d)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    dst = os.path.join(in_dir, f"{b:03d}.parquet")
                    shutil.move(os.path.join(d, fn), dst)
                    os.utime(dst, (now + b, now + b))
            shutil.rmtree(d)

        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(in_dir)
        )
        matches = streaming_chain(stream, TYPES, "link")
        t0 = time.perf_counter()
        q = (
            matches.writeStream.format("memory")
            .queryName("smoke_sc")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.table("smoke_sc").count()
        t1 = time.perf_counter()

        frames = [
            base.where(F.col("event_type") == t).drop("event_type") for t in TYPES
        ]
        batch = sequence_match_chain(
            frames, "link", [FOLLOWED_BY, FOLLOWED_BY]
        ).count()
        t2 = time.perf_counter()
        assert streamed == batch, (streamed, batch)
        print(
            f"events={n} keys={keys} batches={n_batches} buckets={STATE_BUCKETS} "
            f"chains={streamed} "
            f"stream_drain={t1 - t0:.1f}s batch_chain={t2 - t1:.1f}s"
        )
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    main()
