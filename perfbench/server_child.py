"""Server process for the served workloads: SnelDB + SnelDBServer.

Usage: python3 perfbench/server_child.py <spec.json>

Reads the spec the load generator wrote, starts Spark on local[4], sets the
store up `reps` times in fresh directories (DEFINEs, bulk preload,
REMEMBERs, warm-up commands) and serves the last one over TCP. It prints
one JSON line {"port", "session_s", "setup_s": [...]} when ready, serves
until its stdin closes, then settles the engine, writes its census (traced
runs) to the spec's `out` path and exits.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def spark_session(work: str):
    from sneldb_spark import get_spark
    from sneldb_spark.session import quiet_logs

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": local,
            # heap committed at its cap but not pre-touched: pages become
            # resident as the engine allocates, and G1 does not resize the
            # heap at moments that differ from run to run
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData -Xms1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    quiet_logs(spark)
    return spark


def preload(db, spark, path: str, parts: int) -> None:
    """Bulk-append the events parquet, `parts` appends per type so every
    date partition holds several files; types load in parallel."""
    from pyspark.sql import functions as F

    import gen

    src = spark.read.parquet(path)
    cols = ["context_id", "event_type", "timestamp", "event_id",
            "k", "props", "value", "value_cents"]
    errors: list[BaseException] = []

    def load(et: str) -> None:
        try:
            for p in range(parts):
                db.store.append_dataframe(
                    et, src.where((F.col("event_type") == et)
                                  & (F.col("event_id") % parts == p)).select(*cols))
        except BaseException as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=load, args=(et,)) for et in gen.EVENT_TYPES]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def set_up(spark, spec: dict, root: str):
    from sneldb_spark import SnelDB

    db = SnelDB(spark, root, **spec.get("engine", {}))
    for text in spec.get("defines", []):
        db.execute(text)
    if spec.get("preload"):
        preload(db, spark, spec["preload"], spec.get("preload_parts", 1))
    for text in spec.get("setup_commands", []):
        res = db.execute(text)
        if res.df is not None:
            res.df.count()
    return db


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    work = spec["work"]
    t0 = time.monotonic()
    spark = spark_session(work)
    session_s = time.monotonic() - t0

    census = None
    if spec.get("trace"):
        from instrument import Census

        census = Census(spark)
        census.install_engine()
        census.tracer.cmd = None

    from sneldb_spark.server import SnelDBServer

    setup_s = []
    db = None
    for rep in range(spec.get("reps", 1)):
        if db is not None:
            db.close()
            shutil.rmtree(db.root, ignore_errors=True)
        t = time.monotonic()
        db = set_up(spark, spec, os.path.join(work, f"db{rep}"))
        setup_s.append(time.monotonic() - t)
    if census is not None:
        census.mark_run()
    server = SnelDBServer(db).start()
    print(json.dumps({"port": server.address[1], "session_s": session_s,
                      "setup_s": setup_s, "root": db.root}), flush=True)

    sys.stdin.read()  # serve until the load generator closes our stdin
    db.close()
    out = {"session_s": session_s}
    if census is not None:
        out.update(census.report())
    with open(spec["out"], "w") as f:
        json.dump(out, f)
    server.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
