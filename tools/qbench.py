"""Micro-bench one or more registry queries at a given sf_dir with the
same warm/best-of-N discipline as bench.py — the iteration loop for
single-query plan work. Each timed rep runs under its own job group,
and its Spark job count is read back from the status store
(``statusTracker().getJobIdsForGroup``). Usage:

    python tools/qbench.py [sf_dir] name [name ...]

Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_WARMUPS (default 3),
SPARK_GRAFT_TIMED_RUNS (default 4).
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        print(__doc__)
        sys.exit(2)

    from knetminer_etl_spark.queries import QUERIES
    from knetminer_etl_spark.runtime import get_session
    from knetminer_etl_spark.runtime.session import release_pinned_rdds

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_session(
        app_name="qbench",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.ui.enabled": "false",
            "spark.cleaner.periodicGC.interval": "10min",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_warm = int(os.environ.get("SPARK_GRAFT_WARMUPS", "3"))
    n_timed = int(os.environ.get("SPARK_GRAFT_TIMED_RUNS", "4"))

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in args:
        fn = QUERIES[name]
        reps, jobs = [], []
        for _ in range(n_warm):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_pinned_rdds(spark)
        gc.collect()
        spark._jvm.System.gc()
        for i in range(n_timed):
            group = f"qbench-{name}-{i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_pinned_rdds(spark)
            gc.collect()
            spark._jvm.System.gc()
        print(
            f"{name:40s} best {min(reps):6.3f}  reps "
            + " ".join(f"{r:.3f}" for r in reps)
            + "  jobs "
            + " ".join(str(j) for j in jobs)
        )


if __name__ == "__main__":
    main()
