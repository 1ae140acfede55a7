"""Parquet checkpointing + partition sizing + union helpers.

Workflow-engine contract (reference src/ketl/spark/utils.py:31-142):
stages exchange Parquet directories; a stage is "done" when the
``_SUCCESS`` marker exists; loaders accept either a DataFrame or a path
(and tolerate being handed the ``_SUCCESS`` path itself).

Partition sizing: output files target ~256 MiB
(reference src/ketl/spark/utils.py:32). Instead of the reference's
driver-side ``sys.getsizeof`` sampling job (utils.py:145-180) — an extra
full-scan job before every save — we size from facts Spark already has:
the optimized plan's size estimate when available. At scale prefer
``spark.sql.files.maxRecordsPerFile`` / AQE coalescing over explicit
repartition, which this module enables by default.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_PARTITION_BYTES = 256 * 1024 * 1024
SUCCESS_MARKER = "_SUCCESS"


def df_path(path: str | Path) -> str:
    """Strip a trailing ``_SUCCESS`` component if present."""
    p = str(path)
    if p.rstrip("/").endswith(SUCCESS_MARKER):
        return p.rstrip("/")[: -len(SUCCESS_MARKER)].rstrip("/")
    return p


#: per-process registry of app-scoped staging roots already scheduled
#: for exit cleanup (one atexit hook per root, not per call)
_STAGING_CLEANUP: set[str] = set()


def staging_dir(spark: SparkSession, *keys: str) -> str:
    """Deterministic scratch location for engine-INTERNAL disk staging
    (e.g. the multi-stage corpus pipeline's survivor checkpoints).

    Resolution: ``spark.knetminer.stagingDir`` if configured — on a
    real cluster point it at shared storage (HDFS/S3), since a
    driver-local temp path is not readable by executors on other
    nodes — else the local temp dir. The path is keyed by application
    id + the caller's ``keys``, so repeated invocations of the same
    stage in one session OVERWRITE one directory instead of leaking a
    fresh ``mkdtemp`` per call (bench warmups + repeats + scale sweeps
    run the same query many times). Local app-scoped roots are removed
    at interpreter exit; configured shared roots are left alone (their
    lifecycle belongs to the operator of that storage).
    """
    import atexit
    import shutil
    import tempfile

    base = spark.conf.get("spark.knetminer.stagingDir", None)
    local = base is None
    if local:
        base = os.path.join(tempfile.gettempdir(), "knetminer-staging")
    root = os.path.join(base, spark.sparkContext.applicationId)
    if local and root not in _STAGING_CLEANUP:
        _STAGING_CLEANUP.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, *keys)
    if local:
        os.makedirs(path, exist_ok=True)
    return path


def df_check_path(path: str | Path) -> str:
    """The ``_SUCCESS`` marker path for a checkpoint dir."""
    return os.path.join(df_path(path), SUCCESS_MARKER)


def estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (bytes), if available."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(size if isinstance(size, int) else str(size))
    except Exception:
        return None


def tuned_partitions(
    df: DataFrame, target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES
) -> int | None:
    """Partition count so each output file ≈ target size, from plan stats."""
    est = estimated_plan_bytes(df)
    if est is None or est <= 0 or est >= (1 << 50):
        # unknown/selectivity-scaled sentinel (see group_agg_partitions)
        return None
    return max(1, -(-est // target_partition_bytes))


def save(
    df: DataFrame,
    path: str | Path,
    target_partition_bytes: int | None = DEFAULT_TARGET_PARTITION_BYTES,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Checkpoint ``df`` with ~target-sized output files.

    Shrinks with ``coalesce`` (no shuffle) and grows with ``repartition``
    (reference src/ketl/spark/utils.py:60-71) — growth is rare and usually
    better left to upstream parallelism. ``format`` selects any Spark
    batch sink (parquet default; orc/json/csv for interchange — prefer
    the columnar formats for anything that will be re-read).
    """
    out = df
    if target_partition_bytes:
        want = tuned_partitions(df, target_partition_bytes)
        if want is not None:
            have = df.rdd.getNumPartitions()
            if want < have:
                out = df.coalesce(want)
            elif want > have * 2:  # only shuffle when badly under-split
                out = df.repartition(want)
    out.write.mode(mode).format(format).save(df_path(path))


def group_agg_partitions(df: DataFrame) -> int:
    """Partition count for a collect-style (object-buffer) aggregation
    over ``df``. Such stages must bound the per-task GROUP count, not
    byte volume: each in-flight group holds a buffer object, and a
    ``spark.sql.shuffle.partitions`` tuned for scan-shaped stages lets
    the per-task object population grow with the data until the executor
    heap thrashes (measured on the PG build: 66-120s at 10x data vs 9-18s
    correctly sized — GC-bound, not spill; see SCALE.md). Sized from the
    Catalyst plan-stats estimate (~200 KiB of upstream bytes per task),
    floored at shuffle.partitions, capped at 4,096 tasks.

    Plans without stats (RDD-backed relations — every
    ``createDataFrame``) report the ``defaultSizeInBytes`` sentinel
    (Long.MaxValue), which silently hit the cap here: a 2-row in-memory
    relation aggregated through 4096 near-empty tasks (~100 s of pure
    scheduling on a 4-thread session). Such estimates are treated as
    unavailable — the same guard :func:`tuned_partitions` applies — and
    the fallback sizes from the input's actual partition count (a
    stat-less 100 TB RDD arrives well-split; a tiny local relation has
    a handful)."""
    spark = df.sparkSession
    floor = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    est = estimated_plan_bytes(df)
    # Credibility ceiling 1 PB: sentinel-derived estimates are often
    # SCALED by selectivity factors (e.g. Long.MaxValue * 2/3 after a
    # filter), so they can duck a Long.MaxValue-only check. Above the
    # ceiling both branches cap/fall back to the same sized behavior,
    # so nothing real is lost by distrusting the number.
    if est and est < (1 << 50):
        return sized_agg_partitions(spark, est)
    return min(4096, max(floor, df.rdd.getNumPartitions()))


def sized_agg_partitions(spark: SparkSession, est_bytes: int) -> int:
    """:func:`group_agg_partitions`'s sizing policy for a caller that
    already KNOWS the relation's cardinality (a probed count, an
    observe metric) — same floor/cap, no optimizer-stats pass and no
    ``df.rdd`` planning pass on the driver (each measured ~0.1–0.2 s
    per invocation on the dedup banding plans)."""
    floor = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return min(4096, max(floor, est_bytes // (200 * 1024)))


def save_partitioned(
    df: DataFrame,
    path: str | Path,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned Parquet layout (``col=value/`` directories).

    The scale lever this buys: a reader filtering on the partition
    columns prunes whole directories at PLANNING time — the 100 TB scan
    that touches one day of an events table reads one day's files, not
    100 TB (`.explain` shows the predicate under ``PartitionFilters``
    and the pruned file count; asserted in tests/test_runtime.py).

    The writer pre-shuffles on the partition columns so each task writes
    into few directories: without it, every input task appends to every
    partition directory — task_count × partition_count small files, the
    classic partitioned-write explosion. ``max_records_per_file`` caps
    file length inside hot partitions (skew guard) without a second
    shuffle.
    """
    out = df.repartition(*[F.col(c) for c in partition_cols])
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).parquet(df_path(path))


def load(
    source: DataFrame | str | Path,
    spark: SparkSession,
    format: str = "parquet",
) -> DataFrame:
    """DataFrame passthrough or file scan (accepts ``_SUCCESS`` paths)."""
    if isinstance(source, DataFrame):
        return source
    return spark.read.format(format).load(df_path(source))


def is_done(path: str | Path) -> bool:
    return os.path.exists(df_check_path(path))


def union_all(*sources: DataFrame, allow_missing_columns: bool = True) -> DataFrame:
    """Fold N DataFrames with unionByName
    (reference src/ketl/spark/utils.py:265-293)."""
    if not sources:
        raise ValueError("at least one DataFrame required")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing_columns),
        sources,
    )
