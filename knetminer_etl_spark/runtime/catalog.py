"""Memoized table handles for static datasets, and the small models
trained from them.

``spark.read.parquet(path)`` is not free even when no query runs: every
call re-lists the directory and re-reads footers for schema inference —
measured 140-250 ms per call on local testdata, paid again by every
query that touches the table. A real deployment reads a table's
metadata once (catalog registration / metastore) and reuses the handle;
this module is that shape for path-addressed parquet: one
``DataFrameReader`` resolution per (SparkSession, path), after which
every query shares the same immutable logical scan node.

Use ONLY for static inputs (the benchmark/testdata tables). A path
whose contents evolve between reads — streaming sinks, checkpoint
stores, incremental staging dirs — must keep calling
``spark.read.parquet`` directly so each read re-resolves the files.

:func:`memo_model` keeps small deterministic models — quantizer
codebooks, k-means centroids — in the same cache, keyed by the table
they were trained from, so :func:`invalidate` of a rewritten table
drops its handle and its models together.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..core.memo import BoundedMemo

#: LRU-bounded (core/memo.py): an evicted handle just re-resolves the
#: footers on next read, an evicted model is retrained — latency, never
#: correctness. Keys are ``(applicationId, path, ...)``.
_CACHE: BoundedMemo = BoundedMemo(maxsize=1024)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, resolved once per (session, path).

    Keyed by ``applicationId`` so handles never leak across sessions
    (a stopped session's JVM-side plan would be dead). The returned
    DataFrame is immutable — sharing it between queries is safe.
    """
    key = (spark.sparkContext.applicationId, path)
    df = _CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _CACHE[key] = df
    return df


def memo_model(
    spark: SparkSession, table_path: str, key: tuple, builder: Callable[[], Any]
) -> Any:
    """Return the model cached for (this Spark application,
    ``table_path``, ``key``), building it with ``builder()`` on first
    use.

    Training is deterministic (md5-ordered seeds, fixed Lloyd rounds),
    so a cached model is bit-identical to a retrained one while the
    table is unchanged; each training round is a driver-synchronized
    job, which is what the cache saves. ``table_path`` is the parquet
    table the model is trained from, and ``key`` must name every
    hyperparameter. The result must be bounded driver-held state —
    lists of floats, not DataFrames (a cached DataFrame would pin
    lineage and executor blocks far beyond the model's lifetime)."""
    k = (spark.sparkContext.applicationId, table_path, *key)
    if k not in _CACHE:
        _CACHE[k] = builder()
    return _CACHE[k]


def invalidate(path: str | None = None) -> None:
    """Drop cached handles and the models trained from them (all
    sessions) — for tests or after a static path is rewritten in
    place."""
    if path is None:
        _CACHE.clear()
        return
    for k in [k for k in _CACHE if k[1] == path]:
        del _CACHE[k]
