"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def pin_observe(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``localCheckpoint(eager=True)`` with aggregate metrics computed
    INSIDE the materialization job (``observe``), instead of a second
    driver-synchronized action over the pinned blocks.

    Iterative loops and size-adaptive operators pay one pin plus one
    probe action per step; driver gaps between those jobs dominate local
    wall time (SCALE.md) and each is a scheduling barrier on a cluster.
    This halves the per-step actions.
    """
    obs = Observation()
    pinned = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return pinned, obs.get


def presentation_sort(df: DataFrame, *cols) -> DataFrame:
    """Deterministic global order for a BOUNDED result set without the
    range-sampling double evaluation.

    ``orderBy`` plans a range exchange whose ``RangePartitioner`` first
    runs a full sampling pass over the child — a heavy narrow chain
    (regex scrubbing, higher-order array functions) directly under the
    sort is therefore computed TWICE. For presentation sorts of bounded
    outputs (per-doc audit rows, top-k tables — anything a user would
    actually ORDER BY for display) a single-partition sort computes the
    chain once: one round-robin exchange of the *result* rows, then an
    in-partition sort. Use only where the result is known-bounded; a
    genuinely large output should keep ``orderBy`` so the sort itself
    distributes.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def pinned_sort(df: DataFrame, *cols) -> DataFrame:
    """Global ``orderBy`` over a heavy chain without evaluating it twice.

    A range exchange's ``RangePartitioner`` runs a full sampling pass
    over its child before the sort pass — a heavy narrow chain (regex
    scrubbing, higher-order array functions) directly under an
    ``orderBy`` is computed twice. Pinning the computed result first
    (``localCheckpoint``) makes the sampling pass read materialized
    blocks instead, while the sort itself stays distributed — unlike a
    single-partition presentation sort, this keeps working when the
    output is corpus-sized (per-document audit rows at 100 TB).
    """
    return df.localCheckpoint(eager=True).orderBy(*cols)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to cluster parallelism when the input arrived
    under-split (e.g. one small parquet file → one partition).

    CPU-heavy per-row operators (shingling, hashing, vector math) are
    otherwise serialized on a single core regardless of cluster size —
    small *bytes* do not mean small *compute*. At real scale inputs
    arrive well-split and this is a no-op; the round-robin shuffle on the
    small under-split input is cheap relative to the compute it unlocks.

    The decision reads the frame's own physical plan and runs no Spark
    job. A frame that already sits above an exchange is returned as is:
    its plan is an ``AdaptiveSparkPlan``, whose partition count is only
    known after the map stages have run (asking for it runs them), and
    the exchange already sets the parallelism of the chain above it. For
    a narrow scan chain the split count comes from the file listing
    alone — one planning pass on the driver.
    """
    want = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if qe.executedPlan().nodeName() == "AdaptiveSparkPlan":
        return df
    if qe.toRdd().getNumPartitions() < want:
        return df.repartition(want)
    return df
