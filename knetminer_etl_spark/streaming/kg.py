"""Continuous knowledge-graph maintenance: a streaming source mapped to
triples and set-merged into a stored property-graph relation, micro-batch
by micro-batch.

This closes the loop between the product pipeline (tabmap → triples →
PG, the reference's batch flow) and Structured Streaming: the stored PG
is always the same relation a full batch rebuild over all data seen so
far would produce (``merge_pg`` / the triple re-aggregation are
rebuild-equivalent by construction — pg/build.py:324, pinned by the
``kg_pg_incremental`` oracle), so downstream consumers (PG-JSONL export,
the Neo4j loader) never see a partially-aggregated graph.

Scale shape — per-epoch write cost is **O(delta), guaranteed**, via an
LSM-style delta log:

* ``{pg_path}/base/bucket=*``      — the compacted PG, hash-bucketed on id
* ``{pg_path}/delta/batch_id=*``   — one aggregated PG delta per epoch

Each micro-batch aggregates ONLY its own triples (delta-sized shuffle)
and appends them as its own ``batch_id`` partition — it never rewrites
stored bytes. Readers merge base + deltas by expanding both back to
triples (``pg_to_triples``, a narrow explode) and re-aggregating: one
shuffle, identical semantics. When accumulated delta bytes exceed
``compact_threshold`` × base bytes (or ``max_delta_batches`` epochs),
the same merge is folded into a new base and the delta log is cleared —
amortized extra write per delta byte ≤ 1/threshold.

Why not merge deltas into the bucketed base in place? Hash-bucketing
bounds the rewrite only when the delta's *id count* is far below the
bucket count: uniformly-hashed ids touch ~``B·(1-(1-1/B)^n)`` of B
buckets, so a measured 150-id delta into a 64-bucket store rewrote 81%
of its bytes (SCALE.md "Continuous KG"). The delta log's write bound
does not depend on the delta's id distribution.

Exactly-once: the streaming checkpoint records source offsets; the delta
append is keyed by epoch id (dynamic partition overwrite of
``batch_id=epoch``), so a replayed epoch overwrites its own partition
with identical content. Compaction is idempotent — a crash mid-compaction
leaves some buckets new, some old, and the delta log intact; the re-run
re-merges to identical content (set-union/greatest absorb duplicates)
before the log is cleared. No renames, no local-FS assumption: existence
/ size probes go through the Hadoop FileSystem API and all writes go
through Spark's committer, so the store may live on HDFS/S3 as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pg.build import pg_to_triples, triples_to_pg
from ..runtime.fs import fs_delete, fs_exists, fs_size

PG_COLUMNS = ["id", "type", "labels", "from", "to", "properties"]

# default bucket count for the compacted base. Size so one bucket's rows
# fit a comfortable task (store_bytes / n_buckets ≲ a few hundred MB);
# the value is a layout constant of the store — changing it requires a
# rewrite, so pick for the target store size up front.
N_BUCKETS = 64

# compaction policy: fold the delta log into the base when it exceeds
# this fraction of the base's bytes (amortized extra write per delta
# byte ≤ 1/threshold), or this many epochs (bounds the read-time merge
# fan-in even while the base is still small).
COMPACT_THRESHOLD = 0.25
MAX_DELTA_BATCHES = 16


def _bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).alias("bucket")


def _base(pg_path: str) -> str:
    return f"{pg_path}/base"


def _delta(pg_path: str) -> str:
    return f"{pg_path}/delta"


def _delta_batch_ids(spark: SparkSession, delta_path: str) -> list[int]:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(delta_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def _delta_batch_count(spark: SparkSession, delta_path: str) -> int:
    return len(_delta_batch_ids(spark, delta_path))


def _merged_relation(
    spark: SparkSession, pg_path: str
) -> DataFrame | None:
    """base ⊕ delta log as one re-aggregation (None if nothing stored)."""
    parts = []
    if fs_exists(spark, _base(pg_path)):
        parts.append(
            spark.read.parquet(_base(pg_path)).select(*PG_COLUMNS)
        )
    has_delta = fs_exists(spark, _delta(pg_path))
    if has_delta:
        parts.append(
            spark.read.parquet(_delta(pg_path)).select(*PG_COLUMNS)
        )
    if not parts:
        return None
    # base alone is already aggregated; anything including the delta log
    # must re-aggregate — epochs can carry overlapping ids (and a
    # crash-interrupted compaction can leave stale base buckets whose
    # rows the re-aggregation collapses)
    if not has_delta:
        return parts[0]
    triples = pg_to_triples(parts[0])
    for p in parts[1:]:
        triples = triples.unionByName(pg_to_triples(p))
    return triples_to_pg(triples)


def merge_triples_batch(
    spark: SparkSession,
    triples: DataFrame,
    pg_path: str,
    n_buckets: int = N_BUCKETS,
    *,
    epoch_id: int | None = None,
    compact_threshold: float = COMPACT_THRESHOLD,
    max_delta_batches: int = MAX_DELTA_BATCHES,
) -> None:
    """Fold one batch of triples into the PG store at ``pg_path``.

    The delta is aggregated and appended as ``delta/batch_id={epoch_id}``
    — O(delta) bytes written, any id distribution — and compacted into
    the bucketed base when the log exceeds the policy above.

    ``epoch_id`` is the delta-log slot: streaming ``foreachBatch``
    passes its epoch (re-ingestion of the SAME epoch idempotently
    overwrites that slot — exactly-once on retry). A non-streaming
    caller may omit it: the next free ``batch_id`` is derived from the
    log (max existing + 1), so repeated un-epoched merges APPEND rather
    than silently overwriting slot 0.
    """
    delta = triples_to_pg(triples).localCheckpoint(eager=True)
    if not delta.take(1):
        return
    if epoch_id is None:
        existing = _delta_batch_ids(spark, _delta(pg_path))
        epoch_id = max(existing) + 1 if existing else 0
    from ..runtime.checkpoint import tuned_partitions

    out = delta.withColumn("batch_id", F.lit(int(epoch_id)))
    nparts = tuned_partitions(delta)  # file-count hygiene: ≈128MB files
    if nparts:
        out = out.repartition(nparts)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(_delta(pg_path))
    )

    base_bytes = fs_size(spark, _base(pg_path))
    delta_bytes = fs_size(spark, _delta(pg_path))
    batches = _delta_batch_count(spark, _delta(pg_path))
    # base absent → base_bytes=0 → the first epoch always "compacts",
    # i.e. promotes itself to the bucketed base (delta-sized, so free)
    if delta_bytes >= compact_threshold * max(base_bytes, 1) or (
        batches >= max_delta_batches
    ):
        compact_kg(spark, pg_path, n_buckets)


def compact_kg(
    spark: SparkSession, pg_path: str, n_buckets: int = N_BUCKETS
) -> None:
    """Fold the delta log into the bucketed base and clear it.

    Idempotent: every bucket of the new base is written from the merged
    relation via dynamic partition overwrite (the merged id set is a
    superset of the old base's, so every existing bucket is re-written);
    a crash part-way leaves the delta log intact and the re-run
    converges to the same content before the log is deleted.
    """
    merged = _merged_relation(spark, pg_path)
    if merged is None:
        return
    # materialize before writing: the plan reads partitions it overwrites
    merged = (
        merged.withColumn("bucket", _bucket_of(n_buckets))
        .localCheckpoint(eager=True)
    )
    (
        merged.repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(_base(pg_path))
    )
    # drop bucket partitions the new layout did not write (left behind
    # when n_buckets changes between compactions — dynamic overwrite
    # only replaces values present in the written data). Ordered AFTER
    # the committed write and BEFORE the log delete: a crash in either
    # gap leaves the delta log in place, and the re-run's re-aggregation
    # collapses any stale-bucket duplicates before they can be read
    # without the log.
    written = {
        int(r["bucket"]) for r in merged.select("bucket").distinct().collect()
    }
    jvm = spark._jvm
    hbase = jvm.org.apache.hadoop.fs.Path(_base(pg_path))
    fs = hbase.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(hbase):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            if int(name.split("=", 1)[1]) not in written:
                fs.delete(st.getPath(), True)
    fs_delete(spark, _delta(pg_path))


def start_kg_stream(
    stream_df: DataFrame,
    mapper,
    pg_path: str,
    checkpoint_dir: str,
    n_buckets: int = N_BUCKETS,
):
    """Start the continuous KG build: ``mapper.to_triples`` over each
    micro-batch, folded into ``pg_path``. Returns the StreamingQuery
    (caller stops it / awaits termination)."""

    def _batch(batch: DataFrame, epoch: int) -> None:
        merge_triples_batch(
            batch.sparkSession,
            mapper.to_triples(batch),
            pg_path,
            n_buckets,
            epoch_id=epoch,
        )

    return (
        stream_df.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_kg(spark: SparkSession, pg_path: str) -> DataFrame:
    """The current stored PG relation: base ⊕ delta log. Read-time merge
    is one shuffle of base+deltas; call :func:`compact_kg` first if many
    consumers will read."""
    merged = _merged_relation(spark, pg_path)
    if merged is None:
        raise FileNotFoundError(f"no KG store at {pg_path}")
    return merged.select(*PG_COLUMNS)
