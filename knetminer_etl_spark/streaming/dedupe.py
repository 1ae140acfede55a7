"""Continuous near-dup detection over a document stream.

The streaming face of :func:`..operators.dedup.incremental_minhash_pairs`:
each micro-batch of documents hashes ONLY itself, joins the persisted
band index of everything ingested before it, and emits the near-dup
pairs its arrival created — the corpus is never re-deduped. State is
three parquet tables, all partitioned by ``batch_id`` and maintained
with dynamic partition overwrites, so the streaming checkpoint +
idempotent rewrites give exactly-once (the rollup recipe,
streaming/rollup.py):

* ``index_path`` — (doc_id, band, bucket): the LSH index, appended one
  batch-partition per epoch; bounded rows per doc (bands), the ONLY
  thing old batches contribute to new-batch work;
* ``docs_path``  — (doc_id, text): the document store verification
  draws candidate texts from (semi-joined down to candidates first);
* ``pairs_path`` — (id_a, id_b, jaccard) per batch: the incremental
  output; the union of all batch partitions equals a full-corpus dedup
  (operator-level equality pinned in tests/test_dedup.py).

Replay safety: a replayed epoch recomputes against the same prior
index (its own stale index/doc rows are excluded — the index join
drops the batch's ids, the doc store merge is keyed) and overwrites
its own partitions with identical content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime.session import release_pin
from pyspark.sql import types as T

from ..operators.dedup import incremental_minhash_pairs, minhash_band_rows

DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source document stream (dir or glob of documents parquet).
    In production swap for the Kafka/queue source — the processing below
    is source-agnostic."""
    return (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _state_exists(spark: SparkSession, path: str) -> bool:
    """PROBED existence of a state dir — never inferred from a read
    failure, which would silently treat a transient FS error as 'first
    batch' and emit an epoch's pairs without the prior index (the
    streaming/kg.py lesson). ALL paths go through the Hadoop
    FileSystem: Spark resolves scheme-less paths against
    ``fs.defaultFS``, so a driver-local ``os.path`` probe would answer
    "missing" for HDFS/S3-resident state on a real cluster — the exact
    silent first-batch failure this helper exists to prevent."""
    from ..runtime.fs import fs_exists

    return fs_exists(spark, path)


def _latest_rows(df: DataFrame, key: str) -> DataFrame:
    """Cross-epoch re-ingestion guard: a key re-ingested in a LATER
    epoch leaves rows in several ``batch_id`` partitions (each epoch
    overwrites only its own partition), and the earlier epoch's
    text/embedding may differ — so only the latest epoch's rows per key
    are current state. Left-semi against the per-key max ``batch_id``
    keeps exactly the latest epoch's row group per key; with no
    re-ingestion every row survives, and the semi join's build side is
    one bounded row per key."""
    latest = df.groupBy(key).agg(F.max("batch_id").alias("batch_id"))
    return df.join(latest, on=[key, "batch_id"], how="left_semi")


def _read_or_none(
    spark: SparkSession, path: str, latest_key: str | None = None
) -> DataFrame | None:
    if not _state_exists(spark, path):
        return None  # first batch: state not created yet
    df = spark.read.parquet(path)
    if latest_key is not None:
        df = _latest_rows(df, latest_key)
    return df


def _write_batch_partition(df: DataFrame, epoch_id: int, path: str) -> None:
    (
        df.withColumn("batch_id", F.lit(int(epoch_id)))
        .repartition(1, "batch_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def process_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    docs_path: str,
    pairs_path: str,
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.6,
) -> None:
    """One epoch: emit pairs involving this batch, then extend the
    index and doc store (its own partition each — idempotent replay).
    Exposed separately from the stream wiring so tests can drive and
    replay epochs deterministically (rollup's `_merge_batch` pattern)."""
    batch = batch.select("doc_id", "text").localCheckpoint(eager=True)
    batch_ids = batch.select("doc_id")
    index = _read_or_none(spark, index_path, latest_key="doc_id")
    store = _read_or_none(spark, docs_path, latest_key="doc_id")
    # corpus for verification: this batch + prior docs (batch wins on
    # re-ingestion/replay so duplicate ids can't inflate pair rows)
    corpus = batch
    if store is not None:
        corpus = batch.unionByName(
            store.select("doc_id", "text").join(
                batch_ids, on="doc_id", how="left_anti"
            )
        )
    if index is None:
        index = minhash_band_rows(
            batch.limit(0), "doc_id", "text", num_perm, bands, k
        )
    pairs = incremental_minhash_pairs(
        batch,
        index.select("doc_id", "band", "bucket"),
        corpus,
        num_perm=num_perm,
        bands=bands,
        k=k,
        threshold=threshold,
    )
    _write_batch_partition(pairs, epoch_id, pairs_path)
    _write_batch_partition(
        minhash_band_rows(batch, "doc_id", "text", num_perm, bands, k),
        epoch_id,
        index_path,
    )
    _write_batch_partition(batch, epoch_id, docs_path)
    # batch scope is over once its partitions are written: release the
    # per-epoch pin or a long-lived stream accumulates pinned blocks
    # until executor storage pressure degrades later batches
    release_pin(batch)


def start_dedup_stream(
    doc_stream: DataFrame,
    index_path: str,
    docs_path: str,
    pairs_path: str,
    checkpoint_path: str,
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.6,
    query_name: str = "continuous_dedup",
):
    """Start continuous dedup; returns the StreamingQuery."""
    spark = doc_stream.sparkSession

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        process_dedup_batch(
            spark,
            batch,
            epoch_id,
            index_path,
            docs_path,
            pairs_path,
            num_perm,
            bands,
            k,
            threshold,
        )

    return (
        doc_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (union of batch partitions)."""
    return spark.read.parquet(pairs_path).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Continuous SEMANTIC (embedding) dedup — the same three-table recipe
# under frozen centroids (operators/dedup.semantic_band_rows /
# incremental_semantic_pairs)
# ---------------------------------------------------------------------------

VECS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def read_vector_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source embedding stream (dir or glob of vectors parquet)."""
    return (
        spark.readStream.schema(VECS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def process_semantic_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    n_planes: int = 10,
    n_bands: int = 32,
    seed: int = 0x5EED,
) -> None:
    """One epoch of continuous semantic dedup: emit the verified pairs
    this batch's arrival created, then extend the band index and vector
    store (one partition per epoch — idempotent replay). Centroids are
    FROZEN model state shared by every epoch (fit offline or on the
    first batch): that is what keeps the persisted index meaningful —
    every batch assigns and bands identically, so a bucket collision
    means the same thing at epoch 1 and epoch 10⁶."""
    from ..operators.dedup import (
        incremental_semantic_pairs,
        semantic_band_rows,
    )

    batch = batch.select("vec_id", "embedding").localCheckpoint(eager=True)
    batch_ids = batch.select("vec_id")
    index = _read_or_none(spark, index_path, latest_key="vec_id")
    store = _read_or_none(spark, vecs_path, latest_key="vec_id")
    # corpus for verification: this batch + prior vectors (batch wins on
    # re-ingestion/replay so duplicate ids can't inflate pair rows)
    corpus = batch
    if store is not None:
        corpus = batch.unionByName(
            store.select("vec_id", "embedding").join(
                batch_ids, on="vec_id", how="left_anti"
            )
        )
    if index is None:
        index = semantic_band_rows(
            batch.limit(0), centroids, n_planes=n_planes,
            n_bands=n_bands, seed=seed,
        )
    pairs = incremental_semantic_pairs(
        batch,
        index.select("vec_id", "cluster", "band", "bucket"),
        corpus,
        centroids,
        threshold=threshold,
        n_planes=n_planes,
        n_bands=n_bands,
        seed=seed,
    )
    _write_batch_partition(pairs, epoch_id, pairs_path)
    _write_batch_partition(
        semantic_band_rows(
            batch, centroids, n_planes=n_planes, n_bands=n_bands, seed=seed
        ),
        epoch_id,
        index_path,
    )
    _write_batch_partition(batch, epoch_id, vecs_path)
    release_pin(batch)  # per-epoch pin — see process_dedup_batch


def start_semantic_dedup_stream(
    vec_stream: DataFrame,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    checkpoint_path: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    n_planes: int = 10,
    n_bands: int = 32,
    seed: int = 0x5EED,
    query_name: str = "continuous_semantic_dedup",
):
    """Start continuous semantic dedup; returns the StreamingQuery."""
    spark = vec_stream.sparkSession

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        process_semantic_batch(
            spark,
            batch,
            epoch_id,
            index_path,
            vecs_path,
            pairs_path,
            centroids,
            threshold,
            n_planes,
            n_bands,
            seed,
        )

    return (
        vec_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def read_semantic_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All semantic pairs emitted so far (union of batch partitions)."""
    return spark.read.parquet(pairs_path).select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# Continuous semantic decontamination (ingest-time benchmark filtering)
# ---------------------------------------------------------------------------


def process_decon_batch(
    batch: DataFrame,
    epoch_id: int,
    test_vecs: DataFrame,
    clean_path: str,
    threshold: float = 0.95,
    n_planes: int | str = "auto",
    n_bands: int | None = None,
    seed: int = 0x5EED,
) -> None:
    """One epoch: keep only the batch vectors whose banded-verified max
    cosine to the FIXED evaluation set stays below ``threshold``
    (operators/contamination.semantic_decontaminate_banded) and write
    them as this epoch's partition. Stateless across epochs — the eval
    set is loop-invariant — so idempotent partition overwrite alone
    gives exactly-once; a replayed epoch rewrites identical content.

    ``n_planes`` defaults to ``"auto"`` — the SAME contract as the batch
    entry point (contamination.semantic_decontaminate): the band shape
    is sized from the evaluation-suite count via ``_auto_decon_shape``
    (streaming suites are typically small, so this resolves to the
    12×48 floor). Callers looping over epochs should resolve the shape
    ONCE at stream start (``start_semantic_decon_stream`` does) — a
    pinned in-memory suite has no input files, so per-epoch "auto"
    re-counts it every batch."""
    from ..operators.contamination import semantic_decontaminate_banded

    batch = batch.select("vec_id", "embedding").localCheckpoint(eager=True)
    kept = semantic_decontaminate_banded(
        batch,
        test_vecs,
        threshold=threshold,
        n_planes=n_planes,
        n_bands=n_bands,
        seed=seed,
    )
    _write_batch_partition(kept, epoch_id, clean_path)
    release_pin(batch)  # per-epoch pin — see process_dedup_batch


def start_semantic_decon_stream(
    vec_stream: DataFrame,
    test_vecs: DataFrame,
    clean_path: str,
    checkpoint_path: str,
    threshold: float = 0.95,
    n_planes: int | str = "auto",
    n_bands: int | None = None,
    seed: int = 0x5EED,
    query_name: str = "continuous_semantic_decon",
):
    """Continuous ingest-time decontamination: every arriving micro-batch
    of embeddings is filtered against the evaluation set BEFORE it lands
    in the training store — the streaming face of
    ``semantic_decontaminate_banded`` (benchmark leaks never enter the
    corpus, instead of being scrubbed after the fact). The eval relation
    is pinned once per stream; each epoch broadcasts its banded form.

    ``n_planes="auto"`` (default — the batch entry's contract): the
    suite is fixed at stream start, so the band shape is sized ONCE
    here from its count and every epoch reuses the resolved ints — no
    per-epoch probe jobs. Returns the StreamingQuery."""
    test_pinned = test_vecs.select("vec_id", "embedding").localCheckpoint(
        eager=True
    )
    if n_planes == "auto":
        from ..operators.contamination import _auto_decon_shape

        n_planes, n_bands = _auto_decon_shape(test_pinned.count(), threshold)
    elif n_bands is None:
        n_bands = 48

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        process_decon_batch(
            batch,
            epoch_id,
            test_pinned,
            clean_path,
            threshold,
            n_planes,
            n_bands,
            seed,
        )

    return (
        vec_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def process_lexical_decon_batch(
    batch: DataFrame,
    epoch_id: int,
    eval_grams: DataFrame,
    clean_path: str,
    n: int = 8,
    max_hits: int = 0,
) -> None:
    """One epoch of lexical (word n-gram) decontamination: keep only the
    batch documents sharing no n-gram with the FIXED evaluation suite
    and write them as this epoch's partition —
    ``operators.contamination.decontaminate_against`` the suite's gram
    relation, which is loop-invariant (pinned once per stream).
    Stateless across epochs, so idempotent partition overwrite alone is
    exactly-once."""
    from ..operators.contamination import decontaminate_against

    batch = batch.select("doc_id", "text").localCheckpoint(eager=True)
    kept = decontaminate_against(
        batch, eval_grams, "doc_id", "text", n, max_hits
    )
    _write_batch_partition(kept, epoch_id, clean_path)
    release_pin(batch)  # per-epoch pin — see process_dedup_batch


def start_lexical_decon_stream(
    doc_stream: DataFrame,
    test_docs: DataFrame,
    clean_path: str,
    checkpoint_path: str,
    n: int = 8,
    max_hits: int = 0,
    query_name: str = "continuous_lexical_decon",
):
    """Continuous ingest-time lexical decontamination: every arriving
    micro-batch of documents is n-gram-filtered against the evaluation
    suite BEFORE it lands in the training store (benchmark leaks never
    enter the corpus). The suite's distinct grams are pinned ONCE per
    stream — each epoch pays only the batch-side gram scan and the
    exact join against the broadcast suite. Returns the
    StreamingQuery."""
    from ..operators.contamination import distinct_grams

    eval_grams = distinct_grams(test_docs, "text", n).localCheckpoint(
        eager=True
    )

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        process_lexical_decon_batch(
            batch, epoch_id, eval_grams, clean_path, n, max_hits
        )

    return (
        doc_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def read_clean_docs(spark: SparkSession, clean_path: str) -> DataFrame:
    """All decontaminated documents ingested so far (union of batch
    partitions); equals batch-mode ``decontaminate`` over the
    same corpus (pinned in tests/test_streaming_semantic.py)."""
    return spark.read.parquet(clean_path).select("doc_id", "text")


def read_clean_vectors(spark: SparkSession, clean_path: str) -> DataFrame:
    """All decontaminated vectors ingested so far (union of batch
    partitions); equals batch-mode ``semantic_decontaminate_banded``
    over the same corpus (pinned in tests/test_streaming_semantic.py)."""
    return spark.read.parquet(clean_path).select("vec_id", "embedding")
