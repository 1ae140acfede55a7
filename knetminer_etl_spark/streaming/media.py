"""Continuous multimodal near-dup detection over a media stream.

The streaming face of the Hamming fingerprint engine
(:func:`..operators.dedup.incremental_hamming_pairs`): each micro-batch
of media decodes and fingerprints ONLY itself, equi-joins the persisted
band index of everything ingested before it, and emits the near-dup
pairs its arrival created — bytes are decoded exactly once, the corpus
is never re-hashed, and verification is INDEX-LOCAL (the index carries
the 64-bit fingerprint, so no byte store is needed at all — lighter
than text dedup, whose verification joins documents back in).

State is two parquet tables, both partitioned by ``batch_id`` and
maintained with dynamic partition overwrites (the rollup recipe →
streaming checkpoint + idempotent rewrites = exactly-once):

* ``index_path`` — (doc_id, fp, band, chunk): the pigeonhole band
  index (:func:`..operators.dedup.hamming_band_rows`), one partition
  appended per epoch; max_hamming+1 rows per media item;
* ``pairs_path`` — (id_a, id_b, hamming) per batch: the incremental
  output; the union of all batch partitions equals a full-corpus
  :func:`..operators.dedup.hamming_pairs` run (operator-level equality
  pinned in tests — the banding is exact AND deterministic, so
  candidate generation splits cleanly into new-new + new-old).

Replay safety: a replayed epoch recomputes against the same prior index
(its own stale index rows are excluded — new fingerprints win) and
overwrites its own partitions with identical content; cross-epoch
re-ingestion takes the latest epoch's fingerprint per id
(:func:`.dedupe._latest_rows`).

At 100 TB of media this is the only sane shape: decode cost is paid
once per byte at ingest, the hot state is 8-byte fingerprints (the
bytes themselves never enter a join), and per-refresh work is
O(batch + matched buckets), never O(corpus).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    hamming_band_rows,
    incremental_hamming_pairs,
)
from ..operators.multimodal import image_ahash
from .dedupe import _read_or_none, _write_batch_partition


def process_image_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    pairs_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    pixels_fn: Callable[[bytes, str], Any] | None = None,
    max_hamming: int = 5,
) -> None:
    """One epoch: decode + aHash this batch, emit the pairs its arrival
    creates (vs itself and vs the persisted index), extend the index.
    Exposed separately from the stream wiring so tests can drive and
    replay epochs deterministically."""
    # pin the fingerprints: referenced by in-batch pairing, the index
    # join, the id set, and the index write — the Arrow decode pass
    # must run once per byte, not once per reference
    fp = (
        image_ahash(batch, id_col, binary_col, pixels_fn=pixels_fn)
        .filter(F.col("ahash").isNotNull())
        .localCheckpoint(eager=True)
    )
    if not fp.take(1):
        # empty epoch (file streams can fire one before the first file
        # lands): writing it would leave a schema-less parquet dir that
        # poisons every later index read
        return
    index = _read_or_none(spark, index_path, latest_key="doc_id")
    pairs = incremental_hamming_pairs(
        fp,
        index.select("doc_id", "fp", "band", "chunk") if index is not None else None,
        id_col="media_id",
        fp_col="ahash",
        max_hamming=max_hamming,
    )
    _write_batch_partition(pairs, epoch_id, pairs_path)
    _write_batch_partition(
        hamming_band_rows(fp, "media_id", "ahash", max_hamming),
        epoch_id,
        index_path,
    )


def start_image_dedup_stream(
    media_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    pixels_fn: Callable[[bytes, str], Any] | None = None,
    max_hamming: int = 5,
    query_name: str = "continuous_image_dedup",
):
    """Start continuous image near-dup; returns the StreamingQuery."""
    spark = media_stream.sparkSession

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        process_image_batch(
            spark,
            batch,
            epoch_id,
            index_path,
            pairs_path,
            id_col,
            binary_col,
            pixels_fn,
            max_hamming,
        )

    return (
        media_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (union of batch partitions)."""
    return spark.read.parquet(pairs_path).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# Continuous VIDEO dedup: frame sampling -> per-frame aHash -> frame-vote
# pairs vs the persisted frame band index
# ---------------------------------------------------------------------------


def process_video_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    counts_path: str,
    pairs_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    every_ms: int = 1000,
    frame_pixels_fn: Callable[[bytes, int], Any] | None = None,
    max_hamming: int = 5,
    min_match_frac: float = 0.5,
) -> None:
    """One epoch of continuous video near-dup: sample + hash THIS
    batch's frames (real mvhd duration parse drives the grid), vote
    against the persisted frame band index, emit the pairs this batch's
    arrival created, extend the index and the per-video frame-count
    table. Verification is index-local (hash + timestamp ride the
    index); the video bytes never enter any state table."""
    from ..operators.multimodal import (
        incremental_video_pairs,
        video_frame_band_rows,
        video_frame_hashes,
    )

    frames = (
        video_frame_hashes(batch, id_col, binary_col, every_ms, frame_pixels_fn)
        .filter(F.col("ahash").isNotNull())
        .localCheckpoint(eager=True)
    )
    if not frames.take(1):
        return  # empty epoch: see process_image_batch
    index = _read_or_none(spark, index_path, latest_key="media_id")
    counts = _read_or_none(spark, counts_path, latest_key="media_id")
    pairs = incremental_video_pairs(
        frames,
        index.select("media_id", "frame_ts_ms", "ahash", "band", "chunk")
        if index is not None
        else None,
        counts.select("media_id", "n_frames") if counts is not None else None,
        max_hamming=max_hamming,
        min_match_frac=min_match_frac,
    )
    _write_batch_partition(pairs, epoch_id, pairs_path)
    _write_batch_partition(
        video_frame_band_rows(frames, max_hamming), epoch_id, index_path
    )
    _write_batch_partition(
        frames.groupBy("media_id").agg(F.count("*").alias("n_frames")),
        epoch_id,
        counts_path,
    )


# ---------------------------------------------------------------------------
# Continuous AUDIO dedup: decode -> acoustic fingerprint -> the semantic
# (embedding) streaming recipe under frozen centroids
# ---------------------------------------------------------------------------


def process_audio_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    centroids: list[list[float]],
    id_col: str = "media_id",
    binary_col: str = "data",
    samples_fn: Callable[[bytes], Any] | None = None,
    n_frames: int = 16,
    threshold: float = 0.99,
) -> None:
    """One epoch of continuous audio near-dup: REAL WAV decode +
    acoustic fingerprint for THIS batch only, then the continuous
    semantic-dedup recipe (:func:`.dedupe.process_semantic_batch`) over
    the fingerprint vectors — frozen centroids keep the persisted band
    index meaningful across every epoch, and the bytes never enter any
    state table (only the 33-dim fingerprints do)."""
    from ..operators.multimodal import audio_fingerprints
    from .dedupe import process_semantic_batch

    fp = (
        audio_fingerprints(batch, id_col, binary_col, samples_fn, n_frames)
        .filter(F.col("fingerprint").isNotNull())
        .select(
            F.col("media_id").alias("vec_id"),
            F.col("fingerprint").alias("embedding"),
        )
    )
    if not fp.take(1):
        return  # empty epoch: see process_image_batch
    process_semantic_batch(
        spark,
        fp,
        epoch_id,
        index_path,
        vecs_path,
        pairs_path,
        centroids,
        threshold=threshold,
    )
