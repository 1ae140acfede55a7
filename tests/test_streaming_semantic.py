"""Continuous (streaming) SEMANTIC dedup: per-batch incremental pairs
over a file-source embedding stream under frozen centroids, with
replay idempotence — the embedding twin of test_streaming_dedup.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators.dedup import semantic_dedup
from knetminer_etl_spark.streaming import dedupe as SD


def _corpus_rows():
    rng = np.random.default_rng(7)
    base = rng.normal(size=(24, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(24)]
    # near-twins inside batch 1, inside batch 2, and across the boundary
    for new_id, src in ((100, 3), (101, 20), (102, 3)):
        v = base[src] + 0.002 * rng.normal(size=8)
        v = v / np.linalg.norm(v)
        rows.append((new_id, [float(x) for x in v]))
    return rows


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("semdedup")
    rows = _corpus_rows()
    schema = "vec_id long, embedding array<double>"
    batch1 = [r for r in rows if r[0] < 12 or r[0] == 100]
    batch2 = [r for r in rows if not (r[0] < 12 or r[0] == 100)]
    src = d / "vecs"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    full = spark.createDataFrame(rows, schema)
    # frozen model state: the draw an offline fit over the full corpus
    # would pin (what batch semantic_dedup computes internally)
    cents = [
        list(r["embedding"])
        for r in full.orderBy(
            F.md5(F.col("vec_id").cast("string")), "vec_id"
        ).limit(4).collect()
    ]
    return {
        "src": str(src),
        "index": str(d / "index"),
        "vecs": str(d / "store"),
        "pairs": str(d / "pairs"),
        "ckpt": str(d / "ckpt"),
        "full": full,
        "cents": cents,
    }


def test_stream_pairs_equal_full_banded_run(spark, paths):
    stream = SD.read_vector_stream(spark, paths["src"])
    q = SD.start_semantic_dedup_stream(
        stream,
        paths["index"],
        paths["vecs"],
        paths["pairs"],
        paths["ckpt"],
        paths["cents"],
        threshold=0.95,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed_dropped = {
        r["id_b"]
        for r in SD.read_semantic_pairs(spark, paths["pairs"]).collect()
    }
    import unittest.mock as mock

    from knetminer_etl_spark.operators import dedup as DD

    with mock.patch.object(DD, "SEMANTIC_DIRECT_MAX", 0):
        full_dropped = {
            r["vec_id"]
            for r in semantic_dedup(
                paths["full"], threshold=0.95, centroids=paths["cents"]
            ).collect()
            if not r["keep"]
        }
    assert streamed_dropped == full_dropped
    assert full_dropped  # the planted twins produced drops
    # cross-boundary twin found: 102 (batch 2) pairs with 3 (batch 1)
    pair_set = {
        (r["id_a"], r["id_b"])
        for r in SD.read_semantic_pairs(spark, paths["pairs"]).collect()
    }
    assert (3, 102) in pair_set


def test_replaying_an_epoch_is_idempotent(spark, paths):
    before = sorted(
        map(tuple, SD.read_semantic_pairs(spark, paths["pairs"]).collect())
    )
    batch2 = spark.read.parquet(paths["src"]).filter(
        ~((F.col("vec_id") < 12) | (F.col("vec_id") == 100))
    )
    SD.process_semantic_batch(
        spark,
        batch2,
        1,  # same epoch id: overwrite its own partitions
        paths["index"],
        paths["vecs"],
        paths["pairs"],
        paths["cents"],
        threshold=0.95,
    )
    after = sorted(
        map(tuple, SD.read_semantic_pairs(spark, paths["pairs"]).collect())
    )
    assert before == after


def test_cross_epoch_reingestion_latest_wins(spark, tmp_path):
    """A vec_id re-ingested in a LATER epoch must supersede its earlier
    rows in the store and band index: subsequent epochs verify against
    the LATEST embedding only (no stale-version pairs) and an identical
    late re-ingest cannot duplicate pair rows."""

    def _unit(i, eps=0.0):
        v = np.zeros(8)
        v[i] = 1.0
        if eps:
            v[(i + 1) % 8] = eps
            v /= np.linalg.norm(v)
        return [float(x) for x in v]

    schema = "vec_id long, embedding array<double>"
    cents = [_unit(0), _unit(4)]
    args = dict(
        index_path=str(tmp_path / "idx"),
        vecs_path=str(tmp_path / "store"),
        pairs_path=str(tmp_path / "pairs"),
        centroids=cents,
        threshold=0.95,
    )

    def run(epoch, rows):
        SD.process_semantic_batch(
            spark, spark.createDataFrame(rows, schema), epoch, **args
        )

    run(0, [(1, _unit(1)), (2, _unit(2)), (3, _unit(3))])
    # epoch 1: vec 3 re-ingested with a CHANGED embedding (now ≈ e4);
    # vec 2 re-ingested byte-identical (late duplicate delivery)
    run(1, [(3, _unit(4, 0.01)), (2, _unit(2))])
    # epoch 2: vec 9 ≈ vec 3's OLD direction — stale index/store rows
    # would pair it with vec 3 at cos ≈ 1; the latest embedding is
    # orthogonal, so no pair may be emitted
    run(2, [(9, _unit(3, 0.01))])
    # epoch 3: vec 10 ≈ vec 3's NEW direction and vec 11 ≈ vec 2 —
    # each must pair exactly once (duplicate store rows would emit
    # (2, 11) twice)
    run(3, [(10, _unit(4, 0.02)), (11, _unit(2, 0.01))])

    pairs = [
        (r["id_a"], r["id_b"])
        for r in SD.read_semantic_pairs(spark, args["pairs_path"]).collect()
    ]
    assert (3, 9) not in pairs  # stale-version pair suppressed
    assert pairs.count((3, 10)) == 1  # latest-version pair found once
    assert pairs.count((2, 11)) == 1  # identical re-ingest: no dup rows


# ---------------------------------------------------------------------------
# Continuous semantic decontamination (ingest-time benchmark filtering)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def decon_paths(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("semdecon")
    rng = np.random.default_rng(31)
    base = rng.normal(size=(20, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # eval set: tight paraphrase leaks of train 2 (batch 1) and 15
    # (batch 2) plus an unrelated item
    test_rows = []
    for j, src in enumerate((2, 15)):
        v = base[src] + 0.002 * rng.normal(size=8)
        v /= np.linalg.norm(v)
        test_rows.append((900 + j, [float(x) for x in v]))
    other = rng.normal(size=8)
    test_rows.append((950, [float(x) for x in other / np.linalg.norm(other)]))
    schema = "vec_id long, embedding array<double>"
    src_dir = d / "vecs"
    spark.createDataFrame(
        [r for r in rows if r[0] < 10], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    spark.createDataFrame(
        [r for r in rows if r[0] >= 10], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    return {
        "src": str(src_dir),
        "clean": str(d / "clean"),
        "ckpt": str(d / "deconckpt"),
        "full": spark.createDataFrame(rows, schema),
        "test": spark.createDataFrame(test_rows, schema),
    }


def test_decon_stream_equals_batch_mode(spark, decon_paths):
    from knetminer_etl_spark.operators.contamination import (
        semantic_decontaminate_banded,
    )

    stream = SD.read_vector_stream(spark, decon_paths["src"])
    q = SD.start_semantic_decon_stream(
        stream,
        decon_paths["test"],
        decon_paths["clean"],
        decon_paths["ckpt"],
        threshold=0.95,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(
        r["vec_id"]
        for r in SD.read_clean_vectors(spark, decon_paths["clean"]).collect()
    )
    batch_mode = sorted(
        r["vec_id"]
        for r in semantic_decontaminate_banded(
            decon_paths["full"], decon_paths["test"], threshold=0.95
        ).collect()
    )
    assert streamed == batch_mode
    assert 2 not in streamed and 15 not in streamed  # leaks filtered
    assert len(streamed) == 18  # everything else survived


def test_decon_epoch_replay_is_idempotent(spark, decon_paths):
    before = sorted(
        map(tuple, SD.read_clean_vectors(spark, decon_paths["clean"]).collect())
    )
    batch2 = spark.read.parquet(decon_paths["src"]).filter(F.col("vec_id") >= 10)
    SD.process_decon_batch(
        batch2, 1, decon_paths["test"], decon_paths["clean"], threshold=0.95
    )
    after = sorted(
        map(tuple, SD.read_clean_vectors(spark, decon_paths["clean"]).collect())
    )
    assert before == after


# ---------------------------------------------------------------------------
# Continuous LEXICAL decontamination (ingest-time n-gram filtering against
# the loop-invariant, pinned eval gram relation)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lex_paths(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lexdecon")
    # distinct-vocab docs plus one leak in batch 1 (doc 3) and one in
    # batch 2 (doc 15): each shares a 4-gram with the eval suite
    rows = [(i, f"d{i}a d{i}b d{i}c d{i}d d{i}e d{i}f") for i in range(20)]
    rows[3] = (3, "prefix secret eval phrase here tail3")
    rows[15] = (15, "head15 secret eval phrase here suffix")
    test_rows = [
        (900, "intro secret eval phrase here outro"),
        (901, "completely unrelated benchmark item text"),
    ]
    schema = "doc_id long, text string"
    src_dir = d / "docs"
    spark.createDataFrame(
        [r for r in rows if r[0] < 10], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    spark.createDataFrame(
        [r for r in rows if r[0] >= 10], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    return {
        "src": str(src_dir),
        "clean": str(d / "clean"),
        "ckpt": str(d / "ckpt"),
        "full": spark.createDataFrame(rows, schema),
        "test": spark.createDataFrame(test_rows, schema),
    }


def test_lexical_decon_stream_equals_batch_mode(spark, lex_paths):
    from knetminer_etl_spark.operators.contamination import decontaminate

    stream = SD.read_document_stream(spark, lex_paths["src"])
    q = SD.start_lexical_decon_stream(
        stream, lex_paths["test"], lex_paths["clean"], lex_paths["ckpt"], n=4
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(
        r["doc_id"]
        for r in SD.read_clean_docs(spark, lex_paths["clean"]).collect()
    )
    batch_mode = sorted(
        r["doc_id"]
        for r in decontaminate(
            lex_paths["full"], lex_paths["test"], n=4
        ).collect()
    )
    assert streamed == batch_mode
    assert 3 not in streamed and 15 not in streamed  # leaks filtered
    assert len(streamed) == 18


def test_lexical_decon_replay_is_idempotent(spark, lex_paths):
    from knetminer_etl_spark.operators.contamination import distinct_grams

    before = sorted(
        map(tuple, SD.read_clean_docs(spark, lex_paths["clean"]).collect())
    )
    eval_grams = distinct_grams(lex_paths["test"], "text", 4).localCheckpoint(
        eager=True
    )
    batch2 = spark.read.parquet(lex_paths["src"]).filter(F.col("doc_id") >= 10)
    SD.process_lexical_decon_batch(
        batch2, 1, eval_grams, lex_paths["clean"], n=4
    )
    after = sorted(
        map(tuple, SD.read_clean_docs(spark, lex_paths["clean"]).collect())
    )
    assert before == after
