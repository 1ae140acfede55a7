"""Continuous (streaming) near-dup detection: per-batch incremental
pairs over a file-source document stream, with replay idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators.dedup import minhash_lsh_pairs
from knetminer_etl_spark.streaming import dedupe as SD


def _corpus_rows():
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"w{i}"
        rows.append((i, " ".join(words)))
    # duplicates inside batch 1, inside batch 2, and across the boundary
    rows += [(100, rows[3][1]), (101, rows[25][1]), (102, rows[3][1])]
    return rows


def _full_rows(rows):
    return [
        (i, t, "en", "src", len(t)) for i, t in rows
    ]


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sdedup")
    rows = _corpus_rows()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    batch1 = [r for r in _full_rows(rows) if r[0] < 20 or r[0] == 100]
    batch2 = [r for r in _full_rows(rows) if not (r[0] < 20 or r[0] == 100)]
    src = d / "docs"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    return {
        "src": str(src),
        "index": str(d / "index"),
        "docs": str(d / "store"),
        "pairs": str(d / "pairs"),
        "ckpt": str(d / "ckpt"),
        "all": spark.createDataFrame(_full_rows(rows), schema),
    }


def test_stream_pairs_equal_full_rebuild(spark, paths):
    stream = SD.read_document_stream(spark, paths["src"])
    q = SD.start_dedup_stream(
        stream, paths["index"], paths["docs"], paths["pairs"], paths["ckpt"],
        threshold=0.5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["id_a"], r["id_b"])
        for r in SD.read_pairs(spark, paths["pairs"]).collect()
    }
    # the stream's index is banded at its fixed 64-lane, 32-band shape;
    # the batch entry sizes its own, so patch it to the same shape
    import unittest.mock as mock

    from knetminer_etl_spark.operators import dedup as DD

    with mock.patch.object(DD, "_auto_minhash_shape", lambda n, t: (64, 32)):
        want = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                paths["all"], k=3, threshold=0.5
            ).collect()
        }
    assert got == want and len(want) >= 3, (got, want)
    # the index accumulated one partition per batch, bounded rows per doc
    idx = spark.read.parquet(paths["index"])
    assert idx.select("batch_id").distinct().count() == 2
    assert idx.groupBy("doc_id").count().agg(F.max("count")).first()[0] <= 32


def test_replaying_the_last_epoch_is_idempotent(spark, paths):
    """Re-running the most recent epoch against state that already
    contains its own rows (crash between state writes → the checkpoint
    re-delivers the batch) must rewrite identical partitions — the
    exactly-once half the checkpoint can't provide by itself. Its own
    stale index/store rows are excluded from candidate generation, so
    the recomputation matches the original bit-for-bit."""
    before_pairs = sorted(
        map(tuple, SD.read_pairs(spark, paths["pairs"]).collect())
    )
    store = spark.read.parquet(paths["docs"])
    last = store.filter(F.col("batch_id") == 1).select("doc_id", "text")
    replay = last.join(
        paths["all"].select("doc_id", "lang", "source", "n_chars"), "doc_id"
    )
    SD.process_dedup_batch(
        spark, replay, 1, paths["index"], paths["docs"], paths["pairs"],
        threshold=0.5,
    )
    after_pairs = sorted(
        map(tuple, SD.read_pairs(spark, paths["pairs"]).collect())
    )
    assert after_pairs == before_pairs
    idx = spark.read.parquet(paths["index"])
    assert idx.select("batch_id").distinct().count() == 2  # no new partitions


def test_cross_epoch_reingestion_latest_wins(spark, tmp_path):
    """A doc_id re-ingested in a LATER epoch must supersede its earlier
    store/index rows: subsequent epochs verify against the LATEST text
    only (no stale-version pairs) and an identical late re-ingest
    cannot duplicate pair rows."""
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten eleven"
    text_c = "red orange yellow green blue indigo violet pink brown black"
    schema = "doc_id long, text string"
    args = dict(
        index_path=str(tmp_path / "idx"),
        docs_path=str(tmp_path / "store"),
        pairs_path=str(tmp_path / "pairs"),
        threshold=0.5,
    )

    def run(epoch, rows):
        SD.process_dedup_batch(
            spark, spark.createDataFrame(rows, schema), epoch, **args
        )

    run(0, [(1, text_a), (2, text_c)])
    # epoch 1: doc 1 re-ingested with DIFFERENT text (now text_b);
    # doc 2 re-ingested byte-identical (late duplicate delivery)
    run(1, [(1, text_b), (2, text_c)])
    # epoch 2: doc 9 equals doc 1's OLD text — stale index/store rows
    # would pair them; the current text shares nothing
    run(2, [(9, text_a)])
    # epoch 3: doc 10 equals doc 1's NEW text and doc 11 equals doc 2 —
    # each must pair exactly once
    run(3, [(10, text_b), (11, text_c)])

    pairs = [
        (r["id_a"], r["id_b"])
        for r in SD.read_pairs(spark, args["pairs_path"]).collect()
    ]
    assert (1, 9) not in pairs  # stale-version pair suppressed
    assert pairs.count((1, 10)) == 1  # latest-version pair found once
    assert pairs.count((2, 11)) == 1  # identical re-ingest: no dup rows
