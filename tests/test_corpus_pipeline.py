"""queries.corpus.doc_pipeline_stages checks the precondition its
decontaminated-stage arithmetic relies on: doc_id unique in the input."""

from __future__ import annotations

import random

import pytest

from knetminer_etl_spark.queries.corpus import doc_pipeline_stages


def test_repeated_doc_id_raises(spark, tmp_path):
    """Every doc_id appears twice, with two unrelated texts, so both
    copies pass every dedup stage and reach the train split."""
    rng = random.Random(2)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
        for _ in range(2000)
    ]
    rows = [
        (i % 40, " ".join(rng.choice(vocab) for _ in range(30)))
        for i in range(80)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    with pytest.raises(Exception, match="doc_id is not unique"):
        doc_pipeline_stages(spark, str(tmp_path)).collect()


def test_bloom_pruned_decontamination_equals_merge_join(spark, tmp_path):
    """Past ``_DECON_MERGE_MAX`` survivors the train grams are bloom-
    pruned before the exact gram join; the stage counts must equal the
    plain merge join's. Pairs of documents share one 10-word passage,
    so some train documents share 4-grams with the test split."""
    import unittest.mock as mock

    from knetminer_etl_spark.operators import contamination as CT
    from knetminer_etl_spark.queries import corpus as Q

    rng = random.Random(5)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
        for _ in range(3000)
    ]
    passages = [" ".join(rng.choice(vocab) for _ in range(10)) for _ in range(60)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(30)) + " " + passages[i % 60])
        for i in range(120)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    merged = sorted(map(tuple, doc_pipeline_stages(spark, str(tmp_path)).collect()))
    with mock.patch.object(Q, "_DECON_MERGE_MAX", -1), mock.patch.object(
        CT, "_pin_eval_bloom", wraps=CT._pin_eval_bloom
    ) as pin:
        pruned = sorted(
            map(tuple, doc_pipeline_stages(spark, str(tmp_path)).collect())
        )
    assert pin.call_count == 1
    assert pruned == merged
    n = {r[0]: r[2] for r in merged}
    assert n[5] < n[4]  # the decontamination stage dropped documents
