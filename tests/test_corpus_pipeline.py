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
