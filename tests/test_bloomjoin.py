from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import bloomjoin as BJ


@pytest.fixture(scope="module")
def fact_dim(spark):
    fact = spark.range(0, 20000).select(
        F.col("id").alias("row_id"), (F.col("id") % 5000).alias("key")
    )
    dim = spark.range(0, 5000).filter(F.col("id") % 10 == 0).select(
        F.col("id").alias("dkey")
    )  # 500 of 5000 keys
    return fact, dim


def _semi_filter(fact, dim, n_bits=BJ.N_BITS_DEFAULT, k=BJ.K_DEFAULT):
    words = BJ.bloom_build(dim, "dkey", n_bits, k)
    return fact.filter(BJ.might_contain(F.col("key"), words, n_bits, k))


def test_no_false_negatives(spark, fact_dim):
    fact, dim = fact_dim
    passed = _semi_filter(fact, dim)
    true = fact.join(dim, fact["key"] == dim["dkey"], "left_semi")
    # every true match survives the bloom
    assert true.exceptAll(passed.select(*true.columns)).count() == 0


def test_false_positive_rate_within_bound(spark, fact_dim):
    fact, dim = fact_dim
    n_keys, n_bits, k = 500, 1 << 16, 4
    passed = _semi_filter(fact, dim, n_bits, k)
    true_n = fact.join(dim, fact["key"] == dim["dkey"], "left_semi").count()
    extra = passed.count() - true_n
    # fp rate ~ (1 - e^{-kn/m})^k ≈ (1-e^{-0.0305})^4 ≈ 8e-7; give 100x slack
    non_members = fact.count() - true_n
    assert extra <= max(5, 1e-4 * non_members), (extra, non_members)


def test_membership_is_narrow_plan(spark, fact_dim):
    fact, dim = fact_dim
    words = BJ.bloom_build(dim, "dkey")
    plan = (
        fact.filter(BJ.might_contain(F.col("key"), words))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # scan-speed filter, no shuffle/join


def test_build_word_table_bounded(spark, fact_dim):
    _, dim = fact_dim
    words = BJ.bloom_build(dim, "dkey", n_bits=1 << 12)
    assert len(words) == (1 << 12) // 64
    assert any(w != 0 for w in words)


def test_sign_bit_round_trip(spark):
    # keys engineered irrelevant: just ensure a filter containing bit 63
    # masks still matches its own members (sign-bit mask parity)
    df = spark.createDataFrame([(i,) for i in range(2000)], ["k"])
    words = BJ.bloom_build(df, "k", n_bits=64, k=2)  # tiny: every bit used
    assert len(words) == 1 and words[0] == -1  # all 64 bits set
    passed = df.filter(BJ.might_contain(F.col("k"), words, n_bits=64, k=2))
    assert passed.count() == 2000


def test_n_bits_must_be_power_of_two(spark, fact_dim):
    _, dim = fact_dim
    with pytest.raises(ValueError, match="power of two"):
        BJ.bloom_build(dim, "dkey", n_bits=1000)
