"""Scalar quantization: reconstruction-error bounds and topk parity
(the guarantees operators/quantize.py's docstrings promise)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators.quantize import (
    _scales,
    sq_decode,
    sq_encode,
    sq_topk,
    sq_train,
)
from knetminer_etl_spark.operators.similarity import cosine_topk


@pytest.fixture()
def vecs(spark):
    rows = [
        (0, [0.0, 1.0, -3.5, 2.25]),
        (1, [1.0, 0.5, -1.0, 0.0]),
        (2, [0.9, 0.55, -1.1, 0.1]),
        (3, [-2.0, 3.0, 0.0, 7.5]),
        (4, [0.1, 0.2, 0.3, 0.4]),
        (5, [4.0, -1.0, 2.0, 7.5]),  # dim 3 max ties with row 3
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


class TestSQRoundtrip:
    def test_reconstruction_error_bounded_by_half_scale(self, spark, vecs):
        """|x - decode(encode(x))| <= scale/2 per dimension, for every
        in-range value (the defining SQ8 guarantee)."""
        mins, maxes = sq_train(vecs, "embedding")
        scales = _scales(mins, maxes, 256)
        recon = vecs.select(
            "embedding",
            sq_decode(
                sq_encode(F.col("embedding"), mins, maxes), mins, maxes
            ).alias("r"),
        ).collect()
        for row in recon:
            for d, (x, r) in enumerate(zip(row["embedding"], row["r"])):
                bound = scales[d] / 2 + 1e-12
                assert abs(x - r) <= bound, (d, x, r, scales[d])

    def test_zero_width_dimension_encodes_zero(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 5.0]), (1, [1.0, 6.0])],
            "vec_id int, embedding array<double>",
        )
        mins, maxes = sq_train(df, "embedding")
        got = df.select(
            sq_encode(F.col("embedding"), mins, maxes).alias("c")
        ).collect()
        assert all(r["c"][0] == 0 for r in got)  # constant dim -> code 0
        rec = df.select(
            sq_decode(
                sq_encode(F.col("embedding"), mins, maxes), mins, maxes
            ).alias("r")
        ).collect()
        assert all(r["r"][0] == 1.0 for r in rec)  # reconstructs the constant

    def test_codes_within_range(self, spark, vecs):
        mins, maxes = sq_train(vecs, "embedding")
        codes = vecs.select(
            F.explode(sq_encode(F.col("embedding"), mins, maxes)).alias("c")
        ).collect()
        assert all(0 <= r["c"] <= 255 for r in codes)

    def test_train_empty_corpus_raises(self, spark):
        empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
        with pytest.raises(ValueError, match="empty corpus"):
            sq_train(empty, "embedding")

    def test_train_skips_null_rows(self, spark):
        df = spark.createDataFrame(
            [(0, None), (1, [1.0, 2.0]), (2, [3.0, 0.0])],
            "vec_id int, embedding array<double>",
        )
        mins, maxes = sq_train(df, "embedding")
        assert mins == [1.0, 0.0] and maxes == [3.0, 2.0]


class TestSQTopk:
    def test_scores_within_reconstruction_error_of_exact(self, spark, vecs):
        """sq_topk cosine differs from the exact cosine by at most the
        worst-case reconstruction perturbation: for unit-normalized error
        analysis, |cos_q(x) - cos(x)| <= 2*||e|| / ||v|| with
        ||e|| <= sqrt(sum (scale_d/2)^2). Asserted per (query, neighbor)
        pair against the exact scores."""
        mins, maxes = sq_train(vecs, "embedding")
        scales = _scales(mins, maxes, 256)
        err_norm = math.sqrt(sum((s / 2) ** 2 for s in scales))
        queries = vecs.filter("vec_id < 2")

        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk(vecs, queries, k=5).collect()
        }
        quant = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in sq_topk(vecs, queries, k=5).collect()
        }
        norms = {
            r["vec_id"]: math.sqrt(sum(x * x for x in r["embedding"]))
            for r in vecs.collect()
        }
        # every pair scored by both sides obeys the bound
        common = set(exact) & set(quant)
        assert common, "top-k sets diverged entirely"
        for (q, nb), cq in quant.items():
            if (q, nb) in exact:
                bound = 2 * err_norm / min(norms[nb], norms[q]) + 1e-6
                assert abs(cq - exact[(q, nb)]) <= bound, (q, nb)

    def test_output_contract_matches_cosine_topk(self, spark, vecs):
        out = sq_topk(vecs, vecs.filter("vec_id < 2"), k=3)
        assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
        rows = out.collect()
        assert {r["query_id"] for r in rows} == {0, 1}
        assert all(1 <= r["rank"] <= 3 for r in rows)
        assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_train_high_dim_explode_path(spark):
    """The >256-dim path (posexplode + groupBy) must agree with the
    wide-agg path exactly."""
    import knetminer_etl_spark.operators.quantize as Q

    rows = [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(300)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    hi = Q.sq_train(df, "embedding")          # dim 300 -> explode path
    orig = Q._WIDE_AGG_MAX_DIM
    try:
        Q._WIDE_AGG_MAX_DIM = 1024            # force wide-agg path
        wide = Q.sq_train(df, "embedding")
    finally:
        Q._WIDE_AGG_MAX_DIM = orig
    assert hi == wide


class TestPQ:
    @pytest.fixture()
    def clustered(self, spark):
        # 3 clear clusters in 8 dims (2 subspaces of 4): centers +-5,
        # members jittered deterministically.
        import itertools

        centers = [
            [5.0, 5.0, -5.0, -5.0, 5.0, -5.0, 5.0, -5.0],
            [-5.0, -5.0, 5.0, 5.0, -5.0, 5.0, -5.0, 5.0],
            [5.0, -5.0, 5.0, -5.0, -5.0, 5.0, 5.0, -5.0],
        ]
        rows = []
        for i, (c, j) in enumerate(itertools.product(centers, range(10))):
            rows.append((i, [x + ((i * 7 + d) % 5 - 2) * 0.1 for d, x in enumerate(c)]))
        return spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    def test_codes_shape_and_determinism(self, spark, clustered):
        from knetminer_etl_spark.operators.quantize import pq_encode, pq_train

        books = pq_train(clustered, m=2, ksub=4, iterations=2)
        assert len(books) == 2 and all(len(b) == 4 for b in books)
        assert all(len(c) == 4 for b in books for _, c in b)
        codes = clustered.select(
            "vec_id", pq_encode("embedding", books).alias("c")
        ).collect()
        assert all(len(r["c"]) == 2 for r in codes)
        assert all(0 <= x < 4 for r in codes for x in r["c"])
        again = pq_train(clustered, m=2, ksub=4, iterations=2)
        assert books == again  # bit-identical retrain

    def test_same_cluster_shares_codes(self, spark, clustered):
        from knetminer_etl_spark.operators.quantize import pq_encode, pq_train

        books = pq_train(clustered, m=2, ksub=4, iterations=3)
        codes = {
            r["vec_id"]: tuple(r["c"])
            for r in clustered.select(
                "vec_id", pq_encode("embedding", books).alias("c")
            ).collect()
        }
        # rows 0-9 / 10-19 / 20-29 are the three clusters. Seeding may
        # split a cluster across two cells within a subspace (4 seeds,
        # 3 clusters), but well-separated clusters never SHARE a
        # sub-code, and no cluster shatters beyond the seed split.
        for s in range(2):
            sets = [
                {codes[base + i][s] for i in range(10)}
                for base in (0, 10, 20)
            ]
            for cs in sets:
                assert len(cs) <= 2, (s, sets)
            for a in range(3):
                for b in range(a + 1, 3):
                    assert not (sets[a] & sets[b]), (s, sets)

    def test_reconstruction_bounds_quantization_error(self, spark, clustered):
        from knetminer_etl_spark.operators.quantize import (
            pq_decode,
            pq_encode,
            pq_train,
        )

        books = pq_train(clustered, m=2, ksub=4, iterations=3)
        recon = (
            clustered.select("embedding", pq_encode("embedding", books).alias("c"))
            .select("embedding", pq_decode("c", books).alias("r"))
            .collect()
        )
        # converged sub-centroids sit at their cluster means — error per
        # dim is bounded by the jitter radius (0.25 with margin)
        for row in recon:
            for x, r in zip(row["embedding"], row["r"]):
                assert abs(x - r) <= 0.25, (x, r)

    def test_pq_topk_tracks_exact_topk(self, spark, clustered):
        from knetminer_etl_spark.operators.quantize import pq_topk

        queries = clustered.filter("vec_id in (0, 10, 20)")
        exact = cosine_topk(clustered, queries, k=5)
        approx = pq_topk(clustered, queries, k=5, m=2, ksub=4, iterations=3)
        ex = {
            (r["query_id"], r["neighbor_id"]) for r in exact.collect()
        }
        ap = {
            (r["query_id"], r["neighbor_id"]) for r in approx.collect()
        }
        # same-cluster neighbors dominate both lists; require >=60% overlap
        assert len(ex & ap) >= 0.6 * len(ex), (len(ex & ap), len(ex))

    def test_encode_is_narrow(self, spark, clustered):
        from knetminer_etl_spark.operators.quantize import pq_encode, pq_train

        books = pq_train(clustered, m=2, ksub=4, iterations=1)
        plan = (
            clustered.select(pq_encode("embedding", books).alias("c"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_indivisible_dim_raises(self, spark, clustered):
        from knetminer_etl_spark.operators.quantize import pq_train

        with pytest.raises(ValueError, match="divisible"):
            pq_train(clustered, m=3, ksub=4, iterations=1)
