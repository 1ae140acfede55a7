"""Property-based checks of the round-5 changes: the semantic-dedup
two-phase witness verification must equal the direct all-pairs drop set
on ARBITRARY corpora (not just the planted-twin fixtures), the hashed
span-scrub mode must equal text mode, and the witness keep rule must
match a pure-Python oracle of the SemDeDup semantics."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _corpora(draw):
    """Vector corpora engineered to stress the witness scheme: random
    base vectors plus duplicate balls of varying tightness, so buckets
    hold a mix of true near-dups and unrelated collisions."""
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    n_base = draw(st.integers(4, 16))
    dim = draw(st.sampled_from([4, 8]))
    base = rng.normal(size=(n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    next_id = 1000
    for i in range(n_base):
        for _ in range(draw(st.integers(0, 3))):
            eps = draw(st.floats(0.0, 0.25))
            v = base[i] + eps * rng.normal(size=dim)
            v = v / np.linalg.norm(v)
            rows.append((next_id, [float(x) for x in v]))
            next_id += 1
    return rows


def _python_semdedup(rows, clusters, threshold):
    """Pure-Python oracle of the within-cluster min-id keep rule."""
    vecs = dict(rows)
    dropped = set()
    for y_id, y in rows:
        for x_id, x in rows:
            if x_id >= y_id or clusters[x_id] != clusters[y_id]:
                continue
            cos = round(
                float(np.dot(x, y))
                / (float(np.linalg.norm(x)) * float(np.linalg.norm(y))),
                6,
            )
            if cos >= threshold:
                dropped.add(y_id)
                break
    return {i: i not in dropped for i, _ in rows}


@pytest.mark.usefixtures("spark")
class TestSemanticWitnessProperties:
    # thresholds ≥ 0.93 keep the per-pair LSH miss probability ≤ 3e-5
    # (at 0.90 it is ~5e-4, enough to flake across hypothesis examples)
    @given(_corpora(), st.sampled_from([0.93, 0.95, 0.99]))
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_banded_two_phase_equals_direct_on_arbitrary_corpora(
        self, spark, rows, threshold
    ):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        direct = sorted(
            map(
                tuple,
                semantic_dedup(df, n_clusters=3, threshold=threshold).collect(),
            )
        )
        import unittest.mock as mock

        from knetminer_etl_spark.operators import dedup as DD

        with mock.patch.object(DD, "SEMANTIC_DIRECT_MAX", 0):
            banded = sorted(
                map(
                    tuple,
                    semantic_dedup(
                        df, n_clusters=3, threshold=threshold
                    ).collect(),
                )
            )
        # identical (id, cluster) always; identical keep except the
        # bounded-probability LSH miss, which these sizes make ~0 —
        # treat ANY difference as a failure so misses surface here
        assert direct == banded

    @given(_corpora())
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_direct_path_matches_pure_python_keep_rule(self, spark, rows):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(df, n_clusters=3, threshold=0.95).collect()
        clusters = {r["vec_id"]: r["cluster"] for r in out}
        expect = _python_semdedup(rows, clusters, 0.95)
        got = {r["vec_id"]: r["keep"] for r in out}
        assert got == expect


@pytest.mark.usefixtures("spark")
class TestSpanScrubHashProperties:
    @given(
        st.lists(
            st.lists(
                st.sampled_from("alpha beta gamma delta zz yy".split()),
                min_size=0,
                max_size=30,
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(2, 5),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_hashed_mode_equals_text_mode(self, spark, docs, k):
        from knetminer_etl_spark.operators.dedup import repeated_span_scrub

        rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        text_mode = sorted(
            map(
                tuple,
                repeated_span_scrub(df, k=k, hash_windows=False).collect(),
            )
        )
        hashed = sorted(
            map(
                tuple, repeated_span_scrub(df, k=k, hash_windows=True).collect()
            )
        )
        assert text_mode == hashed
