"""Round-10 pins: the ADVICE r9 fixes (NaN parity across the
semantic-decontamination dispatch boundary, the hamming blocks=None
contract, the jointly-capped decon band shape) and the round's plan
work (auto-shaped MinHash banding, audio fingerprint whitening,
bounded memo caches)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import contamination as CT
from knetminer_etl_spark.operators import dedup as DD


class TestContaminationNanParity:
    """ADVICE r9 (medium): mode=brute and mode=banded of
    semantic_decontaminate must agree on NaN-element and zero-norm
    vectors — a NaN cosine is never contamination evidence on either
    physical path."""

    def _vecs(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        rows = []
        for i in range(12):
            v = rng.normal(size=5)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        # 100: a true leak (near-copy of test row 0)
        rows.append((100, [x + 0.0005 for x in rows[0][1]]))
        # 200: all-zero (try_divide -> NULL cosine)
        rows.append((200, [0.0] * 5))
        # 201: NaN element (try_divide does NOT null it -> NaN cosine)
        rows.append((201, [float("nan"), 1.0, 0.0, 0.0, 0.0]))
        train = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        test = spark.createDataFrame(
            [rows[0], (1000, rows[1][1])],
            "vec_id long, embedding array<double>",
        )
        return train, test

    def test_brute_banded_same_survivors(self, spark):
        train, test = self._vecs(spark)
        # |test| = 2: the default entry runs the brute filter
        brute = {
            r["vec_id"]
            for r in CT.semantic_decontaminate(
                train, test, threshold=0.95
            ).collect()
        }
        banded = {
            r["vec_id"]
            for r in CT.semantic_decontaminate_banded(
                train, test, threshold=0.95, n_planes=6, n_bands=64,
            ).collect()
        }
        assert brute == banded
        # degenerate rows survive on BOTH paths; the true leaks drop
        assert {200, 201} <= brute
        assert 100 not in brute and 0 not in brute

    def test_report_flags_never_nan_or_null(self, spark):
        train, test = self._vecs(spark)
        rows = {
            r["vec_id"]: r
            for r in CT.semantic_contamination(
                train, test, threshold=0.95
            ).collect()
        }
        # NaN-element vector: all cosines masked -> NULL max, flag false
        assert rows[201]["max_test_cos"] is None
        assert rows[201]["contaminated"] is False
        # zero-norm vector: try_divide NULLs -> NULL max, flag false
        assert rows[200]["max_test_cos"] is None
        assert rows[200]["contaminated"] is False
        # the planted leak still flags
        assert rows[100]["contaminated"] is True


class TestHammingBlocksNone:
    """ADVICE r9 (low): blocks=None must mean the classic
    max_hamming+1 single-block layout, not a crash."""

    def _fps(self, spark):
        return spark.createDataFrame(
            [(1, 0b1010), (2, 0b1011), (3, 0b1010_0000_0000), (4, 1 << 40)],
            "doc_id long, fp long",
        )

    def test_none_equals_static_layout(self, spark):
        fps = self._fps(spark)
        got_none = sorted(
            map(tuple, DD.hamming_pairs(fps, max_hamming=3, blocks=None).collect())
        )
        got_static = sorted(
            map(tuple, DD.hamming_pairs(fps, max_hamming=3, blocks=4).collect())
        )
        assert got_none == got_static
        assert (1, 2, 1) in got_none


class TestAutoDeconShapeCap:
    """ADVICE r9 (low): the decon band count is now jointly capped —
    no threshold/suite combination may request an unbounded per-vector
    projection."""

    def test_projection_bounded_everywhere(self):
        for thr in (0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99):
            for n_test in (10, 10_000, 1_000_000, 100_000_000):
                planes, bands = CT._auto_decon_shape(n_test, thr)
                assert planes * bands <= 28 * 384
                assert bands <= 384
                assert 12 <= planes <= 28

    def test_planes_step_down_before_cap_binds(self):
        # threshold 0.8 with a big suite: 28 planes would need ~8.5k
        # bands; joint optimization trades planes for an intact bound
        planes, bands = CT._auto_decon_shape(100_000_000, 0.8)
        assert bands <= 384
        import math

        p = 1.0 - math.acos(0.8) / math.pi
        miss = (1.0 - p**planes) ** bands
        assert miss <= 1e-6  # the recall bound survived the cap

    def test_default_shape_unchanged(self):
        assert CT._auto_decon_shape(1000, 0.95) == (12, 48)
