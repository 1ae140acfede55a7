"""Round-9 contracts: generalized-pigeonhole Hamming banding, the shared
identical-content collapse engine (one probe job per call),
NaN parity across the SemDeDup physical paths, the Arrow bloom probe for
large word tables, and the auto-sized decontamination band shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import dedup as DD


def _brute_hamming(rows, max_hamming):
    out = set()
    for i, (ia, fa) in enumerate(rows):
        for ib, fb in rows[i + 1 :]:
            d = bin((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= max_hamming:
                a, b = min(ia, ib), max(ia, ib)
                out.add((a, b, d))
    return out


def _fp_rows(n=120, nbits=60, seed=7, planted=6):
    import random

    rng = random.Random(seed)
    rows = [(i, rng.getrandbits(nbits)) for i in range(n)]
    # planted near-dups: flip ≤3 bits of an existing fp
    for j in range(planted):
        base = rows[j][1]
        flipped = base
        for b in rng.sample(range(nbits), j % 4):
            flipped ^= 1 << b
        rows.append((1000 + j, flipped))
    return rows


class TestMultiBlockPigeonhole:
    """blocks > max_hamming+1 must keep the pair set EXACT: a pair
    within distance h damages ≤ h blocks, so its untouched (g−h)-block
    combination key still matches (the Manku-style block-permuted
    index)."""

    @pytest.mark.parametrize("extra", [0, 1, 2, 3])
    def test_blocked_banding_equals_brute(self, spark, extra):
        h, nbits = 3, 60
        rows = _fp_rows(nbits=nbits)
        df = spark.createDataFrame(rows, "doc_id long, fp long")
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in DD.hamming_pairs(
                df, max_hamming=h, nbits=nbits, blocks=h + 1 + extra
            ).collect()
        }
        assert got == _brute_hamming(rows, h)

    def test_auto_blocks_matches_fixed(self, spark):
        rows = _fp_rows()
        df = spark.createDataFrame(rows, "doc_id long, fp long")
        auto = {
            tuple(r)
            for r in DD.hamming_pairs(
                df, max_hamming=3, nbits=60, blocks="auto"
            ).collect()
        }
        assert auto == _brute_hamming(rows, 3)

    def test_multiblock_with_clone_families(self, spark):
        """Collapse + widened blocks together: clone members must all
        rejoin with hamming 0 and inherit cross-group distances."""
        rows = _fp_rows(n=40, planted=0)
        rows += [(5000 + i, rows[0][1]) for i in range(4)]  # clones of fp 0
        df = spark.createDataFrame(rows, "doc_id long, fp long")
        got = {
            tuple(r)
            for r in DD.hamming_pairs(
                df, max_hamming=2, nbits=60, blocks=5
            ).collect()
        }
        assert got == _brute_hamming(rows, 2)

    def test_band_rows_default_layout_unchanged(self, spark):
        """blocks=max_hamming+1 must reproduce the classic single-block
        band layout byte-for-byte — persisted incremental indexes depend
        on it."""
        fp = 0x0FA5_5AF0_1234_ABCD
        df = spark.createDataFrame([(1, fp)], "doc_id long, fp long")
        rows = {
            (r["band"], r["chunk"])
            for r in DD.hamming_band_rows(
                df, max_hamming=3, nbits=64
            ).collect()
        }
        width = 64 // 4
        expect = {
            (b, (fp >> (b * width)) & ((1 << width) - 1)) for b in range(4)
        }
        assert rows == expect

    def test_blocks_must_exceed_max_hamming(self, spark):
        df = spark.createDataFrame([(1, 7)], "doc_id long, fp long")
        with pytest.raises(ValueError):
            DD.hamming_band_rows(df, max_hamming=3, nbits=64, blocks=3)

    def test_auto_block_rule(self):
        # small corpora stay on the classic layout (bench/oracle plans
        # unchanged); occupancy-bound corpora widen
        assert DD._hamming_blocks_auto(5_000, 5, 60) == 6
        assert DD._hamming_blocks_auto(0, 5, 60) == 6
        assert DD._hamming_blocks_auto(10_000, 0, 64) == 1
        wide = DD._hamming_blocks_auto(550_000, 5, 60)
        assert wide > 6
        from math import comb

        # the chosen shape's uniform estimate actually fits the budget
        width = 60 // wide
        est = comb(wide, 5) * 550_000**2 / 2 ** ((wide - 5) * width)
        assert est <= max(1_000_000, 32 * 550_000)


class TestCloneVerdictMemo:
    """Clone statistics are measured by every call; no verdict carries
    over from an earlier call in the same session."""

    def test_file_backed_verdict_stats(self, spark, tmp_path):
        p = str(tmp_path / "fps.parquet")
        spark.createDataFrame(
            [(i, i * 1000 + 7) for i in range(50)], "doc_id long, fp long"
        ).write.parquet(p)
        df1 = spark.read.parquet(p)
        r1 = sorted(
            map(tuple, DD.hamming_pairs(df1, max_hamming=2).collect())
        )
        keyed = df1.select(
            F.col("doc_id").alias("_id"), F.col("fp").alias("_hfp")
        )
        # (groups, members, f_max, Σf²)
        assert DD.content_groups(keyed, ["_hfp"])[1:] == (50, 50, 1, 50)
        df2 = spark.read.parquet(p)
        r2 = sorted(
            map(tuple, DD.hamming_pairs(df2, max_hamming=2).collect())
        )
        assert r1 == r2

    def test_clone_corpus_verdict_true(self, spark, tmp_path):
        p = str(tmp_path / "clones.parquet")
        rows = [(i, 42) for i in range(5)] + [(10 + i, i * 999) for i in range(5)]
        spark.createDataFrame(rows, "doc_id long, fp long").write.parquet(p)
        df = spark.read.parquet(p)
        got = {
            tuple(r) for r in DD.hamming_pairs(df, max_hamming=1).collect()
        }
        assert got == _brute_hamming(rows, 1)

    def test_in_memory_inputs_not_memoized(self, spark):
        rows = [(1, 10), (2, 20)]
        df = spark.createDataFrame(rows, "doc_id long, fp long")
        got = {
            tuple(r) for r in DD.hamming_pairs(df, max_hamming=1).collect()
        }
        assert got == _brute_hamming(rows, 1)

    def test_rewritten_file_is_reprobed(self, spark, tmp_path):
        """A parquet file rewritten in place under the same name: the
        second call must see the new clone family. A clone-free verdict
        kept from the first call would send the family down the capped
        direct path and lose every one of its pairs."""
        import random

        import pyarrow as pa
        import pyarrow.parquet as pq

        p = str(tmp_path / "fps.parquet")
        rng = random.Random(11)

        def write(rows):
            ids, fps = zip(*rows)
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(ids, pa.int64()),
                        "fp": pa.array(fps, pa.int64()),
                    }
                ),
                p,
            )

        def pairs():
            df = spark.read.parquet(p)
            return {
                tuple(r)
                for r in DD.hamming_pairs(
                    df, max_hamming=1, max_bucket_size=8
                ).collect()
            }

        first = [(i, rng.getrandbits(62)) for i in range(40)]
        write(first)
        assert pairs() == _brute_hamming(first, 1)
        family = rng.getrandbits(62)
        second = [(100 + i, family) for i in range(20)]
        second += [(200 + i, rng.getrandbits(62)) for i in range(20)]
        write(second)
        got = pairs()
        assert len({(a, b) for a, b, h in got if a < 120 and b < 120}) == 190
        assert got == _brute_hamming(second, 1)


class TestExpandGroupPairs:
    def test_cross_and_within_expansion(self, spark):
        members = spark.createDataFrame(
            [(1, 100), (2, 100), (3, 200), (4, 300)], "_id long, _g long"
        )
        group_pairs = spark.createDataFrame(
            [(100, 200, 0.9)], "_g_a long, _g_b long, score double"
        )
        out = sorted(
            map(
                tuple,
                DD.expand_group_pairs(
                    members, ["_g"], group_pairs, "score",
                    within_score=F.lit(1.0),
                ).collect(),
            )
        )
        assert out == [(1, 2, 1.0), (1, 3, 0.9), (2, 3, 0.9)]

    def test_without_within(self, spark):
        members = spark.createDataFrame(
            [(1, 100), (2, 100), (3, 200)], "_id long, _g long"
        )
        group_pairs = spark.createDataFrame(
            [(100, 200, 2)], "_g_a long, _g_b long, hamming int"
        )
        out = sorted(
            map(
                tuple,
                DD.expand_group_pairs(
                    members, ["_g"], group_pairs, "hamming"
                ).collect(),
            )
        )
        assert out == [(1, 3, 2), (2, 3, 2)]


class TestNanParity:
    """Degenerate (all-zero / NaN-cosine) embeddings must dedupe
    IDENTICALLY on both sides of the direct_max dispatch boundary:
    a NaN cosine is never a witness (ADVICE r8)."""

    def _corpus(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        rows = []
        for i in range(20):
            v = rng.normal(size=6)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        # a twin pair (real drop), plus TWO all-zero vectors whose
        # cosine to everything (including each other) is 0/0 = NaN
        rows.append((100, [x + 0.0005 for x in rows[0][1]]))
        rows.append((200, [0.0] * 6))
        rows.append((201, [0.0] * 6))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_zero_vectors_never_dropped_either_path(self, spark):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        corpus = self._corpus(spark)
        direct = sorted(
            map(
                tuple,
                semantic_dedup(
                    corpus, n_clusters=2, threshold=0.95
                ).collect(),
            )
        )
        banded = sorted(
            map(
                tuple,
                semantic_dedup(
                    corpus, n_clusters=2, threshold=0.95, direct_max=0
                ).collect(),
            )
        )
        assert direct == banded
        keep = {r[0]: r[2] for r in direct}
        assert keep[200] is True and keep[201] is True  # NaN: no witness
        assert keep[100] is False  # the real twin still drops

    def test_verified_drops_masks_nan(self, spark):
        assigned = spark.createDataFrame(
            [
                (1, [0.0, 0.0], 0.0),
                (2, [0.0, 0.0], 0.0),
                (3, [1.0, 0.0], 1.0),
                (4, [1.0, 0.001], 1.0000005),
            ],
            "_id long, _v array<double>, _n double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (3, 4)], "id_a long, id_b long"
        )
        drops = {
            r["_id"]
            for r in DD._verified_drops(assigned, pairs, 0.95).collect()
        }
        assert drops == {4}  # NaN pairs (1,2) and (1,3) are not witnesses


class TestBloomArrowProbe:
    def test_arrow_probe_equals_literal(self, spark):
        from knetminer_etl_spark.operators import bloomjoin as BJ

        keys = spark.createDataFrame(
            [(f"k{i}",) for i in range(200)], "gram string"
        )
        probe = spark.createDataFrame(
            [(f"k{i}",) for i in range(150, 400)], "gram string"
        )
        for hash_kind in ("md5", "xx"):
            spec = BJ.build_spec(
                keys, "gram", n_bits=1 << 12, k=3, seed="t9", hash=hash_kind
            )
            lit = [
                r["hit"]
                for r in probe.select(
                    F.col("gram"),
                    BJ.might_contain(
                        F.col("gram"), list(spec.words), spec.n_bits,
                        spec.k, spec.seed, spec.hash,
                    ).alias("hit"),
                ).orderBy("gram").collect()
            ]
            arrow = [
                r["hit"]
                for r in probe.select(
                    F.col("gram"),
                    BJ._might_contain_arrow(
                        F.col("gram"), list(spec.words), spec.n_bits,
                        spec.k, spec.seed, spec.hash,
                    ).alias("hit"),
                ).orderBy("gram").collect()
            ]
            assert lit == arrow
            # inserted keys can never be false (true membership holds
            # through either probe)
            assert all(lit[: 200 - 150])

    def test_large_table_dispatches_to_arrow(self, spark):
        """Above LITERAL_WORDS_MAX the plan must not carry the literal
        array (the analyzer-cost hazard); the probe column is a Pandas
        UDF instead."""
        from knetminer_etl_spark.operators import bloomjoin as BJ

        words = [0] * (BJ.LITERAL_WORDS_MAX + 1)
        words[1] = 1 << 5
        col = BJ.might_contain(
            F.lit("x"), words, len(words) * 64, 2, "s", "xx"
        )
        # a pandas_udf column renders as a python UDF invocation, not a
        # million-element array literal
        assert "array(" not in repr(col)[:2000]


class TestAutoDeconShape:
    def test_floors_hold_small(self):
        from knetminer_etl_spark.operators.contamination import (
            _auto_decon_shape,
        )

        assert _auto_decon_shape(500, 0.95) == (12, 48)
        assert _auto_decon_shape(8192, 0.95) == (12, 48)

    def test_grows_with_suite(self):
        import math

        from knetminer_etl_spark.operators.contamination import (
            _auto_decon_shape,
        )

        planes, bands = _auto_decon_shape(120_000, 0.95)
        assert planes == math.ceil(math.log2(120_000 / 2)) == 16
        # recall bound restored at the threshold
        p = 1.0 - math.acos(0.95) / math.pi
        assert (1 - p**planes) ** bands <= 1e-6
        # bigger suites → more planes, never fewer bands than the floor
        p2, b2 = _auto_decon_shape(5_000_000, 0.95)
        assert p2 > planes and b2 >= 48

    def test_banded_auto_equals_brute(self, spark):
        import numpy as np

        from knetminer_etl_spark.operators import contamination as CT

        rng = np.random.default_rng(5)
        train_rows = []
        for i in range(30):
            v = rng.normal(size=6)
            train_rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        train = spark.createDataFrame(
            train_rows, "vec_id long, embedding array<double>"
        )
        # eval suite: perturbed copies of 5 train vectors → true leaks
        test = train.filter("vec_id < 5").selectExpr(
            "vec_id + 900 AS vec_id",
            "transform(embedding, x -> x + 0.0005) AS embedding",
        )
        banded = {
            r["vec_id"]
            for r in CT.semantic_decontaminate_banded(
                train, test, threshold=0.95
            ).collect()
        }
        brute = {
            r["vec_id"]
            for r in CT.semantic_decontaminate(
                train, test, threshold=0.95, mode="brute"
            ).collect()
        }
        assert banded == brute == set(range(5, 30))


class TestExactDropIdsStreaming:
    def test_drop_set_unchanged(self, spark):
        df = spark.createDataFrame(
            [
                (1, "same text"),
                (2, "same text"),
                (5, "same text"),
                (3, "unique a"),
                (4, "unique b"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"] for r in DD.exact_drop_ids(df).collect()}
        assert got == {2, 5}
        kept = {r["doc_id"] for r in DD.drop_exact_dups(df).collect()}
        assert kept == {1, 3, 4}


class TestCollapseDispatch:
    def test_bill_and_cap_rules(self):
        # clone-free / sparse: direct (args: groups, members, f_max,
        # Σf², bands, cap)
        assert not DD.collapse_pays(5000, 5000, 1, 5000, 16, 4096)
        # the sf0.1 bench shape: 8 duplicate rows → tiny bill → direct
        assert not DD.collapse_pays(4992, 5000, 2, 5016, 32, 4096)
        # 20-copy clone corpus (100k docs × f=20): bill 16·38M → collapse
        assert DD.collapse_pays(5000, 100000, 20, 2000000, 16, 4096)
        # cap-contract boundary: family big vs the cap → collapse
        assert DD.collapse_pays(4990, 5000, 5, 5040, 4, 16)
        # same family, uncapped: bill is tiny → direct
        assert not DD.collapse_pays(4990, 5000, 5, 5040, 4, None)
        # empty / degenerate
        assert not DD.collapse_pays(0, 0, 0, 0, 4, None)

    def test_sparse_clone_corpus_direct_equals_collapse(self, spark):
        """A corpus with a couple of tiny clone families dispatches to
        the direct plan — its pair set must equal the forced collapse
        path exactly (pair-identical contract below the cap boundary)."""
        rows = _fp_rows(n=60, planted=0)
        rows += [(7000, rows[0][1]), (7001, rows[1][1])]  # two f=2 families
        df = spark.createDataFrame(rows, "doc_id long, fp long")
        direct = {
            tuple(r)
            for r in DD.hamming_pairs(df, max_hamming=2, nbits=60).collect()
        }
        assert direct == _brute_hamming(rows, 2)
        # same corpus forced through collapse by dropping the thresholds
        import unittest.mock as mock

        with mock.patch.object(DD, "CLONE_BILL_BUDGET", -1):
            collapsed = {
                tuple(r)
                for r in DD.hamming_pairs(
                    df, max_hamming=2, nbits=60
                ).collect()
            }
        assert collapsed == direct


class TestContaminationDegenerateVectors:
    """Zero-norm embeddings must neither crash (ANSI DIVIDE_BY_ZERO)
    nor diverge between the brute and banded decontamination paths: a
    NULL cosine is never contamination evidence on either side."""

    def _sets(self, spark):
        import numpy as np

        rng = np.random.default_rng(9)
        rows = []
        for i in range(20):
            v = rng.normal(size=6)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        rows.append((500, [0.0] * 6))  # degenerate train vector
        train = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        test = train.filter("vec_id < 4").selectExpr(
            "vec_id + 900 AS vec_id",
            "transform(embedding, x -> x + 0.0005) AS embedding",
        ).unionByName(
            spark.createDataFrame(
                [(950, [0.0] * 6)], "vec_id long, embedding array<double>"
            )
        )
        return train, test

    def test_brute_equals_banded_with_zero_vectors(self, spark):
        from knetminer_etl_spark.operators import contamination as CT

        train, test = self._sets(spark)
        brute = {
            r["vec_id"]
            for r in CT.semantic_decontaminate(
                train, test, threshold=0.95, mode="brute"
            ).collect()
        }
        banded = {
            r["vec_id"]
            for r in CT.semantic_decontaminate_banded(
                train, test, threshold=0.95
            ).collect()
        }
        assert brute == banded
        assert 500 in brute  # the zero vector survives (no evidence)
        assert brute == {500} | set(range(4, 20))

    def test_report_null_cosine_never_flags(self, spark):
        from knetminer_etl_spark.operators import contamination as CT

        train, test = self._sets(spark)
        rows = {
            r["vec_id"]: r
            for r in CT.semantic_contamination(
                train, test, threshold=0.95
            ).collect()
        }
        assert rows[500]["max_test_cos"] is None
        assert not rows[500]["contaminated"]
        assert rows[0]["contaminated"]  # the planted leak still flags


def test_zero_width_blocks_rejected(spark):
    df = spark.createDataFrame([(1, 7)], "doc_id long, fp long")
    with pytest.raises(ValueError, match="zero-width"):
        DD.hamming_band_rows(df, max_hamming=3, nbits=60, blocks=61)
