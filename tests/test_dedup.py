from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import dedup as DD

BASE = (
    "spark builds large scale data pipelines with partitioned parallel "
    "operators over columnar storage and adaptive query execution today"
)


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different text about gardening tulips and soil ph"),
        (5, "another unrelated document mentioning orchestras and violins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_groups_and_representatives(self, spark, corpus):
        got = {r["keep_id"]: r["n_dups"] for r in DD.exact_dedup(corpus).collect()}
        assert got[1] == 2  # docs 1+2 merged, min id kept
        assert got[3] == 1 and got[4] == 1 and got[5] == 1

    def test_drop_exact_dups(self, spark, corpus):
        kept = {r["doc_id"] for r in DD.drop_exact_dups(corpus).collect()}
        assert kept == {1, 3, 4, 5}


class TestJaccard:
    def test_finds_exact_and_near_pairs(self, spark, corpus):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
        assert (2, 3) in pairs
        assert not any(4 in p or 5 in p for p in pairs)

    def test_threshold_filters(self, spark, corpus):
        strict = {
            (r["id_a"], r["id_b"])
            for r in DD.ngram_jaccard_pairs(corpus, threshold=0.999).collect()
        }
        assert strict == {(1, 2)}


class TestMinHash:
    def test_signature_shape_and_determinism(self, spark, corpus):
        s1 = DD.minhash_signatures(corpus, num_perm=16).collect()
        s2 = DD.minhash_signatures(corpus, num_perm=16).collect()
        by_id = {r["doc_id"]: r["signature"] for r in s1}
        assert all(len(v) == 16 for v in by_id.values())
        assert {r["doc_id"]: r["signature"] for r in s2} == by_id
        assert by_id[1] == by_id[2]  # exact dups → identical signatures

    def test_lsh_verified_matches_jaccard(self, spark, corpus):
        lsh = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.minhash_lsh_pairs(corpus, threshold=0.5).collect()
        }
        true = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
        }
        assert lsh == true

    def test_singleton_dispatch_equals_collapse_and_direct(self, spark):
        # clone-FREE corpus: the singleton-group probe dispatches to the
        # direct engine; its output must equal the collapse path forced
        # to run (by adding one clone and filtering its pairs back out)
        rows = [
            (1, BASE),
            (3, BASE.replace("today", "tomorrow")),
            (4, "completely different text about gardening tulips and soil"),
            (5, "another unrelated document mentioning orchestras violins"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        via_dispatch = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in DD.minhash_lsh_pairs(df, threshold=0.5).collect()
        }
        assert via_dispatch
        # force the full collapse path: one exact clone of doc 1 keeps
        # the group count below the member count, and a negative budget
        # makes its tiny clone bill pay for the collapse joins
        with_clone = df.unionByName(
            spark.createDataFrame([(9, BASE)], "doc_id long, text string")
        )
        with mock.patch.object(DD, "CLONE_BILL_BUDGET", -1):
            collapsed = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in DD.minhash_lsh_pairs(
                    with_clone, threshold=0.5
                ).collect()
                if 9 not in (r["id_a"], r["id_b"])
            }
        assert collapsed == via_dispatch


class TestBucketCapAndMetrics:
    """The per-band-bucket cap (Σ|bucket|² backstop) and the
    candidate-bill observations, across all three banded engines."""

    def _mono_corpus(self, spark, n=40):
        # pathological single-bucket shape: every doc identical — all n
        # land in ONE bucket per band; uncapped bill = bands * C(n,2)
        return spark.createDataFrame(
            [(i, BASE) for i in range(n)], "doc_id long, text string"
        )

    def test_minhash_cap_bounds_pathological_bucket(self, spark):
        mono = self._mono_corpus(spark)
        # the extra small cluster must SURVIVE the cap (its buckets are small)
        extra = spark.createDataFrame(
            [(100, "tiny pair of similar docs one"),
             (101, "tiny pair of similar docs one")],
            "doc_id long, text string",
        )
        df = mono.unionByName(extra)
        full = {(i, j) for i in range(40) for j in range(i + 1, 40)} | {
            (100, 101)
        }
        # content collapse: the clone family bands as ONE
        # representative, so its pairs are OUTPUT, not candidates — the
        # cap can no longer cost recall on identical-content corpora
        with mock.patch.object(DD, "LSH_BUCKET_CAP", 10):
            capped = {
                (r["id_a"], r["id_b"])
                for r in DD.minhash_lsh_pairs(df, threshold=0.9).collect()
            }
        assert capped == full
        # distinct contents per bucket (AQE may prune the observation
        # node entirely when the rep-level candidate relation is empty)
        m = DD.read_candidate_metrics("minhash_lsh")
        assert m.get("max_bucket", 1) <= 2
        # at the default cap, the clone bill is too small to pay for
        # collapse: the direct engine emits the same pairs as candidates
        uncapped = DD.minhash_lsh_pairs(df, threshold=0.9).count()
        assert uncapped == len(full)
        assert DD.read_candidate_metrics("minhash_lsh")["max_bucket"] == 40

    def test_minhash_candidate_metrics(self, spark):
        import unittest.mock as mock

        df = self._mono_corpus(spark, n=10)
        # force the collapse path: the bill dispatch (round 9) sends a
        # bill this tiny to the direct plan, whose clone candidates are
        # output-scale by design — the zero-candidate contract below is
        # about the COLLAPSE engine, so pin the dispatch to it
        with mock.patch.object(DD, "CLONE_BILL_BUDGET", -1):
            out = DD.minhash_lsh_pairs(df, threshold=0.9)
            n_out = out.count()
        m = DD.read_candidate_metrics("minhash_lsh")
        assert m["out_rows"] == n_out == 45
        # ten identical docs collapse to one representative: zero
        # candidate pairs, singleton buckets — the 45 output pairs are
        # the within-group expansion (AQE may prune the empty candidate
        # relation's observation entirely)
        assert m.get("candidates", 0) == 0
        assert m.get("max_bucket", 1) == 1
        # the default dispatch sends this small bill to the direct
        # engine, which pays the quadratic bucket bill for the same output
        assert DD.minhash_lsh_pairs(df, threshold=0.9).count() == 45
        m2 = DD.read_candidate_metrics("minhash_lsh")
        assert m2["candidates"] >= 45 and m2["max_bucket"] == 10

    def test_hamming_cap_and_metrics(self, spark):
        import itertools

        # identical-fingerprint clone family: collapsed to one
        # representative, so the cap can never drop its (hamming 0)
        # pairs — they are output, not candidate overhead
        rows = [(i, 0) for i in range(30)] + [(100, 255), (101, 255)]
        fp = spark.createDataFrame(rows, "doc_id long, fp long")
        full = {(i, j) for i in range(30) for j in range(i + 1, 30)} | {
            (100, 101)
        }
        capped = {
            (r["id_a"], r["id_b"])
            for r in DD.hamming_pairs(
                fp, max_hamming=3, max_bucket_size=8, metrics_label="h_t"
            ).collect()
        }
        assert capped == full
        m = DD.read_candidate_metrics("h_t")
        assert m["out_rows"] == len(full)
        # the cap's recall trade now applies only to DIVERSE near-dup
        # families: 30 distinct fingerprints agreeing on 3 of 4 bands
        div = spark.createDataFrame(
            [(i, i << 48) for i in range(30)] + [(100, 255), (101, 255)],
            "doc_id long, fp long",
        )
        div_capped = {
            (r["id_a"], r["id_b"])
            for r in DD.hamming_pairs(
                div, max_hamming=3, max_bucket_size=8
            ).collect()
        }
        # diverse family's shared buckets are oversized -> its pairs are
        # lost to the cap; the identical-fp pair survives via collapse
        assert div_capped == {(100, 101)}
        # uncapped default stays the exact brute-force set
        exact = {
            (i, j)
            for i, j in itertools.combinations(range(30), 2)
            if bin(i ^ j).count("1") <= 3
        } | {(100, 101)}
        got = {
            (r["id_a"], r["id_b"])
            for r in DD.hamming_pairs(div, max_hamming=3).collect()
        }
        assert got == exact
        assert DD.hamming_pairs(fp, max_hamming=3).count() == len(full)

    def test_embedding_cap(self, spark):
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)] + [
            (100, [0.0, 1.0, 0.0, 0.0]),
            (101, [0.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        with mock.patch.object(DD, "LSH_BUCKET_CAP", 8):
            capped = {
                (r["id_a"], r["id_b"])
                for r in DD.embedding_dup_pairs(df, threshold=0.99).collect()
            }
        # identical-direction mega-cluster shares EVERY band bucket ->
        # fully dropped; the orthogonal small pair lives in other buckets
        assert capped == {(100, 101)}
        # the default cap is far above 30 ids: every pair survives
        n_unc = DD.embedding_dup_pairs(df, threshold=0.99).count()
        assert n_unc == 30 * 29 // 2 + 1
        m = DD.read_candidate_metrics("embedding_lsh")
        assert m["candidates"] >= m["out_rows"] == n_unc

    def test_video_frame_cap(self, spark):
        from knetminer_etl_spark.operators import multimodal as MM

        # static content: every frame of every video hashes identically
        fn = lambda data, ts: MM._fake_pixels(b"static", "bin")
        vids = [
            (i, __import__("tests.test_multimodal", fromlist=["TestMp4Decode"])
                 .TestMp4Decode._mp4_bytes(duration=4500))
            for i in range(6)
        ]
        import unittest.mock as mock

        df = spark.createDataFrame(vids, "media_id long, data binary")
        # pin the collapse engine (the round-9 bill dispatch would send
        # this output-scale clone bill to the direct plan)
        with mock.patch.object(DD, "CLONE_BILL_BUDGET", -1):
            uncapped = MM.video_dup_pairs(
                df, frame_pixels_fn=fn, max_hamming=0, min_match_frac=0.5
            ).count()
        assert uncapped == 15  # all pairs match everywhere
        # hash collapse: the static corpus has ONE distinct frame hash,
        # so the candidate bill is zero — every match flows through the
        # identical-hash diagonal (output, not candidates)
        m = DD.CANDIDATE_METRICS["video_frames"].get
        assert m["candidates"] == 0
        # and the cap can no longer cost recall on identical-hash
        # corpora: distinct-hash buckets are all singletons
        capped = MM.video_dup_pairs(
            df,
            frame_pixels_fn=fn,
            max_hamming=0,
            min_match_frac=0.5,
            max_bucket_size=10,
        ).count()
        assert capped == 15


class TestSimHash:
    def test_near_dups_within_hamming(self, spark, corpus):
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in DD.simhash_pairs(corpus, max_hamming=10).collect()
        }
        assert pairs[(1, 2)] == 0
        assert (1, 3) in pairs
        assert (1, 4) not in pairs and (4, 5) not in pairs


class TestNearDupCorpus:
    def test_clusters_and_drop(self, spark, corpus):
        clusters = {
            r["keep_id"]: r["cluster_size"]
            for r in DD.near_dup_clusters(corpus, threshold=0.5).collect()
        }
        # docs 1,2,3 are near-dups of each other (see corpus fixture);
        # the min id keeps, the others fold into its cluster
        assert clusters[1] == 3
        assert all(k not in clusters for k in (2, 3))
        kept = {r["doc_id"] for r in DD.drop_near_dups(corpus, threshold=0.5).collect()}
        assert 1 in kept and not {2, 3} & kept
        assert kept | {2, 3} == {r["doc_id"] for r in corpus.collect()}

    def test_lsh_route_clusters_cover_corpus(self, spark, corpus):
        # a negative size bound sends the toy corpus down the MinHash-LSH
        # branch of the size dispatch
        with mock.patch.object(DD, "PAIRS_DIRECT_MAX", -1):
            got = DD.near_dup_clusters(corpus, threshold=0.5).collect()
        assert sum(r["cluster_size"] for r in got) == corpus.count()
        assert {r["keep_id"]: r["cluster_size"] for r in got}[1] == 3

    def test_keep_best_prefers_quality_over_min_id(self, spark, corpus):
        # doc 3 is doc 1's near-dup but one token longer after the
        # replace; extend it so the cluster's best-scoring member has a
        # HIGHER id than the min-id representative near_dup_clusters picks
        longer = corpus.withColumn(
            "text",
            F.when(
                F.col("doc_id") == 3,
                F.concat(F.col("text"), F.lit(" with extra trailing words")),
            ).otherwise(F.col("text")),
        )
        best = {
            r["doc_id"]: (r["cluster_size"], r["score"])
            for r in DD.dedup_keep_best(longer, threshold=0.5).collect()
        }
        assert 3 in best and best[3][0] == 3  # cluster {1,2,3}, 3 wins
        assert 1 not in best and 2 not in best
        assert best[4][0] == 1 and best[5][0] == 1  # singletons survive

    def test_keep_best_ties_break_to_min_id(self, spark, corpus):
        # docs 1 and 2 are identical (equal score) — min id must win
        best = {r["doc_id"] for r in DD.dedup_keep_best(corpus).collect()}
        assert 2 not in best

    def test_keep_best_custom_score(self, spark, corpus):
        # a score preferring the HIGHEST id flips every cluster's winner
        best = {
            r["doc_id"]
            for r in DD.dedup_keep_best(
                corpus, score=F.col("doc_id").cast("double")
            ).collect()
        }
        assert 3 in best and not {1, 2} & best


class TestEmbeddingDups:
    def test_identical_and_near_vectors(self, spark):
        base = [1.0, 0.5, -0.25, 0.125] * 4
        near = list(base)
        near[0] += 0.001
        far = [-x for x in base]
        df = spark.createDataFrame(
            [(1, base), (2, list(base)), (3, near), (4, far)],
            "vec_id long, embedding array<float>",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in DD.embedding_dup_pairs(df, threshold=0.99).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs
        assert not any(4 in p for p in pairs)

    def test_projection_udf_evaluates_once(self, spark):
        """Regression guard against Arrow-UDF double evaluation: the
        banding projection must not re-evaluate below the fan_out
        exchange (posexplode_outer vs the size>0 pushdown), and the
        pair-dot verification must be shared by its filter and project
        (the nondeterministic marker) — exactly TWO ArrowEvalPython
        nodes total: one banding, one verification."""
        df = spark.createDataFrame(
            [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        plan = (
            DD.embedding_dup_pairs(df, threshold=0.9)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("ArrowEvalPython") == 2
        assert plan.count("_dots") == 1  # verification evaluated ONCE

    def test_planted_near_dup_recall(self, spark):
        """OR-amplified banding must recover ≥95% of true cosine-0.9 pairs
        (analytically ≥1-6e-6 at the 6x24 defaults; the old single
        AND-of-8-planes bucket managed only ~28% per pair)."""
        import numpy as np

        rng = np.random.default_rng(7)
        dim, n_base = 32, 120
        base = rng.standard_normal((n_base, dim))
        rows = []
        for i, b in enumerate(base):
            rows.append((i, [float(x) for x in b]))
            # plant a near-duplicate: small additive noise -> cosine ~0.95+
            noisy = b + rng.standard_normal(dim) * 0.12
            rows.append((1000 + i, [float(x) for x in noisy]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        # exact ground truth at the queried threshold, brute force in numpy
        ids = [r[0] for r in rows]
        x = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        cos = xn @ xn.T
        truth = {
            (min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if round(cos[i, j], 6) >= 0.9
        }
        assert len(truth) >= 50  # the plant worked

        got = {
            (r["id_a"], r["id_b"])
            for r in DD.embedding_dup_pairs(df, threshold=0.9).collect()
        }
        assert not (got - truth)  # exact verify -> no false positives
        recall = len(got & truth) / len(truth)
        assert recall >= 0.95


class TestSegmentDedup:
    def test_cross_doc_boilerplate_removed(self, spark):
        boiler = "all rights reserved contact us at example dot com now"  # 10 words
        a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " + boiler
        b = "one two three four five six seven eight nine ten " + boiler
        df = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in DD.segment_dedup(df, chunk_words=10).collect()}
        # doc 1 keeps everything (first occurrence of the boilerplate)
        assert got[1]["clean_text"] == a
        assert got[1]["n_dropped"] == 0
        # doc 2 loses the repeated segment but keeps its own words
        assert got[2]["clean_text"] == "one two three four five six seven eight nine ten"
        assert got[2]["n_dropped"] == 1
        assert got[2]["n_segments"] == 2

    def test_within_doc_repeat_kept_once(self, spark):
        seg = "a b c d e f g h i j"
        df = spark.createDataFrame(
            [(7, seg + " " + seg)], "doc_id long, text string"
        )
        row = DD.segment_dedup(df, chunk_words=10).collect()[0]
        assert row["clean_text"] == seg
        assert row["n_segments"] == 2 and row["n_dropped"] == 1

    def test_short_tail_segment(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four five six seven eight nine ten eleven twelve")],
            "doc_id long, text string",
        )
        row = DD.segment_dedup(df, chunk_words=10).collect()[0]
        assert row["n_segments"] == 2  # 10-word chunk + 2-word tail
        assert row["clean_text"].endswith("eleven twelve")

    def test_empty_doc_dropped(self, spark):
        df = spark.createDataFrame([(1, "   "), (2, "x y z")], "doc_id long, text string")
        got = DD.segment_dedup(df, chunk_words=10).collect()
        assert [r["doc_id"] for r in got] == [2]


class TestIncrementalMinhash:
    def test_incremental_equals_full_rebuild(self, spark):
        """prior-batch pairs ∪ incremental(new batch vs saved index)
        == full-corpus pairs, exactly — the property that lets a 100 TB
        corpus dedup per-refresh instead of per-rebuild."""
        from knetminer_etl_spark.operators.dedup import (
            incremental_minhash_pairs,
            minhash_band_rows,
            minhash_lsh_pairs,
        )

        base = "the quick brown fox jumps over the lazy dog near the river bank today"
        rows = []
        for i in range(30):
            words = base.split()
            words[i % len(words)] = f"w{i}"
            rows.append((i, " ".join(words)))
        # duplicates across the batch boundary and inside each batch
        rows += [(100, rows[3][1]), (101, rows[25][1]), (102, rows[3][1])]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        old = corpus.filter("doc_id < 20 or doc_id = 100")
        new = corpus.filter("doc_id >= 20 and doc_id != 100")

        # ONE fixed shape on every path: the index contract pins
        # (num_perm, bands) at ingest time, so the equality property is
        # per-shape (the auto shape the full path would pick for a
        # grown corpus is a DIFFERENT recall curve — see
        # minhash_band_rows' docstring); the batch entry sizes its own
        # shape, so the sizing function is patched to the index's
        shape = dict(num_perm=96, bands=48)
        with mock.patch.object(
            DD, "_auto_minhash_shape", lambda n, t: (96, 48)
        ):
            full = minhash_lsh_pairs(corpus, threshold=0.5)
            prior = minhash_lsh_pairs(old, threshold=0.5)
        inc = incremental_minhash_pairs(
            new, minhash_band_rows(old, **shape), corpus, threshold=0.5,
            **shape,
        )
        got = {(r["id_a"], r["id_b"]) for r in prior.collect()} | {
            (r["id_a"], r["id_b"]) for r in inc.collect()
        }
        want = {(r["id_a"], r["id_b"]) for r in full.collect()}
        assert got == want and len(want) >= 2, (got, want)
        # cross-boundary dup (3 vs 102) must come from the incremental arm
        inc_pairs = {(r["id_a"], r["id_b"]) for r in inc.collect()}
        assert (3, 102) in inc_pairs

    def test_reingesting_indexed_ids_is_safe(self, spark):
        from knetminer_etl_spark.operators.dedup import (
            incremental_minhash_pairs,
            minhash_band_rows,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon eta")],
            "doc_id long, text string",
        )
        # index contains BOTH ids; re-ingesting doc 2 must not pair it
        # with its own stale index rows
        inc = incremental_minhash_pairs(
            docs.filter("doc_id = 2"), minhash_band_rows(docs), docs, threshold=0.5
        )
        pairs = {(r["id_a"], r["id_b"]) for r in inc.collect()}
        assert pairs == {(1, 2)}


class TestSemanticDedup:
    """SemDeDup: deterministic-centroid clustering + within-cluster
    cosine keep rule (operators/dedup.semantic_dedup)."""

    def _emb(self, spark, n=40, dim=8):
        import numpy as np

        rng = np.random.default_rng(3)
        rows = []
        for i in range(n):
            v = rng.normal(size=dim)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_planted_twin_dropped_min_id_kept(self, spark):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        base = self._emb(spark)
        twins = base.filter("vec_id < 5").selectExpr(
            "vec_id + 1000 AS vec_id",
            "transform(embedding, x -> x + 0.001) AS embedding",
        )
        out = semantic_dedup(
            base.unionByName(twins), n_clusters=4, threshold=0.95
        )
        rows = {r["vec_id"]: r for r in out.collect()}
        assert len(rows) == 45  # one row per input
        for i in range(5):
            # the twin pair lands in the same cluster (cosine ~1) and the
            # min-id member survives
            assert rows[i]["cluster"] == rows[i + 1000]["cluster"]
            assert rows[i]["keep"] is True
            assert rows[i + 1000]["keep"] is False

    def test_random_corpus_all_kept(self, spark):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        out = semantic_dedup(self._emb(spark), n_clusters=4, threshold=0.95)
        assert all(r["keep"] for r in out.collect())

    def test_partitioning_invariant(self, spark):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        df = self._emb(spark)
        a = sorted(map(tuple, semantic_dedup(df, n_clusters=4, threshold=0.9).collect()))
        b = sorted(
            map(tuple, semantic_dedup(df.repartition(7), n_clusters=4, threshold=0.9).collect())
        )
        assert a == b

    def test_banded_two_phase_matches_direct_path(self, spark):
        """The LSH-banded two-phase witness verification (phase 1:
        member vs group min; phase 2: phase-1 survivors vs remaining
        smaller members) must reproduce the direct all-pairs drop set
        EXACTLY — including the case phase 1 alone would miss: a
        subject whose only witness is a non-min member that was itself
        dropped (witnesses stay eligible after being dropped)."""
        from knetminer_etl_spark.operators.dedup import (
            semantic_dedup,
            semantic_dedup_kmeans,
        )

        base = self._emb(spark, n=60)
        # dup balls of 4 per seed vector → multi-member groups where the
        # min witnesses some members and chained members witness others
        balls = [
            base.filter(f"vec_id < 12").selectExpr(
                f"vec_id + {1000 * (c + 1)} AS vec_id",
                f"transform(embedding, x -> x + {0.002 * (c + 1)}) AS embedding",
            )
            for c in range(3)
        ]
        corpus = base
        for b in balls:
            corpus = corpus.unionByName(b)
        direct = sorted(
            map(tuple, semantic_dedup(corpus, n_clusters=4, threshold=0.95).collect())
        )
        with mock.patch.object(DD, "SEMANTIC_DIRECT_MAX", 0):
            banded = sorted(
                map(
                    tuple,
                    semantic_dedup(
                        corpus, n_clusters=4, threshold=0.95
                    ).collect(),
                )
            )
        assert direct == banded
        assert any(not r[2] for r in direct)  # the balls produced drops
        km_direct = sorted(
            map(
                tuple,
                semantic_dedup_kmeans(
                    corpus, n_clusters=4, iterations=2, threshold=0.95
                ).collect(),
            )
        )
        with mock.patch.object(DD, "SEMANTIC_DIRECT_MAX", 0):
            km_banded = sorted(
                map(
                    tuple,
                    semantic_dedup_kmeans(
                        corpus, n_clusters=4, iterations=2, threshold=0.95
                    ).collect(),
                )
            )
        assert km_direct == km_banded

    def test_join_assignment_matches_literal_expression(self, spark):
        """Above _LITERAL_ASSIGN_MAX the assignment switches from one
        literal argmax expression to a broadcast join against a centroid
        relation (the n_clusters="auto" guard — k=⌈√n⌉ on a large corpus
        must not collect an unbounded literal matrix to the driver).
        Both plans must produce bit-identical assignments: same
        driver-folded norms, 6-dp rounding, and (cos, −idx) tie-break."""
        from knetminer_etl_spark.operators.dedup import _cosine_assign_staged

        df = self._emb(spark, n=50)
        cents = [
            list(r["embedding"])
            for r in df.orderBy("vec_id").limit(6).collect()
        ]
        lit = sorted(
            (r["_id"], r["cluster"])
            for r in _cosine_assign_staged(
                df, "vec_id", "embedding", cents, literal_max=10**9
            ).collect()
        )
        joined = sorted(
            (r["_id"], r["cluster"])
            for r in _cosine_assign_staged(
                df, "vec_id", "embedding", cents, literal_max=0
            ).collect()
        )
        arrow = sorted(
            (r["_id"], r["cluster"])
            for r in _cosine_assign_staged(
                df, "vec_id", "embedding", cents,
                literal_max=10**9, dots_max=0,
            ).collect()
        )
        assert lit == joined
        assert lit == arrow  # sequential-fold numpy dots == JVM fold
        assert len({c for _, c in lit}) > 1  # assignments are non-trivial

    def test_incremental_pairs_union_equals_full_banded_run(self, spark):
        """Ingesting the corpus in three batches against a persisted
        semantic_band_rows index must yield, in union, exactly the drop
        set of the full-corpus banded run under the same frozen
        centroids — the prior ∪ incremental == full contract of the
        MinHash incremental path, for embeddings."""
        from pyspark.sql import functions as F

        from knetminer_etl_spark.operators.dedup import (
            incremental_semantic_pairs,
            semantic_band_rows,
            semantic_dedup,
        )

        base = self._emb(spark, n=30)
        twins = base.filter("vec_id < 8").selectExpr(
            "vec_id + 1000 AS vec_id",
            "transform(embedding, x -> x + 0.002) AS embedding",
        )
        corpus = base.unionByName(twins)
        # frozen model state: any fixed centroid list works — use the
        # same md5 draw the batch operator would make
        cents = [
            list(r["embedding"])
            for r in corpus.orderBy(
                F.md5(F.col("vec_id").cast("string")), "vec_id"
            ).limit(4).collect()
        ]
        with mock.patch.object(DD, "SEMANTIC_DIRECT_MAX", 0):
            full_dropped = {
                r["vec_id"]
                for r in semantic_dedup(
                    corpus, threshold=0.95, centroids=cents
                ).collect()
                if not r["keep"]
            }

        batches = [
            corpus.filter("vec_id % 3 = 0"),
            corpus.filter("vec_id % 3 = 1"),
            corpus.filter("vec_id % 3 = 2"),
        ]
        index = None
        pairs = []
        for b in batches:
            old = (
                index
                if index is not None
                else spark.createDataFrame(
                    [], "vec_id long, cluster int, band int, bucket long"
                )
            )
            pairs.extend(
                incremental_semantic_pairs(
                    b, old, corpus, cents, threshold=0.95
                ).collect()
            )
            bands = semantic_band_rows(b, cents)
            index = bands if index is None else index.unionByName(bands)
            index = index.localCheckpoint(eager=True)
        inc_dropped = {r["id_b"] for r in pairs}
        assert inc_dropped == full_dropped
        assert full_dropped  # the planted twins produced drops

        # re-ingestion safety: replaying batch 0 against the full index
        # adds no new pairs beyond what its first arrival produced
        replay = incremental_semantic_pairs(
            batches[0], index, corpus, cents, threshold=0.95
        ).collect()
        seen = {(r["id_a"], r["id_b"]) for r in pairs}
        assert {(r["id_a"], r["id_b"]) for r in replay} <= seen

    def test_auto_n_clusters_scales_with_corpus(self, spark):
        from knetminer_etl_spark.operators.dedup import semantic_dedup

        out = semantic_dedup(self._emb(spark, n=120), n_clusters="auto", threshold=0.95)
        # ⌈√120⌉ floored at 8 → clusters drawn from up to 10 centroids
        n_clusters = out.select("cluster").distinct().count()
        assert n_clusters > 4  # more than the toy constant would allow
        assert all(r["keep"] for r in out.collect())


class TestRepeatedSpanScrub:
    def _scrub(self, spark, rows, k=4):
        from knetminer_etl_spark.operators.dedup import repeated_span_scrub

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in repeated_span_scrub(df, k=k).collect()
        }

    def test_cross_doc_span_removed_first_occurrence_kept(self, spark):
        shared = "alpha beta gamma delta"
        got = self._scrub(
            spark,
            [
                (1, f"one two {shared} three"),
                (2, f"x y z {shared} w"),
            ],
        )
        assert got[1]["clean_text"] == f"one two {shared} three"  # first kept
        assert got[2]["clean_text"] == "x y z w"
        assert got[2]["n_removed"] == 4

    def test_shifted_span_caught_unlike_fixed_chunks(self, spark):
        """The same 4-token run at DIFFERENT offsets — invisible to
        fixed-chunk segment dedup, caught by sliding windows."""
        got = self._scrub(
            spark,
            [
                (1, "p q alpha beta gamma delta"),          # offset 2
                (2, "r alpha beta gamma delta s t"),        # offset 1
            ],
        )
        assert got[1]["n_removed"] == 0
        assert got[2]["clean_text"] == "r s t"

    def test_overlapping_dup_windows_merge_to_one_span(self, spark):
        # 5 shared tokens -> two overlapping dup windows in doc 2; the
        # covered set is their union, not double-removed
        shared = "a b c d e"
        got = self._scrub(spark, [(1, f"{shared} x"), (2, f"y {shared}")])
        assert got[2]["clean_text"] == "y"
        assert got[2]["n_removed"] == 5

    def test_intra_doc_repetition_scrubbed(self, spark):
        got = self._scrub(spark, [(1, "m n o p QQ m n o p")])
        assert got[1]["clean_text"] == "m n o p QQ"
        assert got[1]["n_removed"] == 4

    def test_short_docs_untouched_and_fully_covered_doc_empties(self, spark):
        got = self._scrub(
            spark,
            [(1, "tiny doc"), (2, "a b c d"), (3, "a b c d")],
        )
        assert got[1]["clean_text"] == "tiny doc" and got[1]["n_removed"] == 0
        assert got[2]["clean_text"] == "a b c d"
        assert got[3]["clean_text"] == "" and got[3]["n_removed"] == 4


class TestSemanticDedupKmeans:
    def test_planted_twin_dropped_and_matches_md5_variant_semantics(self, spark):
        import numpy as np

        from knetminer_etl_spark.operators.dedup import semantic_dedup_kmeans

        rng = np.random.default_rng(9)
        rows = []
        for i in range(30):
            v = rng.normal(size=8)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        twins = base.filter("vec_id < 4").selectExpr(
            "vec_id + 1000 AS vec_id",
            "transform(embedding, x -> x + 0.001) AS embedding",
        )
        out = semantic_dedup_kmeans(
            base.unionByName(twins), n_clusters=3, iterations=2, threshold=0.95
        )
        got = {r["vec_id"]: r for r in out.collect()}
        assert len(got) == 34
        for i in range(4):
            assert got[i]["cluster"] == got[i + 1000]["cluster"]
            assert got[i]["keep"] is True and got[i + 1000]["keep"] is False

    def test_clusters_come_from_kmeans_fit(self, spark):
        """The variant's clusters must equal kmeans_fit + assign_clusters
        — the oracle-proven Lloyd recipe, not the md5 draw."""
        import numpy as np

        from knetminer_etl_spark.operators.dedup import semantic_dedup_kmeans
        from knetminer_etl_spark.operators.similarity import (
            assign_clusters,
            kmeans_fit,
        )

        rng = np.random.default_rng(4)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=6)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        out = {r["vec_id"]: r["cluster"]
               for r in semantic_dedup_kmeans(df, n_clusters=4, iterations=3).collect()}
        cents = kmeans_fit(df, 4, 3)
        expect = {r["vec_id"]: r["cluster_id"]
                  for r in assign_clusters(df, cents).collect()}
        assert out == expect
