from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import text as TX


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog."),
        (2, "the the the a a of and to in is"),  # stopword soup
        (3, "12345 67890 11111"),  # digit soup
        (4, ""),  # empty
        (5, "Der Hund ist nicht ein Tier und das ist gut."),  # German-ish
        (6, "  spaced   out\ttokens \n here  "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestStats:
    def test_token_count_handles_whitespace(self, spark, docs):
        got = {
            r["doc_id"]: r["n_tokens"]
            for r in TX.text_stats(docs).select("doc_id", "n_tokens").collect()
        }
        assert got[1] == 9
        assert got[4] == 0
        assert got[6] == 4

    def test_quality_orders_sensibly(self, spark, docs):
        got = {
            r["doc_id"]: r["quality_score"]
            for r in TX.text_stats(docs).select("doc_id", "quality_score").collect()
        }
        assert got[1] > got[3]  # real sentence beats digit soup
        assert got[4] == 0.0

    def test_bpe_ish_counts_exceed_whitespace_for_long_words(self, spark):
        df = spark.createDataFrame(
            [(1, "internationalization compartmentalization")], "id long, text string"
        )
        got = df.select(
            TX.token_count(F.col("text")).alias("ws"),
            TX.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).first()
        assert got["bpe"] > got["ws"]


class TestLanguageId:
    def test_en_and_de_detected(self, spark, docs):
        got = {
            r["doc_id"]: r["lang_pred"]
            for r in TX.language_id(docs).collect()
        }
        assert got[1] == "en"
        assert got[5] == "de"
        assert got[3] == "und"

    def test_cjk_rule(self, spark):
        df = spark.createDataFrame([(1, "这是一个中文句子")], "id long, text string")
        assert TX.language_id(df).first()["lang_pred"] == "zh"


class TestShingles:
    def test_word_shingles(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
        got = df.select(TX.word_shingles(F.col("text"), 3).alias("s")).first()["s"]
        assert sorted(got) == ["a b c", "b c d"]

    def test_short_doc_single_shingle(self, spark):
        df = spark.createDataFrame([(1, "a b")], "id long, text string")
        got = df.select(TX.word_shingles(F.col("text"), 3).alias("s")).first()["s"]
        assert got == ["a b"]

    def test_normalize_strips_punct_case(self, spark):
        df = spark.createDataFrame([(1, "  Hello,   WORLD!! ")], "id long, text string")
        got = df.select(TX.normalize_text(F.col("text")).alias("s")).first()["s"]
        assert got == "hello world"

    def test_fingerprint_ignores_formatting(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, World!"), (2, "hello   world"), (3, "other text")],
            "id long, text string",
        )
        fps = [
            r["fp"]
            for r in df.select(TX.fingerprint64(F.col("text")).alias("fp"))
            .orderBy("id")
            .collect()
        ]
        assert fps[0] == fps[1] != fps[2]


class TestQualityRules:
    def test_rules_and_reasons(self, spark):
        long_good = " ".join(["the quick brown fox and a dog"] * 5)  # 35 toks, stopwords
        df = spark.createDataFrame(
            [
                (1, long_good),
                (2, "tiny doc"),  # too_short + low_stopwords
                (3, " ".join(["12345 678 90"] * 12)),  # digit_soup (+ low_stopwords)
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in TX.quality_rules(df).collect()}
        assert rows[1]["passes"] and rows[1]["fail_reasons"] == []
        assert not rows[2]["passes"]
        assert "too_short" in rows[2]["fail_reasons"]
        assert "digit_soup" in rows[3]["fail_reasons"]

    def test_quality_filter_keeps_schema(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        out = TX.quality_filter(df)
        assert out.columns == ["doc_id", "text"]
        assert out.count() == 0  # the one doc fails


class TestRedactPII:
    def test_redaction_and_counts(self, spark):
        txt = "mail a@b.com or visit https://x.org/y?z=1 call +1 (555) 010-1234 ip 10.0.0.1 end"
        df = spark.createDataFrame([(1, txt)], "id long, text string")
        cnt = TX.pii_counts(F.col("text"))
        row = df.select(
            TX.redact_pii(F.col("text")).alias("red"),
            cnt["url"].alias("u"), cnt["email"].alias("e"),
            cnt["ip"].alias("i"), cnt["phone"].alias("p"),
        ).first()
        assert row["u"] == 1 and row["e"] == 1 and row["i"] == 1 and row["p"] == 1
        assert row["red"] == "mail <EMAIL> or visit <URL> call <PHONE> ip <IP> end"

    def test_url_embedded_email_counts_once(self, spark):
        df = spark.createDataFrame(
            [(1, "see https://x.org/mail/a@b.com only")], "id long, text string"
        )
        cnt = TX.pii_counts(F.col("text"))
        row = df.select(cnt["url"].alias("u"), cnt["email"].alias("e")).first()
        assert row["u"] == 1 and row["e"] == 0


class TestRepetition:
    def test_dup_line_fraction(self, spark):
        txt = "same line\nsame line\nother line\n\nsame line"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        row = TX.repetition_stats(df).first()
        # 4 non-empty lines, 2 distinct -> dup fraction 0.5
        assert row["dup_line_frac"] == 0.5
        # duplicated line "same line" covers 27 of 37 line chars
        assert row["dup_line_char_frac"] == round(27 / 37, 4)
        assert "dup_line_frac" in row["fail_reasons"]
        assert not row["passes"]

    def test_paragraph_fraction_counts_blocks(self, spark):
        txt = "para one\n\npara one\n\npara two"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        row = TX.repetition_stats(df).first()
        assert row["dup_para_frac"] == round(1 - 2 / 3, 4)

    def test_top_2gram_fraction(self, spark):
        # "ab cd" twice among 4 bigram slots; word chars = 10
        txt = "ab cd ab cd xy"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        row = TX.repetition_stats(df).first()
        # top bigram "ab cd": count 2 x 4 chars = 8 of 10 word chars
        assert row["top_2gram_char_frac"] == 0.8
        assert "top_2gram_char_frac" in row["fail_reasons"]

    def test_dup_5gram_fraction_zero_when_unique(self, spark):
        txt = "a b c d e f g h i j"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        row = TX.repetition_stats(df).first()
        assert row["dup_5gram_char_frac"] == 0.0

    def test_clean_doc_passes_and_filter_keeps_schema(self, spark):
        # long enough that no single bigram dominates the char mass
        clean = " ".join(f"word{i} item{i}" for i in range(30))
        spam = " ".join(["buy now"] * 30)
        df = spark.createDataFrame(
            [(1, clean), (2, spam)], "doc_id long, text string"
        )
        stats = {r["doc_id"]: r for r in TX.repetition_stats(df).collect()}
        assert stats[1]["passes"]
        assert not stats[2]["passes"]
        kept = TX.repetition_filter(df)
        assert kept.columns == ["doc_id", "text"]
        assert [r["doc_id"] for r in kept.collect()] == [1]

    def test_empty_text_is_all_zero(self, spark):
        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        row = TX.repetition_stats(df).first()
        assert row["dup_line_frac"] == 0.0
        assert row["top_2gram_char_frac"] == 0.0
        assert row["passes"]


class TestTfIdf:
    def test_scores_and_ranks(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date")],
            "doc_id long, text string",
        )
        rows = TX.tfidf_top_terms(df, k=2).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
        assert [r["term"] for r in by_doc[1]] == ["apple", "banana"]
        apple = by_doc[1][0]
        assert apple["tf"] == 2 and apple["df"] == 1
        assert apple["tfidf"] == round(2 * (math.log(4 / 2) + 1.0), 6)

    def test_tie_breaks_lexicographically(self, spark):
        df = spark.createDataFrame(
            [(1, "zebra apple"), (2, "zebra apple")], "doc_id long, text string"
        )
        rows = TX.tfidf_top_terms(df, k=2).collect()
        for doc in (1, 2):
            terms = [r["term"] for r in rows if r["doc_id"] == doc]
            assert terms == ["apple", "zebra"]


class TestContamination:
    def test_planted_overlap_found(self, spark):
        from knetminer_etl_spark.operators import contamination as CT

        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven"),
                (3, "totally different words entirely here now"),
            ],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [(100, "xx alpha beta gamma delta yy")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in
               CT.ngram_contamination(train, test, n=4).collect()}
        assert list(out) == [1]
        assert out[1]["n_hits"] == 1  # "alpha beta gamma delta"
        assert out[1]["total_ngrams"] == 3
        assert out[1]["contamination"] == round(1 / 3, 6)

    def test_exact_join_builds_on_the_eval_side(self, spark):
        """The exact contamination join must hash/broadcast the EVAL
        gram set, never the train gram stream: the planner's static
        size estimate under the train-side explode once picked
        BuildLeft — locally 1.6x slower, an out-of-memory shape at
        corpus scale. Parquet inputs so scan statistics flow exactly as
        in production."""
        from knetminer_etl_spark.operators import contamination as CT

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        train = docs.filter("doc_id % 10 < 8")
        test = docs.filter("doc_id % 10 = 9")
        out = CT.ngram_contamination(train, test, n=4)
        out.count()  # finalize the adaptive plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        joins = [
            line for line in plan.splitlines() if "BroadcastHashJoin" in line
        ]
        assert joins, f"expected a broadcast join in:\n{plan[:1500]}"
        # the stream (train) side carries total_ngrams; a BuildLeft on
        # this join would hash the corpus-sized relation
        assert all("BuildRight" in line for line in joins), joins

    def test_decontaminate_drops_flagged(self, spark):
        from knetminer_etl_spark.operators import contamination as CT

        train = spark.createDataFrame(
            [(1, "a b c d e"), (2, "p q r s t")], "doc_id long, text string"
        )
        test = spark.createDataFrame([(9, "zz a b c d zz")], "doc_id long, text string")
        kept = CT.decontaminate(train, test, n=4)
        assert [r["doc_id"] for r in kept.collect()] == [2]
        assert kept.columns == ["doc_id", "text"]

    def test_decontaminate_drops_what_the_report_flags(self, spark):
        """``decontaminate`` keeps exactly the training documents whose
        ``ngram_contamination`` hit count is at most ``max_hits``."""
        from knetminer_etl_spark.operators import contamination as CT

        train = spark.createDataFrame(
            [
                (1, "a b c d q"),  # one shared 4-gram
                (2, "a b c d e"),  # two shared 4-grams
                (3, "p q r s t"),  # none
                (4, "x a b c d y b c d e f"),  # three, apart
            ],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [(9, "zz a b c d e f zz")], "doc_id long, text string"
        )
        hits = {
            r["doc_id"]: r["n_hits"]
            for r in CT.ngram_contamination(train, test, n=4).collect()
        }
        assert hits == {1: 1, 2: 2, 4: 3}
        for max_hits in (0, 1, 2, 3):
            kept = sorted(
                r["doc_id"]
                for r in CT.decontaminate(
                    train, test, n=4, max_hits=max_hits
                ).collect()
            )
            assert kept == sorted(
                d for d in (1, 2, 3, 4) if hits.get(d, 0) <= max_hits
            )

    def test_short_doc_whole_text_gram(self, spark):
        from knetminer_etl_spark.operators import contamination as CT

        train = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
        test = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
        out = CT.ngram_contamination(train, test, n=8).collect()
        assert len(out) == 1 and out[0]["n_hits"] == 1

    def test_semantic_contamination_catches_paraphrase_leak(self, spark):
        """An eval item that shares NO n-gram with a train item but sits
        at cosine ≈ 1 must be flagged by the semantic pass and missed by
        the lexical one — the reason both exist."""
        import numpy as np

        from knetminer_etl_spark.operators import contamination as CT

        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(4, 8))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        train = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        # eval = a lightly-perturbed copy of train vector 2 + an
        # unrelated vector
        leak = vecs[2] + 0.01 * rng.normal(size=8)
        other = rng.normal(size=8)
        test = spark.createDataFrame(
            [
                (100, [float(x) for x in leak / np.linalg.norm(leak)]),
                (101, [float(x) for x in other / np.linalg.norm(other)]),
            ],
            "vec_id long, embedding array<double>",
        )
        out = {
            r["vec_id"]: r
            for r in CT.semantic_contamination(
                train, test, threshold=0.95
            ).collect()
        }
        assert len(out) == 4  # one row per train vector
        assert out[2]["contaminated"] is True
        assert out[2]["max_test_cos"] >= 0.99
        for i in (0, 1, 3):
            assert out[i]["contaminated"] is False
        kept = CT.semantic_decontaminate(train, test, threshold=0.95)
        assert sorted(r["vec_id"] for r in kept.collect()) == [0, 1, 3]
        assert kept.columns == ["vec_id", "embedding"]

    def test_banded_decontaminate_equals_brute_force(self, spark):
        """The sign-LSH candidate-blocked survivor set must equal brute
        force on a corpus with planted leaks of varying tightness (the
        per-pair band-miss probability at cos >= 0.95 is ~2e-8 — a
        mismatch here means a real defect, not bad luck)."""
        import numpy as np

        from knetminer_etl_spark.operators import contamination as CT

        rng = np.random.default_rng(23)
        base = rng.normal(size=(30, 16))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        train = spark.createDataFrame(
            [(i, [float(x) for x in base[i]]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        test_rows = []
        for j, (src, eps) in enumerate([(3, 0.01), (7, 0.05), (11, 0.3)]):
            v = base[src] + eps * rng.normal(size=16)
            v /= np.linalg.norm(v)
            test_rows.append((100 + j, [float(x) for x in v]))
        test_rows.append((200, [float(x) for x in rng.normal(size=16)]))
        test = spark.createDataFrame(
            test_rows, "vec_id long, embedding array<double>"
        )
        # |test| = 4 is under the brute crossover: the default entry
        # runs the exact nested-loop filter
        brute = sorted(
            r["vec_id"]
            for r in CT.semantic_decontaminate(
                train, test, threshold=0.95
            ).collect()
        )
        banded = sorted(
            r["vec_id"]
            for r in CT.semantic_decontaminate_banded(
                train, test, threshold=0.95
            ).collect()
        )
        assert banded == brute
        assert len(brute) < 30  # at least one tight leak was dropped

        # one band of one plane has real miss probability at mid-tight
        # leaks, so only subset containment is guaranteed there
        one_band = sorted(
            r["vec_id"]
            for r in CT.semantic_decontaminate_banded(
                train, test, threshold=0.95, n_planes=1, n_bands=1,
            ).collect()
        )
        assert set(brute) <= set(one_band)


class TestChunkDocuments:
    def _df(self, spark, text):
        return spark.createDataFrame([(1, text)], "doc_id int, text string")

    def test_window_stride_boundaries(self, spark):
        from knetminer_etl_spark.operators.text import chunk_documents

        text = " ".join(f"t{i}" for i in range(11))  # 11 tokens
        got = chunk_documents(
            self._df(spark, text), window=4, stride=3
        ).collect()
        # starts 0,3,6,9 -> last chunk is the 2-token tail
        assert [(r["chunk_idx"], r["n_tokens"], r["chunk_text"]) for r in got] == [
            (0, 4, "t0 t1 t2 t3"),
            (1, 4, "t3 t4 t5 t6"),
            (2, 4, "t6 t7 t8 t9"),
            (3, 2, "t9 t10"),
        ]

    def test_short_doc_single_chunk(self, spark):
        from knetminer_etl_spark.operators.text import chunk_documents

        got = chunk_documents(
            self._df(spark, "a b c"), window=10, stride=5
        ).collect()
        assert [(r["chunk_idx"], r["n_tokens"], r["chunk_text"]) for r in got] == [
            (0, 3, "a b c")
        ]

    def test_empty_doc_yields_no_chunks(self, spark):
        from knetminer_etl_spark.operators.text import chunk_documents

        assert (
            chunk_documents(self._df(spark, "   "), window=4, stride=3).count()
            == 0
        )

    def test_chunking_is_a_narrow_map(self, spark):
        """No Exchange in the plan — chunking must run at scan speed."""
        from knetminer_etl_spark.operators.text import chunk_documents

        plan = (
            chunk_documents(self._df(spark, "a b c"), window=2, stride=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_invalid_params_raise(self, spark):
        from knetminer_etl_spark.operators.text import chunk_documents

        with pytest.raises(ValueError):
            chunk_documents(self._df(spark, "a"), window=0, stride=1)
        with pytest.raises(ValueError):
            chunk_documents(self._df(spark, "a"), window=4, stride=0)


def test_with_pii_redaction_matches_column_form(spark):
    """The staged DataFrame helper and the Column-level pii_counts /
    redact_pii combination must agree exactly."""
    from knetminer_etl_spark.operators.text import (
        pii_counts,
        redact_pii,
        with_pii_redaction,
    )

    rows = [
        (1, "mail me at a.b@example.com or http://x.io/a?b=1 now"),
        (2, "server 10.0.0.1 called +1 (555) 123-4567 twice"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r["id"]: (r["n_url"], r["n_email"], r["n_ip"], r["n_phone"], r["redacted"])
        for r in with_pii_redaction(df).collect()
    }
    counts = pii_counts(F.col("text"))
    want = {
        r["id"]: (r["u"], r["e"], r["i"], r["p"], r["r"])
        for r in df.select(
            "id",
            counts["url"].alias("u"),
            counts["email"].alias("e"),
            counts["ip"].alias("i"),
            counts["phone"].alias("p"),
            redact_pii(F.col("text")).alias("r"),
        ).collect()
    }
    assert got == want
    assert "<EMAIL>" in got[1][4] and "<URL>" in got[1][4]
    assert "<IP>" in got[2][4] and "<PHONE>" in got[2][4]


class TestHtmlExtract:
    def _run(self, spark, html: str) -> str:
        from knetminer_etl_spark.operators.text import html_extract

        df = spark.createDataFrame([(html,)], "h string")
        return df.select(html_extract(F.col("h")).alias("c")).first()["c"]

    def test_strips_script_style_comments_wholesale(self, spark):
        got = self._run(
            spark,
            '<html><head><style>p{a:1}</style><script>if(1<2){x("</p>")}'
            "</script></head><body><!-- note --><p>Hello world</p></body></html>",
        )
        assert got == "Hello world"

    def test_block_tags_become_paragraph_breaks(self, spark):
        got = self._run(
            spark, "<div>one</div><p>two</p><h2>three</h2>four<br>five"
        )
        assert got == "one\ntwo\nthree\nfour\nfive"

    def test_entities_unescape_amp_last(self, spark):
        got = self._run(spark, "<p>a &lt;b&gt; &amp;lt; c&nbsp;&amp; d</p>")
        # &amp;lt; must become the literal "&lt;", not "<"
        assert got == "a <b> &lt; c & d"

    def test_escape_extract_round_trip(self, spark):
        from knetminer_etl_spark.operators.text import html_escape

        text = 'x < y && z > "w" or \'q\''
        df = spark.createDataFrame([(text,)], "t string")
        esc = df.select(
            F.concat(F.lit("<p>"), html_escape(F.col("t")), F.lit("</p>")).alias("h")
        ).first()["h"]
        assert self._run(spark, esc) == text

    def test_whitespace_collapse_keeps_paragraph_break(self, spark):
        # horizontal runs collapse; the blank-line run collapses to ONE
        # blank line (paragraph structure survives for segment dedup)
        got = self._run(spark, "<p>a   b\t c</p>\n\n\n<p>d</p>")
        assert got == "a b c\n\nd"
