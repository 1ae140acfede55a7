"""Corpus-preparation queries: deterministic sampling/splitting, quality
filtering, PII redaction, and context-window packing over ``documents``.

These are the dataset-curation steps of an LLM training-data pipeline,
each expressed as narrow Column arithmetic (no shuffle until the final
small aggregate) and each with an exact DuckDB oracle — sampling and
splitting use md5-derived hash buckets that both engines compute
bit-identically (see operators/sampling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import catalog as CAT

from ..operators import contamination as CT
from ..operators import sampling as SP
from ..operators import packing as PK
from ..operators import text as TX


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CAT.read_parquet(spark, f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = "s42"


def doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-hash train/val/test split (80/10/10) of the document corpus,
    summarized per split × source.

    The split is a narrow map (no shuffle) and depends only on
    (doc_id, seed) — stable under reruns, repartitioning, and corpus
    growth, the property that prevents train/test leakage across
    dataset versions. The only shuffle is the final small aggregate.
    """
    docs = SP.hash_split(
        _docs(spark, sf_dir), "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED
    )
    return (
        docs.groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "source")
    )


DOC_SPLIT_COUNTS_SQL = f"""
SELECT split, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT {SP.split_sql("doc_id", _SPLIT_WEIGHTS, _SPLIT_SEED)} AS split, source, n_chars
  FROM documents
)
GROUP BY split, source
ORDER BY split, source
"""


# ---------------------------------------------------------------------------
# Stratified sampling (language rebalancing)
# ---------------------------------------------------------------------------

_STRAT_FRACTIONS = {"en": 0.5, "zh": 1.0, "de": 0.25}
_STRAT_DEFAULT = 0.1
_STRAT_SEED = "strat42"


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (keep 50% en, all zh,
    25% de, 10% of everything else) — the language-rebalancing step of a
    pretraining mix, as one narrow CASE-threshold filter per row.
    """
    kept = SP.stratified_hash_sample(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        _STRAT_FRACTIONS,
        default_fraction=_STRAT_DEFAULT,
        seed=_STRAT_SEED,
    )
    return kept.select("doc_id", "lang", "source").orderBy("doc_id")


def _strat_thresh_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{name}' THEN {int(round(f * SP.N_BUCKETS))}"
        for name, f in _STRAT_FRACTIONS.items()
    )
    return f"CASE {cases} ELSE {int(round(_STRAT_DEFAULT * SP.N_BUCKETS))} END"


DOC_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {SP.bucket_sql("doc_id", _STRAT_SEED)} < ({_strat_thresh_sql()})
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher-style quality-rule filter
# ---------------------------------------------------------------------------


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality audit of every document: which named Gopher-style
    rules it violates and whether it survives the filter."""
    out = TX.quality_rules(_docs(spark, sf_dir).select("doc_id", "text"))
    # fail_reasons is sorted on both sides; join to a flat string so the
    # harness canonicalizer (pandas sort/hash) never sees a list cell.
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join("fail_reasons", "|").alias("fail_reasons"),
        "passes",
    )


_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_SW_HITS_TOTAL = " + ".join(
    f"len(list_filter({_TOKS}, t -> list_contains(["
    + ", ".join(f"'{w}'" for w in words)
    + "], lower(t))))"
    for words in TX.STOPWORDS.values()
)

DOC_QUALITY_FILTER_SQL = f"""
WITH feat AS (
  SELECT doc_id,
         len({_TOKS}) AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\s]', '', 'g')) AS n_nonws,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^\\.,;:!\\?''"()\\[\\]-]', '', 'g')) AS n_punct,
         ({_SW_HITS_TOTAL}) AS sw
  FROM documents
), rules AS (
  SELECT doc_id, n_tokens,
         list_sort(list_filter([
           CASE WHEN n_tokens < 25 THEN 'too_short' END,
           CASE WHEN n_tokens > 500 THEN 'too_long' END,
           CASE WHEN (CASE WHEN n_tokens > 0 THEN n_nonws * 1.0 / n_tokens ELSE 0.0 END) < 2.0
                  OR (CASE WHEN n_tokens > 0 THEN n_nonws * 1.0 / n_tokens ELSE 0.0 END) > 12.0
                THEN 'avg_token_len' END,
           CASE WHEN n_digit * 1.0 / greatest(n_chars, 1) > 0.2 THEN 'digit_soup' END,
           CASE WHEN n_punct * 1.0 / greatest(n_chars, 1) > 0.1 THEN 'punct_soup' END,
           CASE WHEN sw < 2 THEN 'low_stopwords' END
         ], x -> x IS NOT NULL)) AS fail_reasons
  FROM feat
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       coalesce(array_to_string(fail_reasons, '|'), '') AS fail_reasons,
       len(fail_reasons) = 0 AS passes
FROM rules
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def _augmented_text_spark() -> object:
    """documents.text with deterministic synthetic PII appended (the corpus
    itself is PII-free): emails / URLs / phones / IPs derived from doc_id,
    reproduced verbatim by the oracle so redaction parity is exact."""
    d = F.col("doc_id")
    s = d.cast("string")
    return F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(F.lit(" contact user"), s, F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" see https://data.example.org/doc/"), s)).otherwise(F.lit("")),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" call +1 (555) 010-"), F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(F.lit(" host 10.0."), (d % 256).cast("string"), F.lit("."), ((d * 7) % 256).cast("string")),
        ).otherwise(F.lit("")),
    )


def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed PII redaction over the (synthetically PII-augmented) corpus:
    per-type match counts plus an md5 of the fully-redacted text, so the
    oracle checks the exact redacted output, not just the counts."""
    from ..operators.util import fan_out

    # fan_out: the whole query is one 8-regex narrow projection — on the
    # single-file bench input it would run on one task end to end
    docs = fan_out(_docs(spark, sf_dir)).withColumn(
        "aug", _augmented_text_spark()
    )
    counts = TX.pii_counts(F.col("aug"))
    # single-Project form: whole-stage codegen subexpression elimination
    # already shares the progressive replace chain across the count and
    # redaction columns (measured FASTER than staging each stage through
    # its own projection, which just adds operator layers)
    return (
        docs.select(
            "doc_id",
            counts["url"].alias("n_urls"),
            counts["email"].alias("n_emails"),
            counts["ip"].alias("n_ips"),
            counts["phone"].alias("n_phones"),
            F.md5(TX.redact_pii(F.col("aug"))).alias("redacted_md5"),
        )
        .filter("n_urls + n_emails + n_ips + n_phones > 0")
    )


_URL_RE = "https?://\\S+"
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IP_RE = "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}"
_PHONE_RE = "\\+?[0-9][0-9() -]{5,}[0-9]"

DOC_PII_REDACTION_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' see https://data.example.org/doc/' || CAST(doc_id AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
         AS t0
  FROM documents
), s1 AS (
  SELECT doc_id, t0,
         len(regexp_extract_all(t0, '{_URL_RE}', 0)) AS n_urls,
         regexp_replace(t0, '{_URL_RE}', '<URL>', 'g') AS t1
  FROM aug
), s2 AS (
  SELECT *, len(regexp_extract_all(t1, '{_EMAIL_RE}', 0)) AS n_emails,
         regexp_replace(t1, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t2
  FROM s1
), s3 AS (
  SELECT *, len(regexp_extract_all(t2, '{_IP_RE}', 0)) AS n_ips,
         regexp_replace(t2, '{_IP_RE}', '<IP>', 'g') AS t3
  FROM s2
), s4 AS (
  SELECT *, len(regexp_extract_all(t3, '{_PHONE_RE}', 0)) AS n_phones,
         regexp_replace(t3, '{_PHONE_RE}', '<PHONE>', 'g') AS t4
  FROM s3
)
SELECT doc_id, CAST(n_urls AS INT) AS n_urls, CAST(n_emails AS INT) AS n_emails,
       CAST(n_ips AS INT) AS n_ips, CAST(n_phones AS INT) AS n_phones,
       md5(t4) AS redacted_md5
FROM s4
WHERE n_urls + n_emails + n_ips + n_phones > 0
"""


# ---------------------------------------------------------------------------
# Context-window packing
# ---------------------------------------------------------------------------

_PACK_W = 128


def doc_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-stream placement of every document: exclusive
    cumulative token offset in doc_id order and the 128-token training
    windows the document spans. Uses the two-phase distributed scan
    (operators/packing.py) — no single-reducer global window."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", TX.token_count(F.col("text")).cast("int").alias("n_tokens")
    )
    out = PK.with_pack_windows(docs, "doc_id", "n_tokens", _PACK_W)
    # no trailing global sort ON EITHER SIDE: the values are
    # order-defined already (exclusive cumsum in doc_id order), the
    # compare hash is row-order-insensitive, and the SQL twin dropped
    # its ORDER BY in the same change — a presentation orderBy would
    # re-sample and re-exchange the corpus-sized result for nothing
    return out.select(
        "doc_id", "n_tokens", "start_offset", "first_window", "last_window", "n_windows"
    )


DOC_CONTEXT_WINDOWS_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CASE WHEN n_tokens > 0 THEN CAST(floor(start_offset / {_PACK_W}) AS BIGINT) END AS first_window,
       CASE WHEN n_tokens > 0 THEN CAST(floor((start_offset + n_tokens - 1) / {_PACK_W}) AS BIGINT) END AS last_window,
       CAST(CASE WHEN n_tokens > 0
            THEN floor((start_offset + n_tokens - 1) / {_PACK_W}) - floor(start_offset / {_PACK_W}) + 1
            ELSE 0 END AS BIGINT) AS n_windows
FROM c
"""


# ---------------------------------------------------------------------------
# Gopher repetition rules
# ---------------------------------------------------------------------------


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition audit of every document: duplicate line/paragraph
    fractions and repeated-n-gram character fractions with Gopher §A1.1
    thresholds (operators/text.py:repetition_stats)."""
    out = TX.repetition_stats(_docs(spark, sf_dir).select("doc_id", "text"))
    return out.select(
        "doc_id",
        "dup_line_frac",
        "dup_para_frac",
        "dup_line_char_frac",
        "top_2gram_char_frac",
        "top_3gram_char_frac",
        "dup_5gram_char_frac",
        F.array_join("fail_reasons", "|").alias("fail_reasons"),
        "passes",
    )


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def _grams_sql(toks: str, k: int) -> str:
    return (
        f"CASE WHEN len({toks}) < {k} THEN CAST([] AS VARCHAR[]) "
        f"ELSE [array_to_string({toks}[i:i+{k - 1}], ' ') "
        f"for i in generate_series(1, len({toks}) - {k - 1})] END"
    )


def _top_gram_chars_sql(g: str) -> str:
    return (
        f"coalesce(list_max(list_transform(list_distinct({g}), "
        f"g -> len(list_filter({g}, x -> x = g)) * length(replace(g, ' ', '')))), 0)"
    )


def _dup_gram_chars_sql(g: str) -> str:
    return (
        f"coalesce(list_sum(list_transform(list_distinct({g}), "
        f"g -> CASE WHEN len(list_filter({g}, x -> x = g)) > 1 "
        f"THEN len(list_filter({g}, x -> x = g)) * length(replace(g, ' ', '')) "
        f"ELSE 0 END)), 0)"
    )


DOC_REPETITION_STATS_SQL = f"""
WITH staged AS (
  SELECT doc_id,
    list_filter(list_transform(string_split_regex(text, '\\n'), l -> trim(l)),
                l -> l <> '') AS lines,
    list_filter(list_transform(string_split_regex(text, '\\n\\s*\\n'), p -> trim(p)),
                p -> p <> '') AS paras,
    list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id, lines, paras,
    {_grams_sql("toks", 2)} AS g2,
    {_grams_sql("toks", 3)} AS g3,
    {_grams_sql("toks", 5)} AS g5,
    greatest(coalesce(list_sum(list_transform(toks, t -> length(t))), 0), 1) AS wc
  FROM staged
), feats AS (
  SELECT doc_id,
    CASE WHEN len(lines) > 0
         THEN 1 - len(list_distinct(lines)) * 1.0 / len(lines) ELSE 0.0 END
      AS dup_line_frac,
    CASE WHEN len(paras) > 0
         THEN 1 - len(list_distinct(paras)) * 1.0 / len(paras) ELSE 0.0 END
      AS dup_para_frac,
    coalesce(list_sum(list_transform(lines,
        l -> CASE WHEN len(list_filter(lines, x -> x = l)) > 1
             THEN length(l) ELSE 0 END)), 0) * 1.0
      / greatest(coalesce(list_sum(list_transform(lines, l -> length(l))), 0), 1)
      AS dup_line_char_frac,
    {_top_gram_chars_sql("g2")} * 1.0 / wc AS top_2gram_char_frac,
    {_top_gram_chars_sql("g3")} * 1.0 / wc AS top_3gram_char_frac,
    {_dup_gram_chars_sql("g5")} * 1.0 / wc AS dup_5gram_char_frac
  FROM grams
)
SELECT doc_id,
  round(dup_line_frac, 4) AS dup_line_frac,
  round(dup_para_frac, 4) AS dup_para_frac,
  round(dup_line_char_frac, 4) AS dup_line_char_frac,
  round(top_2gram_char_frac, 4) AS top_2gram_char_frac,
  round(top_3gram_char_frac, 4) AS top_3gram_char_frac,
  round(dup_5gram_char_frac, 4) AS dup_5gram_char_frac,
  coalesce(array_to_string(list_sort(list_filter([
    CASE WHEN dup_5gram_char_frac > 0.15 THEN 'dup_5gram_char_frac' END,
    CASE WHEN dup_line_char_frac > 0.20 THEN 'dup_line_char_frac' END,
    CASE WHEN dup_line_frac > 0.30 THEN 'dup_line_frac' END,
    CASE WHEN dup_para_frac > 0.30 THEN 'dup_para_frac' END,
    CASE WHEN top_2gram_char_frac > 0.20 THEN 'top_2gram_char_frac' END,
    CASE WHEN top_3gram_char_frac > 0.18 THEN 'top_3gram_char_frac' END
  ], x -> x IS NOT NULL)), '|'), '') AS fail_reasons,
  len(list_filter([
    CASE WHEN dup_5gram_char_frac > 0.15 THEN 'x' END,
    CASE WHEN dup_line_char_frac > 0.20 THEN 'x' END,
    CASE WHEN dup_line_frac > 0.30 THEN 'x' END,
    CASE WHEN dup_para_frac > 0.30 THEN 'x' END,
    CASE WHEN top_2gram_char_frac > 0.20 THEN 'x' END,
    CASE WHEN top_3gram_char_frac > 0.18 THEN 'x' END
  ], x -> x IS NOT NULL)) = 0 AS passes
FROM feats
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_DECON_N = 4


def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report: training documents (of the deterministic
    80/10/10 split) sharing any word 4-gram with the held-out test split —
    the benchmark-decontamination hygiene step of a pretraining pipeline
    (operators/contamination.py)."""
    docs = SP.hash_split(
        _docs(spark, sf_dir), "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED
    )
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    # no trailing presentation sort ON EITHER SIDE (the SQL twin
    # dropped its ORDER BY too): the compare hash is row-order-
    # insensitive and the report is train-corpus-shaped, so a global
    # orderBy would re-exchange it for display only
    return CT.ngram_contamination(
        train, test, "doc_id", "text", n=_DECON_N
    )


DOC_DECONTAMINATION_SQL = f"""
WITH split AS (
  SELECT doc_id, text,
         {SP.split_sql("doc_id", _SPLIT_WEIGHTS, _SPLIT_SEED)} AS split
  FROM documents
), toks AS (
  SELECT doc_id, split,
         list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS t
  FROM split
), sh AS (
  SELECT doc_id, split,
         CASE WHEN len(t) < {_DECON_N} THEN
                (CASE WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)
              ELSE list_distinct([array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                                  for i in generate_series(1, len(t) - {_DECON_N - 1})])
         END AS sh
  FROM toks
), train_ex AS (
  SELECT doc_id, len(sh) AS total_ngrams, unnest(sh) AS g
  FROM sh WHERE split = 'train'
), test_g AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE split = 'test'
)
SELECT doc_id, count(*) AS n_hits, CAST(any_value(total_ngrams) AS INT) AS total_ngrams,
       round(count(*) * 1.0 / greatest(any_value(total_ngrams), 1), 6) AS contamination
FROM train_ex JOIN test_g USING (g)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


def doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, deterministic
    tie-break) — the keyword-extraction building block
    (operators/text.py:tfidf_top_terms)."""
    # no presentation sort (corpus-sized output, order-insensitive
    # compare hash; the oracle twin drops its ORDER BY symmetrically)
    return TX.tfidf_top_terms(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id", "text", k=3
    )


def doc_tfidf_terms_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`doc_tfidf_terms` with the heavy-term skew split FORCED
    (operators/text.py:tfidf_top_terms, split=True): document frequency
    for the top TFIDF_HEAVY_TERMS terms arrives via a broadcast map (no
    term-keyed redistribution of their tf rows — the 100 TB stop-word
    straggler guard) and only tail terms take the per-term window. Same
    oracle as the auto entry — the hash-match at every scale factor is
    the proof the split changes the physical plan only."""
    return TX.tfidf_top_terms(
        _docs(spark, sf_dir).select("doc_id", "text"),
        "doc_id",
        "text",
        k=3,
        split=True,
    )


DOC_TFIDF_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         tf * (ln((1 + n.n) / (1 + df)) + 1.0) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
       CAST(tf AS INT) AS tf, CAST(df AS INT) AS df,
       round(tfidf, 6) AS tfidf
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Segment-level exact dedup (CCNet paragraph-hash pattern)
# ---------------------------------------------------------------------------


def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide 10-word-segment dedup: only the globally-first
    occurrence of each distinct segment survives; documents are
    reassembled from surviving segments (drops cross-document
    boilerplate, not just whole-document duplicates)."""
    from ..operators import dedup as DD

    return DD.segment_dedup(_docs(spark, sf_dir), chunk_words=10)


DOC_SEGMENT_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
segd AS (
  SELECT doc_id,
         [array_to_string(t[(i-1)*10+1:i*10], ' ')
          for i in generate_series(1, CAST(ceil(len(t)/10.0) AS BIGINT))] AS segs
  FROM nz
),
ex AS (
  SELECT doc_id,
         unnest(generate_series(1, len(segs))) AS pos,
         unnest(segs) AS seg
  FROM segd
),
ranked AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM ex
)
SELECT doc_id,
       coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')
         AS clean_text,
       count(*) AS n_segments,
       count(*) - count(*) FILTER (WHERE rn = 1) AS n_dropped
FROM ranked
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Per-source quota cap
# ---------------------------------------------------------------------------


def doc_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 15 documents per source (the per-domain cap of web-corpus
    curation), chosen by deterministic key-hash priority; returns the
    surviving (doc_id, source) pairs."""
    capped = SP.quota_cap(
        _docs(spark, sf_dir), group_col="source", k=15, key_col="doc_id"
    )
    return capped.select("doc_id", "source")


DOC_SOURCE_QUOTA_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {SP.hash60_sql("doc_id", "quota")}, doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 15
"""


# ---------------------------------------------------------------------------
# RAG-style overlapping chunking
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 32, 24


def doc_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks (window 32, stride 24) per
    document — the retrieval/context-chunking step of a RAG corpus build
    (operators/text.py:chunk_documents). Chunk text is md5'd so the
    result stays compact while still pinning exact content."""
    out = TX.chunk_documents(
        _docs(spark, sf_dir).select("doc_id", "text"),
        window=_CHUNK_W,
        stride=_CHUNK_S,
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


DOC_RAG_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), nz AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), starts AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0,
           CASE WHEN n <= {_CHUNK_W} THEN 0
                ELSE CAST(ceil((n - {_CHUNK_W}) / {_CHUNK_S}.0) AS INT)
           END)) AS chunk_idx
  FROM nz
), ch AS (
  SELECT doc_id, chunk_idx,
         t[chunk_idx * {_CHUNK_S} + 1 :
           least(chunk_idx * {_CHUNK_S} + {_CHUNK_W}, n)] AS c
  FROM starts
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(c) AS INT) AS n_tokens,
       md5(array_to_string(c, ' ')) AS chunk_md5
FROM ch
"""


# ---------------------------------------------------------------------------
# Weighted sampling (A-ES)
# ---------------------------------------------------------------------------


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample: 10 docs per source, inclusion probability
    proportional to n_chars (Efraimidis-Spirtakis u^(1/w) priorities from
    the md5 key hash — deterministic, SQL-reproducible;
    operators/sampling.py:weighted_sample)."""
    out = SP.weighted_sample(
        _docs(spark, sf_dir),
        weight_col="n_chars",
        k=10,
        key_col="doc_id",
        group_col="source",
    )
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


DOC_WEIGHTED_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {SP.weighted_priority_sql("doc_id", "n_chars")} DESC,
                    doc_id
         ) AS rn
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn <= 10
ORDER BY doc_id
"""


QUERIES = {
    "doc_split_counts": doc_split_counts,
    "doc_rag_chunks": doc_rag_chunks,
    "doc_weighted_sample": doc_weighted_sample,
    "doc_segment_dedup": doc_segment_dedup,
    "doc_source_quota": doc_source_quota,
    "doc_stratified_sample": doc_stratified_sample,
    "doc_quality_filter": doc_quality_filter,
    "doc_pii_redaction": doc_pii_redaction,
    "doc_context_windows": doc_context_windows,
    "doc_repetition_stats": doc_repetition_stats,
    "doc_decontamination": doc_decontamination,
    "doc_tfidf_terms": doc_tfidf_terms,
    "doc_tfidf_terms_split": doc_tfidf_terms_split,
}

ORACLES = {
    "doc_split_counts": DOC_SPLIT_COUNTS_SQL,
    "doc_rag_chunks": DOC_RAG_CHUNKS_SQL,
    "doc_weighted_sample": DOC_WEIGHTED_SAMPLE_SQL,
    "doc_segment_dedup": DOC_SEGMENT_DEDUP_SQL,
    "doc_source_quota": DOC_SOURCE_QUOTA_SQL,
    "doc_stratified_sample": DOC_STRATIFIED_SAMPLE_SQL,
    "doc_quality_filter": DOC_QUALITY_FILTER_SQL,
    "doc_pii_redaction": DOC_PII_REDACTION_SQL,
    "doc_context_windows": DOC_CONTEXT_WINDOWS_SQL,
    "doc_repetition_stats": DOC_REPETITION_STATS_SQL,
    "doc_decontamination": DOC_DECONTAMINATION_SQL,
    "doc_tfidf_terms": DOC_TFIDF_TERMS_SQL,
    "doc_tfidf_terms_split": DOC_TFIDF_TERMS_SQL,
}


# ---------------------------------------------------------------------------
# Unigram LM quality scores (CCNet-style LM filter skeleton)
# ---------------------------------------------------------------------------

_LM_VOCAB = 500


def doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean add-one-smoothed unigram log-probability under
    a model trained on the corpus itself (top-500 vocab) — the
    statistical quality score LM filters threshold on
    (operators/lmscore.py). Training is one bounded aggregate; scoring
    broadcast-joins the vocab so the corpus never shuffles."""
    from ..operators import lmscore as LM

    docs = _docs(spark, sf_dir)
    vocab = LM.unigram_train(docs, vocab_size=_LM_VOCAB)
    return LM.lm_score(docs, vocab)


def _lm_sql() -> str:
    from ..operators.lmscore import vocab_sql

    toks = (
        "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
        " x -> x <> '')"
    )
    return f"""
WITH vocab AS ({vocab_sql("text", _LM_VOCAB)}),
tot AS (SELECT sum(n) AS N, count(*) AS V FROM vocab),
toks AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
)
SELECT toks.doc_id,
       CAST(count(*) AS INT) AS n_tokens,
       round(avg(ln((coalesce(vocab.n, 0) + 1.0)
                    / (tot.N + tot.V + 1.0))), 6) AS avg_logprob
FROM toks LEFT JOIN vocab USING (token) CROSS JOIN tot
GROUP BY toks.doc_id
"""


DOC_LM_SCORES_SQL = _lm_sql()

QUERIES.update({"doc_lm_scores": doc_lm_scores})
ORACLES.update({"doc_lm_scores": DOC_LM_SCORES_SQL})


# ---------------------------------------------------------------------------
# BPE merge statistics (tokenizer training)
# ---------------------------------------------------------------------------


def doc_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 first-round BPE pair counts over the corpus (the statistic
    each merge round of tokenizer training maximizes; operators/bpe.py).
    The corpus is scanned once into a word-frequency vocabulary; pair
    counts aggregate over that bounded relation, not the corpus."""
    from ..operators import bpe as B

    docs = _docs(spark, sf_dir)
    return (
        B.pair_counts(B.word_symbol_vocab(docs))
        .orderBy(F.col("pair_count").desc(), "a", "b")
        .limit(20)
    )


DOC_BPE_PAIRS_SQL = f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS s FROM documents),
words AS (
  SELECT unnest(list_filter(string_split(s, ' '), x -> x <> '')) AS w
  FROM norm
),
wf AS (SELECT w, count(*) AS freq FROM words GROUP BY w),
sy AS (
  SELECT freq,
         [CASE WHEN i = length(w) THEN w[i:i] || '▁' ELSE w[i:i] END
          for i in generate_series(1, length(w))] AS s
  FROM wf
),
pr AS (
  SELECT unnest([{{'a': s[i], 'b': s[i+1]}}
                 for i in generate_series(1, len(s) - 1)]) AS p, freq
  FROM sy WHERE len(s) >= 2
)
SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS pair_count
FROM pr GROUP BY 1, 2
ORDER BY pair_count DESC, a, b
LIMIT 20
"""

QUERIES.update({"doc_bpe_pairs": doc_bpe_pairs})
ORACLES.update({"doc_bpe_pairs": DOC_BPE_PAIRS_SQL})


# ---------------------------------------------------------------------------
# Curriculum difficulty bands
# ---------------------------------------------------------------------------


def doc_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum layout statistics: every document's LM quality score
    banded into 10 equal-width difficulty bands (rank-free — no
    global-sort ntile; operators/sampling.difficulty_bands), with
    per-band volume and mean score."""
    from ..operators import lmscore as LM
    from ..operators import sampling as SP2

    docs = _docs(spark, sf_dir)
    vocab = LM.unigram_train(docs, vocab_size=_LM_VOCAB)
    scores = LM.lm_score(docs, vocab)
    banded = SP2.difficulty_bands(scores, "avg_logprob", 10)
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("avg_logprob"), 6).alias("band_avg_logprob"),
        )
        .orderBy("band")
    )


def _curriculum_sql() -> str:
    from ..operators.sampling import difficulty_band_sql

    band = difficulty_band_sql(
        "avg_logprob", "(SELECT mn FROM st)", "(SELECT mx FROM st)", 10
    )
    return f"""
WITH scores AS ({_lm_sql()}),
st AS (SELECT min(avg_logprob) AS mn, max(avg_logprob) AS mx FROM scores)
SELECT {band} AS band, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(avg_logprob), 6) AS band_avg_logprob
FROM scores
GROUP BY 1 ORDER BY band
"""


DOC_CURRICULUM_SQL = _curriculum_sql()

QUERIES.update({"doc_curriculum": doc_curriculum})
ORACLES.update({"doc_curriculum": DOC_CURRICULUM_SQL})


# ---------------------------------------------------------------------------
# The full corpus-cleaning pipeline, end to end
# ---------------------------------------------------------------------------


def doc_pipeline_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production corpus-prep chain run end-to-end, reporting the
    surviving document count after every stage:

      raw → token-count/digit quality gate → exact dedup → near-dup
      dedup (3-shingle Jaccard ≥ 0.5) → deterministic 80/10/10 split
      (train) → benchmark decontamination (4-gram overlap vs the test
      split of the deduped corpus).

    Each stage is a separately-oracled operator; THIS query pins their
    composition — stage inputs are the previous stage's survivors, so
    one value-hash covers the whole flow's plumbing (the judge-me-on-
    the-product query). Output: (stage_no, stage, n_docs)."""
    import hashlib

    from ..operators import contamination as CT2
    from ..operators import dedup as DD2
    from ..operators import sampling as SP3
    from ..operators.text import token_count
    from ..runtime import checkpoint as CK

    docs = _docs(spark, sf_dir)
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    gate = (token_count(F.col("text")) >= 20) & (
        digits / F.greatest(F.length("text"), F.lit(1)) <= 0.2
    )
    # checkpoint the two expensive survivor sets to Parquet: each feeds
    # several later stages AND its own count. Unstaged, the near-dup pair
    # pipeline re-executes once per downstream stage; .cache() avoids that
    # locally but at corpus scale pins the deduped corpus in executor
    # memory, and an eviction silently recomputes the whole near-dup
    # chain — disk-backed staging (the engine's own checkpoint operator)
    # keeps the plan cut per stage regardless of memory pressure.
    # staging_dir gives one stable per-(app, sf_dir) location: repeat
    # invocations overwrite it (no mkdtemp-per-call leak across bench
    # warmups/sweeps) and local roots are removed at interpreter exit.
    ck = CK.staging_dir(
        spark, "doc_pipeline_stages", hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    # the raw/quality/exact/near survivor counts ride the two staging
    # writes as `observe` metrics — a separate counting pass would
    # re-scan documents and re-run the quality gate (regex digit strip +
    # tokenization over every doc) a second time, and at corpus scale
    # "count the stage" must never cost another pass over the stage
    from pyspark.sql import Observation

    obs_raw, obs_q, obs_e = Observation(), Observation(), Observation()
    _n = F.count(F.lit(1)).alias("n")
    # the drop-set side is built from the RAW docs, not the gated ones:
    # the gate is a pure function of text, so every member of an exact-
    # content group passes or fails together — the drop ids restricted
    # to quality survivors are identical either way, and skipping the
    # gate here removes a second full-corpus regex pass from the write
    # job. Keeping the drop side metric-free also means each
    # CollectMetrics appears exactly once in the executed plan (a
    # duplicated observed subtree rests on unspecified duplicate-
    # observation semantics if a future plan executes only one copy).
    drop = DD2.exact_drop_ids(docs)
    # fan_out BEFORE the raw-count observe: on a few-file input the scan
    # is one partition, and with the old shape the gate's tokenization +
    # digit regex (the write job's dominant compute) ran serially on that
    # one task (measured: a 0.36 s single-task write stage at sf0.1).
    # The gate filter cannot be pushed below the fan-out exchange because
    # the CollectMetrics (observe) node sits between them — pushing a
    # predicate through an observation would change its metrics, which
    # Catalyst refuses to do; at real scale the scan arrives well-split
    # and fan_out is a no-op.
    from ..operators.util import fan_out

    quality_seen = (
        fan_out(docs).observe(obs_raw, _n).filter(gate).observe(obs_q, _n)
    )
    exact = quality_seen.join(drop, on="doc_id", how="left_anti").observe(
        obs_e, _n
    )
    # target_partition_bytes=None: the default sizing estimates this
    # filtered scan as sub-file-sized and coalesces to ONE partition —
    # and coalesce is a narrow dependency, so the whole gate+anti-join
    # chain would collapse back onto a single task (undoing the fan_out),
    # and every downstream scan of the staging would read one file
    # serially. The staging inherits the write plan's parallelism
    # instead: this is engine-internal scratch re-read within the same
    # job, not a published table — file-size targets belong to the
    # pipeline's final output, and at corpus scale the write parallelism
    # tracks the input splits (~scan-sized files) anyway.
    CK.save(exact, f"{ck}/exact", target_partition_bytes=None)
    exact = CK.load(f"{ck}/exact", spark)
    n_exact = int(obs_e.get["n"])
    # the exact-survivor count rides the staging write just done — hand
    # it to the size dispatcher so it never runs its own probe job
    cc_stats: dict = {}
    near = DD2.drop_near_dups(
        exact, k=3, threshold=0.5, n_docs=n_exact, _stats=cc_stats
    )
    if cc_stats.get("rounds") == 0:
        # components were solved on the driver (every test/bench scale):
        # `near`'s remaining plan is one scan of the staged exact parquet
        # anti-joined against DRIVER-LOCAL drop ids — the expensive pair
        # pipeline already ran inside the component solver and is not in
        # this plan anymore. Staging `near` to parquet (the distributed-
        # path shape below) would re-write the whole survivor corpus
        # just to save re-scanning it, and the near-survivor count is
        # pure driver arithmetic (exact − non-roots), not a counting
        # pass.
        n_near = n_exact - int(cc_stats["non_root"])
    else:
        # distributed components: the drop relation still hangs off the
        # pinned edge set, so each downstream consumer (train count, two
        # decontamination sides) would redo the drop anti-join shuffle —
        # stage once, count riding the write.
        obs_near = Observation()
        near = near.observe(obs_near, _n)
        CK.save(near, f"{ck}/near")
        near = CK.load(f"{ck}/near", spark)
        n_near = int(obs_near.get["n"])
    split = SP3.hash_split(near, "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED)
    train = split.filter(F.col("split") == "train")
    test = split.filter(F.col("split") == "test")

    # decontaminated count WITHOUT materializing the decontaminated
    # corpus: decontaminate(train, test, max_hits=0) anti-joins train
    # against the flagged ids, and the flagged set is by construction a
    # subset of train's ids (it comes from train's own gram stream), so
    # count(clean) ≡ count(train) − count(flagged). The old tail unioned
    # THREE branches over the staged corpus — train count, train grams
    # (inside the anti-join's build side), and the anti-join's own full
    # train re-scan; the arithmetic form keeps two (count + grams) and
    # deletes the third scan and the anti-join (guide §2.1/§2.4). The
    # flagged count itself is one count_distinct over the gram join —
    # ngram_contamination's `filter(n_hits > 0)` is vacuous at
    # max_hits=0 (a grouped doc has ≥ 1 joined row by construction), so
    # the flagged ids are exactly the distinct doc_ids of the join.
    eval_grams = CT2.distinct_grams(test, "text", _DECON_N)
    t_grams = CT2.gram_rows(train, "text", _DECON_N, "doc_id")
    # Join strategy: UNLIKE the decontaminate() operator — whose eval
    # side is a contractually small benchmark suite and therefore
    # broadcasts — this pipeline's eval side is the TEST SPLIT, a fixed
    # fraction of the corpus. Broadcasting it serializes the two gram
    # tokenization passes (the train side's shingling sits above the
    # broadcast join and cannot start until the eval broadcast is
    # built — measured ~0.9 s + ~0.9 s back-to-back at sf0.1) and stops
    # scaling outright once the split outgrows the broadcast cap. A
    # sort-merge join lets AQE run both gram map stages CONCURRENTLY
    # (guide §2.6 — the map sides are independent query stages) and
    # shuffles grams, which scales with the corpus. A bloom prune of the
    # train grams before that shuffle lost to this plain merge join on
    # the 100× corpus (SCALE.md), so there is one plan at every size.
    flagged = t_grams.join(eval_grams.hint("merge"), "gram")
    # the subtraction needs doc_id unique in train; doc_id comes from the
    # input table, so the tail aggregate checks it instead of trusting it
    tf = train.agg(
        F.when(
            F.count("*") == F.count_distinct("doc_id"), F.count("*")
        ).otherwise(
            F.raise_error(F.lit("doc_pipeline_stages: doc_id is not unique"))
        ).alias("_nt")
    ).crossJoin(flagged.agg(F.count_distinct("doc_id").alias("_nf")))
    tail = tf.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(4).cast("int").alias("stage_no"),
                    F.lit("train_split").alias("stage"),
                    F.col("_nt").cast("long").alias("n_docs"),
                ),
                F.struct(
                    F.lit(5).cast("int").alias("stage_no"),
                    F.lit("decontaminated").alias("stage"),
                    (F.col("_nt") - F.col("_nf")).cast("long").alias("n_docs"),
                ),
            )
        ).alias("_s")
    ).select("_s.*")

    observed = [
        (0, "raw", obs_raw.get["n"]),
        (1, "quality", obs_q.get["n"]),
        (2, "exact_dedup", n_exact),
        (3, "near_dedup", n_near),
    ]
    counts = spark.createDataFrame(
        observed, "stage_no int, stage string, n_docs long"
    )
    return counts.unionByName(tail).orderBy("stage_no")


DOC_PIPELINE_SQL = f"""
WITH RECURSIVE
quality AS (
  SELECT doc_id, text FROM documents
  WHERE len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) >= 20
    AND length(regexp_replace(text, '[^0-9]', '', 'g'))
        / greatest(length(text), 1) <= 0.2
),
exact AS (
  SELECT d.doc_id, d.text
  FROM quality d
  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep FROM quality GROUP BY 1) k
    ON md5(d.text) = k.h AND d.doc_id = k.keep
),
norm2 AS (SELECT doc_id, {_NORM_SQL} AS s FROM exact),
toks2 AS (SELECT doc_id, list_filter(string_split(s, ' '), x -> x <> '') AS t FROM norm2),
sh2 AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN
                (CASE WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)
              ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in generate_series(1, len(t) - 2)])
         END AS sh
  FROM toks2
),
ex2 AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh2),
jp AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
           count(*) AS inter
    FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
  ) p WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5
),
ged AS (SELECT id_a AS src, id_b AS dst FROM jp UNION SELECT id_b, id_a FROM jp),
walk2(id, comp) AS (
  SELECT doc_id, doc_id FROM exact
  UNION
  SELECT e.dst, w.comp FROM walk2 w JOIN ged e ON e.src = w.id
),
lab AS (SELECT id, min(comp) AS component FROM walk2 GROUP BY id),
near AS (
  SELECT d.doc_id, d.text FROM exact d
  JOIN lab ON lab.id = d.doc_id AND lab.component = d.doc_id
),
split AS (
  SELECT doc_id, text,
         {SP.split_sql("doc_id", _SPLIT_WEIGHTS, _SPLIT_SEED)} AS split
  FROM near
),
tr AS (SELECT doc_id, text FROM split WHERE split = 'train'),
te AS (SELECT doc_id, text FROM split WHERE split = 'test'),
trt AS (SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS t
        FROM tr),
tet AS (SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS t
        FROM te),
trg AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) < {_DECON_N} THEN
           (CASE WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)
         ELSE list_distinct([array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                             for i in generate_series(1, len(t) - {_DECON_N - 1})])
    END) AS g
  FROM trt
),
teg AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(t) < {_DECON_N} THEN
           (CASE WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)
         ELSE list_distinct([array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                             for i in generate_series(1, len(t) - {_DECON_N - 1})])
    END) AS g
  FROM tet
),
flagged AS (SELECT DISTINCT trg.doc_id FROM trg JOIN teg USING (g)),
clean AS (SELECT doc_id FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM flagged))
SELECT * FROM (
  SELECT 0 AS stage_no, 'raw' AS stage, count(*) AS n_docs FROM documents
  UNION ALL SELECT 1, 'quality', count(*) FROM quality
  UNION ALL SELECT 2, 'exact_dedup', count(*) FROM exact
  UNION ALL SELECT 3, 'near_dedup', count(*) FROM near
  UNION ALL SELECT 4, 'train_split', count(*) FROM tr
  UNION ALL SELECT 5, 'decontaminated', count(*) FROM clean
) ORDER BY stage_no
"""

QUERIES.update({"doc_pipeline_stages": doc_pipeline_stages})
ORACLES.update({"doc_pipeline_stages": DOC_PIPELINE_SQL})


# ---------------------------------------------------------------------------
# Bigram LM quality scores
# ---------------------------------------------------------------------------


def doc_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean add-one-smoothed bigram conditional
    log-probability under tables trained on the corpus itself (top-500
    unigram vocab, top-2000 bigram table) — the higher-order LM filter
    (operators/lmscore.bigram_*)."""
    from ..operators import lmscore as LM

    docs = _docs(spark, sf_dir)
    uni = LM.unigram_train(docs, vocab_size=_LM_VOCAB)
    bi = LM.bigram_train(docs, table_size=2000)
    return LM.bigram_score(docs, uni, bi)


def _bigram_lm_sql() -> str:
    from ..operators.lmscore import bigram_sql, vocab_sql

    toks = (
        "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
        " x -> x <> '')"
    )
    return f"""
WITH vocab AS ({vocab_sql("text", _LM_VOCAB)}),
bi AS ({bigram_sql("text", 2000)}),
vtot AS (SELECT count(*) AS V FROM vocab),
dp AS (
  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2
  FROM (
    SELECT doc_id, unnest([{{'w1': t[i], 'w2': t[i+1]}}
                           for i in generate_series(1, len(t) - 1)]) AS p
    FROM (SELECT doc_id, {toks} AS t FROM documents) WHERE len(t) >= 2
  )
)
SELECT dp.doc_id,
       CAST(count(*) AS INT) AS n_bigrams,
       round(avg(ln((coalesce(bi.n, 0) + 1.0)
                    / (coalesce(vocab.n, 0) + vtot.V + 1.0))), 6)
         AS avg_logprob
FROM dp
LEFT JOIN bi ON bi.w1 = dp.w1 AND bi.w2 = dp.w2
LEFT JOIN vocab ON vocab.token = dp.w1
CROSS JOIN vtot
GROUP BY dp.doc_id
"""


DOC_BIGRAM_LM_SQL = _bigram_lm_sql()

QUERIES.update({"doc_bigram_lm_scores": doc_bigram_lm_scores})
ORACLES.update({"doc_bigram_lm_scores": DOC_BIGRAM_LM_SQL})
