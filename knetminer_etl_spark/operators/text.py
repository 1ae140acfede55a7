"""Text-analysis operators for large-scale document pipelines.

All hot-path logic is native Column expressions (JVM, codegen) — no Python
UDFs: tokenization is `split`, ratios are `length`-arithmetic, language ID
is stopword-hit scoring over higher-order array functions. Everything is a
narrow per-row map: no shuffle, scales linearly with partitions.

These extend the reference's surface (north-star extensions per
BASELINE.json); the reference itself has no text operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import fan_out

# Small built-in stopword lists (top function words) for the n-gram/stopword
# language heuristic. Deliberately tiny — language ID here is a cheap
# pipeline signal, not a model.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
}

_WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties removed (leading/trailing safe)."""
    return F.filter(F.split(F.trim(col), _WS), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-ish proxy token count: word-pieces + digits + punctuation
    counted separately (regex segmentation, JVM-side). Tracks how LLM
    tokenizers segment far better than whitespace counting."""
    pieces = F.filter(
        F.split(col, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
        lambda t: (t != F.lit("")) & (t != F.lit(" ")),
    )
    # long words cost extra subword pieces: ceil(len/4) heuristic per piece
    return F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, t: acc + F.greatest(F.lit(1), F.ceil(F.length(t) / 4).cast("int")),
    )


def stopword_hits(col: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str | None = None
) -> DataFrame:
    """Per-document statistics: counts + ratio features + a quality score.

    Quality scoring follows the usual pretraining-filter recipe (length,
    punctuation balance, stopword presence, digit/upper noise): each
    feature in [0,1], combined multiplicatively.
    """
    df = fan_out(df)
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = tokens(c)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[^\.,;:!\?'\"()\[\]-]", ""))
    n_upper = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    n_ws = F.length(F.regexp_replace(c, r"[^\s]", ""))
    avg_tok = F.when(n_tokens > 0, (n_chars - n_ws) / n_tokens).otherwise(F.lit(0.0))
    sw = sum((stopword_hits(c, lg) for lg in STOPWORDS), F.lit(0))
    stopword_ratio = F.when(n_tokens > 0, sw / n_tokens).otherwise(F.lit(0.0))

    denom = F.greatest(n_chars, F.lit(1))
    quality = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0))  # long enough
        * (1 - F.least(n_digit / denom * 5, F.lit(1.0)))  # not digit soup
        * (1 - F.least(n_punct / denom * 10, F.lit(1.0)))  # not punct soup
        * (1 - F.least(n_upper / F.greatest(n_alpha, F.lit(1)) * 3, F.lit(1.0)))
        * F.least(F.lit(0.2) + stopword_ratio * 4, F.lit(1.0))
    )

    out = df.withColumns(
        {
            "n_chars": n_chars.cast("int"),
            "n_tokens": n_tokens.cast("int"),
            "n_alpha": n_alpha.cast("int"),
            "n_digits": n_digit.cast("int"),
            "n_punct": n_punct.cast("int"),
            "avg_token_len": F.round(avg_tok, 4),
            "stopword_ratio": F.round(stopword_ratio, 4),
            "quality_score": F.round(quality, 4),
        }
    )
    return out


def language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Heuristic language ID: stopword-hit scoring per language + a CJK
    character-ratio rule. Deterministic argmax with lexicographic
    tie-break; ``und`` when nothing scores."""
    df = fan_out(df)
    c = F.col(text_col)
    cjk = F.length(F.regexp_replace(c, r"[^一-鿿]", ""))
    langs = sorted(STOPWORDS)
    # max by (score, tiebreak): tiebreak decreases alphabetically, so ties
    # resolve to the alphabetically-first language — deterministic.
    scores = F.array(
        *[
            F.struct(
                stopword_hits(c, lg).alias("score"),
                F.lit(len(langs) - i).alias("tiebreak"),
                F.lit(lg).alias("lang"),
            )
            for i, lg in enumerate(langs)
        ]
    )
    best = F.array_max(scores)
    pred = (
        F.when(cjk * 2 > F.length(c), F.lit("zh"))
        .when(best["score"] > 0, best["lang"])
        .otherwise(F.lit("und"))
    )
    return df.withColumn(out_col, pred)


def quality_rules(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 25,
    max_tokens: int = 500,
    min_avg_token: float = 2.0,
    max_avg_token: float = 12.0,
    max_digit_ratio: float = 0.2,
    max_punct_ratio: float = 0.1,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1):
    explicit named rules instead of one opaque score, so curation
    decisions are auditable.

    Adds ``n_tokens``, ``fail_reasons`` (sorted array of the rule names
    the document violates) and ``passes``. All rules are per-row Column
    arithmetic — a narrow map, no shuffle; at 100 TB the filter runs at
    scan speed and downstream operators see only survivors.
    """
    df = fan_out(df)
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = tokens(c)
    n_tokens = F.size(toks)
    n_ws = F.length(F.regexp_replace(c, r"[^\s]", ""))
    avg_tok = F.when(n_tokens > 0, (n_chars - n_ws) / n_tokens).otherwise(F.lit(0.0))
    n_digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[^\.,;:!\?'\"()\[\]-]", ""))
    denom = F.greatest(n_chars, F.lit(1))
    sw = sum((stopword_hits(c, lg) for lg in STOPWORDS), F.lit(0))

    rules: list[tuple[str, Column]] = [
        ("too_short", n_tokens < min_tokens),
        ("too_long", n_tokens > max_tokens),
        ("avg_token_len", (avg_tok < min_avg_token) | (avg_tok > max_avg_token)),
        ("digit_soup", n_digit / denom > max_digit_ratio),
        ("punct_soup", n_punct / denom > max_punct_ratio),
        ("low_stopwords", sw < min_stopword_hits),
    ]
    reasons = F.array_sort(
        F.array_compact(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in rules])
        )
    )
    # `passes` references the computed fail_reasons column instead of a
    # second copy of the `reasons` tree, so the rule conditions (each a
    # regex/tokenize pass over the text) evaluate once per row.
    return df.withColumns(
        {
            "n_tokens": n_tokens.cast("int"),
            "fail_reasons": reasons,
        }
    ).withColumn("passes", F.size(F.col("fail_reasons")) == 0)


def quality_filter(df: DataFrame, text_col: str = "text", **thresholds) -> DataFrame:
    """Keep only documents passing every :func:`quality_rules` rule."""
    cols = df.columns
    return quality_rules(df, text_col, **thresholds).filter("passes").select(*cols)


#: how many of the heaviest terms (by document frequency) bypass the
#: per-term window via a broadcast df map — bounds BOTH sides of the
#: TF-IDF skew split: the broadcast carries ≤ this many (term, df)
#: rows, and every tail window partition is ≤ the (N+1)-th largest df
#: ≤ Σtf / N by construction.
TFIDF_HEAVY_TERMS = 1 << 16
#: measured corpus size past which ``tfidf_top_terms`` switches from the
#: whole-corpus per-term window to the heavy/tail split: below it a
#: stop-word window partition is at most this many rows (spillable,
#: bounded, and faster than the split's pin + broadcast build); above
#: it the term-keyed redistribution of heavy terms becomes the straggler
#: hazard the split removes.
TFIDF_SPLIT_MIN_DOCS = 1_000_000


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    split: bool | str = "auto",
) -> DataFrame:
    """Top-`k` TF-IDF terms per document over the whole corpus.

    ``tfidf = tf × (ln((1 + N) / (1 + df)) + 1)`` (smoothed idf, sklearn
    convention) with `tf` the raw in-document term count, `df` the number
    of documents containing the term, `N` the corpus size.

    Plan: explode tokens (narrow) → one groupBy (doc, term) shuffle for
    tf → heavy/tail document-frequency split → per-doc window for the
    top-k. N arrives via a 1-row crossJoin (no driver action). Ties
    rank deterministically (score desc, term asc).

    **Heavy-term skew split** (VERDICT r8 #5, ``split=True`` or
    ``"auto"`` past :data:`TFIDF_SPLIT_MIN_DOCS` measured docs — one
    count job per call): df(term) must reach
    every tf row, and any term-keyed redistribution (join-back or
    window alike) puts ALL of a stop-word's tf rows — up to |docs| of
    them — into one partition at corpus scale. So df is computed once
    as a term aggregate (map-side partial combine: skew-free, ≤
    #partitions rows per term cross the wire), the top
    ``TFIDF_HEAVY_TERMS`` terms by df become a bounded BROADCAST map
    (TakeOrdered inside the action — no extra job), and only the TAIL
    terms take the per-term window. Heavy tf rows therefore never
    re-shuffle by term at all, and every tail window partition is
    bounded by the (N+1)-th largest df ≤ Σtf/N.

    Below the dispatch threshold the whole-corpus window IS the better
    physical plan (the split's pin + broadcast build + union measured
    1.23 vs 0.87 s at sf0.1 — the skew it guards against cannot exist
    in a 5k-doc corpus), so ``"auto"`` keeps small corpora on the
    window-only shape. Both shapes emit bit-identical rows — the split
    twin is oracle-checked against the same SQL at every scale factor
    (``doc_tfidf_terms_split``).
    """
    from pyspark.sql import Window

    if split == "auto":
        split = df.count() > TFIDF_SPLIT_MIN_DOCS
    # fan_out: tokenization + explode is the CPU-heavy narrow step below
    # the (doc, term) exchange — single-file inputs would run it one-task
    terms = fan_out(df).select(
        F.col(id_col),
        F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("term"),
    ).filter(F.col("term").isNotNull())
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.count("*").alias("__n"))
    if not split:
        # df as a count over a term-partitioned window on tf: one
        # exchange fewer than an aggregate + join-back, and at this
        # corpus size the window partitions are trivially bounded
        scored = tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
    else:
        # pinned: the split references tf four ways (df aggregate,
        # broadcast build, head filter, tail window); unpinned, each
        # branch re-runs the tokenize + (doc, term) aggregate
        # (observed: 4 scans)
        tf = tf.localCheckpoint(eager=True)
        # exact df per term, skew-free (partial agg); bounded to the
        # top-N heaviest terms by a distributed TakeOrdered — selection
        # ties at rank N are harmless (df values are exact whichever
        # side of the split a term lands on)
        heavy = (
            tf.groupBy("term")
            .agg(F.count("*").alias("_hdf"))
            .orderBy(F.col("_hdf").desc(), F.col("term").asc())
            .limit(TFIDF_HEAVY_TERMS)
        )
        tagged = tf.join(F.broadcast(heavy), on="term", how="left")
        head = tagged.filter(F.col("_hdf").isNotNull()).withColumn(
            "df", F.col("_hdf")
        )
        tail = tagged.filter(F.col("_hdf").isNull()).withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
        scored = head.unionByName(tail).drop("_hdf")
    scored = scored.crossJoin(F.broadcast(n_docs)).withColumn(
        "tfidf",
        F.col("tf")
        * (F.log((1 + F.col("__n")) / (1 + F.col("df"))) + F.lit(1.0)),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "term",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


#: PII redaction patterns, applied in order (URLs first so their
#: embedded emails/digits are gone before the later passes). Regexes are
#: deliberately lookaround-free so RE2 engines (DuckDB, Go) compute the
#: same matches as Java — which is what makes redaction oracle-checkable.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://\S+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9() -]{5,}[0-9]", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Replace URLs / emails / IPv4s / phone-like digit runs with typed
    placeholder tokens. Pure regexp_replace chain: JVM-side, narrow."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-type PII match counts (``{"url": Column, ...}``). Counts are
    taken on the progressively-redacted text exactly like
    :func:`redact_pii`, so an email inside a URL counts once as URL."""
    out = col
    counts: dict[str, Column] = {}
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.size(F.regexp_extract_all(out, F.lit(pat), 0))
        out = F.regexp_replace(out, pat, repl)
    return counts


def with_pii_redaction(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    count_prefix: str = "n_",
) -> DataFrame:
    """Adds per-type PII match counts (``n_url`` …) and the fully-redacted
    text (``out_col``), with the progressive redaction staged through
    materialized columns — the convenient DataFrame-level surface.

    NOTE: when all outputs land in ONE projection (as the Column-level
    :func:`pii_counts` + :func:`redact_pii` combination does), whole-stage
    codegen subexpression elimination already shares the progressive
    replace chain across columns, and that single-Project form measures
    FASTER than this staged one; prefer it in hot paths."""
    out = fan_out(df).withColumn("__r", F.col(text_col))
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumns(
            {
                f"{count_prefix}{name}": F.size(
                    F.regexp_extract_all(F.col("__r"), F.lit(pat), 0)
                ),
                "__r": F.regexp_replace(F.col("__r"), pat, repl),
            }
        )
    return out.withColumnRenamed("__r", out_col)


def _grams_with_multiplicity(toks: Column, k: int) -> Column:
    """Word k-grams WITH multiplicity (unlike :func:`shingles_from_tokens`,
    which deduplicates) — repetition measurement needs the counts."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def _run_stats(items: Column, chars_fn) -> Column:
    """``struct(top, dup)`` over an item array in ONE linear fold:
    ``top`` = max over distinct items of count×chars, ``dup`` = total
    count×chars of items occurring more than once.

    Sorts the array and folds equal-item runs — O(g log g) instead of the
    O(distinct × g) filter-per-distinct-item shape, which on documents
    where most grams are unique is quadratic in document length.
    ``chars_fn`` maps an item to its character weight.
    """
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("top"),
        F.lit(0).alias("dup"),
    )

    def _close(acc):
        # fold the finished run into the (top, dup) accumulators
        rc = acc["run"] * chars_fn(acc["prev"])
        return (
            F.greatest(acc["top"], rc),
            acc["dup"] + F.when(acc["run"] > 1, rc).otherwise(F.lit(0)),
        )

    def _merge(acc, g):
        same = acc["prev"] == g
        top, dup = _close(acc)
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["top"]).otherwise(top).alias("top"),
            F.when(same, acc["dup"]).otherwise(dup).alias("dup"),
        )

    def _finish(acc):
        top, dup = _close(acc)
        return F.struct(top.alias("top"), dup.alias("dup"))

    return F.aggregate(F.array_sort(items), zero, _merge, _finish)


def _gram_chars(g: Column) -> Column:
    return F.length(F.replace(g, F.lit(" "), F.lit("")))


def _top_gram_chars(grams: Column) -> Column:
    """Characters covered by the single most-repeated k-gram:
    max over distinct grams of count(gram) × non-space length."""
    return _run_stats(grams, _gram_chars)["top"]


def _dup_gram_chars(grams: Column) -> Column:
    """Characters covered by k-grams occurring more than once (all
    occurrences counted; overlaps not collapsed — a deterministic,
    oracle-reproducible proxy for Gopher's duplicate-n-gram fraction)."""
    return _run_stats(grams, _gram_chars)["dup"]


#: (rule name, threshold) defaults for :func:`repetition_stats` — the
#: Gopher §A1.1 repetition thresholds (dup lines/paragraphs 0.30, dup
#: line chars 0.20, top 2/3-gram 0.20/0.18, dup 5-gram 0.15).
REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "dup_5gram_char_frac": 0.15,
}


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Gopher-style repetition features (Rae et al. 2021 §A1.1): duplicate
    line / paragraph fractions, duplicate-line character fraction, most-
    common 2-/3-gram character fractions, duplicate 5-gram character
    fraction — plus ``fail_reasons`` / ``passes`` against `thresholds`.

    Everything is per-row Column arithmetic over split arrays (narrow map,
    no shuffle, scan-speed at 100 TB). The per-gram counting is O(d·g) in
    the doc's gram counts via nested higher-order lambdas — fine for
    documents up to ~10k tokens; chunk longer docs first. Expressions are
    staged through two selects so codegen sees materialized arrays instead
    of an exponentially-inlined tree.
    """
    th = dict(REPETITION_THRESHOLDS)
    if thresholds:
        th.update(thresholds)
    df = fan_out(df)
    c = F.col(text_col)

    staged = df.withColumns(
        {
            "__lines": F.filter(
                F.transform(F.split(c, r"\n"), lambda l: F.trim(l)),
                lambda l: l != F.lit(""),
            ),
            "__paras": F.filter(
                F.transform(F.split(c, r"\n\s*\n"), lambda p: F.trim(p)),
                lambda p: p != F.lit(""),
            ),
            "__toks": tokens(normalize_text(c)),
        }
    )
    toks = F.col("__toks")
    staged = staged.withColumns(
        {
            "__g2": _grams_with_multiplicity(toks, 2),
            "__g3": _grams_with_multiplicity(toks, 3),
            "__g5": _grams_with_multiplicity(toks, 5),
            "__word_chars": F.aggregate(
                toks, F.lit(0), lambda a, t: a + F.length(t)
            ),
        }
    )

    lines, paras = F.col("__lines"), F.col("__paras")
    n_lines, n_paras = F.size(lines), F.size(paras)
    line_chars = F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l))
    dup_line_chars = _run_stats(lines, F.length)["dup"]
    wc = F.greatest(F.col("__word_chars"), F.lit(1)).cast("double")

    feats = {
        "dup_line_frac": F.when(
            n_lines > 0,
            1 - F.size(F.array_distinct(lines)).cast("double") / n_lines,
        ).otherwise(F.lit(0.0)),
        "dup_para_frac": F.when(
            n_paras > 0,
            1 - F.size(F.array_distinct(paras)).cast("double") / n_paras,
        ).otherwise(F.lit(0.0)),
        "dup_line_char_frac": dup_line_chars
        / F.greatest(line_chars, F.lit(1)).cast("double"),
        "top_2gram_char_frac": _top_gram_chars(F.col("__g2")) / wc,
        "top_3gram_char_frac": _top_gram_chars(F.col("__g3")) / wc,
        "dup_5gram_char_frac": _dup_gram_chars(F.col("__g5")) / wc,
    }
    # Stage the raw feature values once: the threshold conditions and the
    # rounded outputs both reference the SAME computed column, so each
    # O(g log g) sort+fold runs once per row. Building the conditions from
    # fresh `feats[...]` expressions re-instantiated the folds inside
    # fail_reasons AND passes — the plan carried every fold 3x per row
    # (output column, fail_reasons CASE, passes CASE; see
    # plans/r10/doc_repetition_stats_before.txt). Thresholds still compare
    # the UNROUNDED value, as before.
    staged = staged.withColumns({f"__f_{k}": v for k, v in feats.items()})
    reasons = F.array_sort(
        F.array_compact(
            F.array(
                *[
                    F.when(F.col(f"__f_{name}") > th[name], F.lit(name))
                    for name in sorted(feats)
                ]
            )
        )
    )
    out = staged.withColumns(
        {**{k: F.round(F.col(f"__f_{k}"), 4) for k in feats},
         "fail_reasons": reasons}
    ).withColumn("passes", F.size(F.col("fail_reasons")) == 0)
    return out.drop("__lines", "__paras", "__toks", "__g2", "__g3", "__g5",
                    "__word_chars", *[f"__f_{k}" for k in feats])


def repetition_filter(
    df: DataFrame, text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Keep only documents passing every :func:`repetition_stats` rule."""
    cols = df.columns
    return (
        repetition_stats(df, text_col, thresholds).filter("passes").select(*cols)
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace, strip punctuation."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}\s]", " "), _WS, " "
        )
    )


def fingerprint64(col: Column) -> Column:
    """64-bit content fingerprint of the normalized text (xxhash64)."""
    return F.xxhash64(normalize_text(col))


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """Distinct word k-shingles from a token-array Column.

    NOTE: pass a *materialized column reference* (`F.col`), not a large
    expression — the token expression appears several times here and a
    deep inlined tree multiplies analysis/codegen cost (see
    dedup._with_shingles for the staged pattern).
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n < k,
        F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array().cast("array<string>")
        ),
    ).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        )
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles ("a b c" style) as an array<string>."""
    return shingles_from_tokens(tokens(normalize_text(col)), k)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Overlapping token-window chunks per document (the RAG / context-
    chunking step): chunk ``i`` covers whitespace tokens
    ``[i*stride, i*stride + window)``; the final chunk may be shorter
    (tail kept, standard chunker behavior). Empty documents yield no
    chunks.

    Output: ``(id_col, chunk_idx, n_tokens, chunk_text)``.

    Scale shape: a NARROW map — tokenization, start-index generation and
    slicing are per-row Column expressions (no shuffle, no UDF); chunking
    100 TB runs at scan speed and parallelism follows the input splits.
    Tokens are staged through a materialized column so the tokenizer runs
    once per row, not once per expression reference.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    n = F.size("_tok")
    # last chunk start index: 0 for n<=window, else ceil((n-window)/stride)
    m = F.when(n <= window, F.lit(0)).otherwise(
        F.ceil((n - F.lit(window)) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), m),
        lambda i: F.slice(F.col("_tok"), i * stride + 1, window),
    )
    return (
        # fan_out: per-doc window slicing is CPU-bound narrow work and
        # the operator has no exchange of its own to redistribute it
        fan_out(df).select(F.col(id_col), tokens(F.col(text_col)).alias("_tok"))
        .filter(F.size("_tok") > 0)
        .select(
            id_col, F.posexplode(chunks).alias("chunk_idx", "_chunk")
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").alias("n_tokens"),
            F.concat_ws(" ", "_chunk").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# HTML boilerplate extraction
# ---------------------------------------------------------------------------

#: (entity, char) in UNESCAPE order — &amp; must go LAST (otherwise
#: "&amp;lt;" would double-unescape); the escape direction runs reversed.
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_escape(col: Column) -> Column:
    """Escape text for embedding in HTML; & first, then the rest.
    Only the five characters HTML requires — NOT space→&nbsp;
    (the unescape side still folds &nbsp; back to a space)."""
    out = col
    for ent, ch in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
    ):
        out = F.replace(out, F.lit(ch), F.lit(ent))
    return out


def html_extract(col: Column) -> Column:
    """Plain text from an HTML document — the C4/RefinedWeb-style
    boilerplate strip as pure Column regex work (scan-speed, no UDF):

    1. drop ``<script>``/``<style>`` elements and ``<!-- -->`` comments
       wholesale (content included),
    2. block-level closing tags become newlines (so paragraph structure
       survives for the repetition/segment operators downstream),
    3. every remaining tag is removed,
    4. the standard entities unescape (``&amp;`` last),
    5. horizontal whitespace collapses per line; blank runs collapse to
       one blank line; ends trimmed.

    Every regex stays in the dialect intersection of Java regex and RE2
    ((?is), non-greedy, character classes — no lookaround, no
    backreferences) so the DuckDB oracle applies the identical program.
    """
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", "")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", "")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", "")
    out = F.regexp_replace(
        out, r"(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote|br)>", "\n"
    )
    out = F.regexp_replace(out, r"(?i)<br[^>]*>", "\n")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", "")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"[ \t]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{2,}", "\n\n")
    # trim() strips only spaces in both engines; ends must lose newlines too
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def html_extract_sql(expr: str) -> str:
    """The DuckDB twin of :func:`html_extract` over ``expr``."""
    out = f"regexp_replace({expr}, '(?is)<script[^>]*>.*?</script>', '', 'g')"
    out = f"regexp_replace({out}, '(?is)<style[^>]*>.*?</style>', '', 'g')"
    out = f"regexp_replace({out}, '(?s)<!--.*?-->', '', 'g')"
    out = (
        f"regexp_replace({out}, "
        "'(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote|br)>', chr(10), 'g')"
    )
    out = f"regexp_replace({out}, '(?i)<br[^>]*>', chr(10), 'g')"
    out = f"regexp_replace({out}, '(?s)<[^>]+>', '', 'g')"
    for ent, ch in _HTML_ENTITIES:
        lit = {"<": "'<'", ">": "'>'", '"': "'\"'", "'": "''''", " ": "' '", "&": "'&'"}[ch]
        out = f"replace({out}, '{ent}', {lit})"
    out = f"regexp_replace({out}, '[ \\t]+', ' ', 'g')"
    out = f"regexp_replace({out}, ' ?\\n ?', chr(10), 'g')"
    out = f"regexp_replace({out}, '\\n{{2,}}', chr(10) || chr(10), 'g')"
    return f"regexp_replace({out}, '^\\s+|\\s+$', '', 'g')"
