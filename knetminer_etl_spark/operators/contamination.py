"""Benchmark decontamination: find training documents sharing word
n-grams with a held-out/evaluation set.

The standard pretraining hygiene step (GPT-3 App. C, PaLM §7, Llama):
any training document containing an n-gram that also occurs in an
evaluation document is flagged (and usually dropped) so benchmark
numbers aren't inflated by memorized test data.

Spark shape: explode distinct n-grams on both sides, equi-join on the
gram, aggregate hits per training doc. The join key is the gram string —
high cardinality, well distributed, so the shuffle partitions evenly; the
eval side is typically tiny (benchmarks are KBs, the corpus is TBs), so
AQE turns the join into a broadcast automatically. No UDFs anywhere.

Extension beyond the reference (north-star per BASELINE.json); the
reference has no corpus operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, shingles_from_tokens, tokens


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-training-document contamination report against `test`.

    Returns ``(id_col, n_hits, total_ngrams, contamination)`` for every
    training document sharing at least one word `n`-gram with any test
    document: ``n_hits`` distinct contaminated grams, ``total_ngrams``
    the doc's distinct gram count, ``contamination`` their ratio.

    Plan: one narrow gram-explode per side, one equi-join shuffle on the
    gram (AQE broadcasts the test side when it is small), one group-by
    on the training doc id. Gram explosion uses ``explode_outer`` +
    null-filter so the shingle expression is never inlined below an
    exchange (see memory: explode() infers a size>0 filter).
    """
    # shingle each training doc ONCE, staged through materialized columns
    # (normalize → tokens → shingles as separate projections): inlining the
    # chain as one Column re-evaluates the regex normalization at every one
    # of the several token-array references inside shingles_from_tokens
    # (measured ~8s → ~1.5s at sf0.1). The distinct gram count rides along
    # with every exploded gram so no second scan/join is needed for totals.
    # fan_out before shingling: regex normalization + n-gram assembly is
    # CPU-bound per row, and a single-file input would otherwise tokenize
    # on one task (under a broadcast exchange, not even pipeline-parallel);
    # at real scale the scan arrives well-split and this is a no-op
    def _grams(df: DataFrame, *keep: str) -> DataFrame:
        from .util import fan_out

        return (
            fan_out(df)
            .select(*keep, tokens(normalize_text(F.col(text_col))).alias("_tok"))
            .select(*keep, shingles_from_tokens(F.col("_tok"), n).alias("_sh"))
        )

    t_grams = (
        _grams(train, id_col)
        .select(
            F.col(id_col),
            F.size("_sh").alias("total_ngrams"),
            F.explode_outer("_sh").alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
    )
    eval_grams = (
        _grams(test)
        .select(F.explode_outer("_sh").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )
    return (
        # explicit broadcast of the eval gram set: the static size
        # estimate of the train subtree (repartition under an explode)
        # is unreliable enough that Spark picked BuildLeft — hashing and
        # broadcasting the TRAIN gram stream, the corpus-sized side
        # (measured: 1.36 s vs 0.85 s at sf0.1, and an outright OOM
        # shape at 100 TB). The eval suite is the small side by
        # contract (past ~5M grams the caller should be on the bloom
        # path, see decontaminate_auto), so pin the build side to it.
        t_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hits"),
            F.first("total_ngrams").alias("total_ngrams"),
        )
        .select(
            id_col,
            "n_hits",
            "total_ngrams",
            F.round(
                F.col("n_hits") / F.greatest(F.col("total_ngrams"), F.lit(1)), 6
            ).alias("contamination"),
        )
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """Drop training documents with more than `max_hits` contaminated
    n-grams (default: any overlap). Left-anti join against the flagged
    id set — the flagged side is small, AQE broadcasts it."""
    flagged = ngram_contamination(train, test, id_col, text_col, n).filter(
        F.col("n_hits") > max_hits
    )
    return train.join(flagged.select(id_col), id_col, "left_anti")


#: eval-gram count above which the exact join stops broadcasting the
#: test side and the train gram stream would pay a full shuffle — the
#: crossover where the bloom prune starts winning. ~64-byte grams ×
#: 5M ≈ 320 MB, past any sane autoBroadcastJoinThreshold.
BLOOM_DISPATCH_GRAMS = 5_000_000


def decontaminate_auto(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
    dispatch_grams: int = BLOOM_DISPATCH_GRAMS,
) -> DataFrame:
    """Size-probed dispatch between the exact gram join and the
    bloom-pruned plan — the :func:`semantic_decontaminate` ``auto``
    pattern applied to the lexical pass. Both paths provably emit the
    same survivor set (tests pin the equality; the bloom registry entry
    hash-matches the exact oracle at every scale factor), so the probe
    is purely a physical-plan decision:

    * eval gram set small enough to broadcast → the exact join is
      cheapest (the bloom's per-gram probes would be pure overhead —
      measured 2.0 vs 3.3 s on the 10× corpus, SCALE.md);
    * past ``dispatch_grams`` the exact plan must shuffle the ENTIRE
      train gram stream; the bloom prunes it map-side first.

    The probe counts the eval side's distinct grams — the small
    relation by contract (the count rides one bounded job; the gram
    relation is pinned and BOTH branches consume it, so the probe's
    materialization is never thrown away).

    The bloom branch sizes its bit table from the measured gram count
    (~10 bits/gram ≈ 1% fpp, next power of two, capped at
    :data:`BLOOM_MAX_BITS`): a fixed default in the >``dispatch_grams``
    regime would saturate (65k bits against 5M+ keys ≈ 100% fill), and
    a saturated filter passes every train gram — still correct through
    the exact verification join, but paying probe overhead PLUS the
    full shuffle the dispatch exists to avoid.
    """
    eval_grams = distinct_grams(test, text_col, n).localCheckpoint(eager=True)
    n_grams = eval_grams.count()
    if n_grams <= dispatch_grams:
        return decontaminate_against(
            train, eval_grams, id_col, text_col, n, max_hits
        )
    from .bloomjoin import build_spec

    spec = build_spec(
        eval_grams,
        "gram",
        n_bits=sized_bloom_bits(n_grams),
        seed="decon",
        hash="xx",
    )
    return bloom_decontaminate_against(
        train, eval_grams, spec, id_col, text_col, n, max_hits
    )


#: bloom bit-table ceiling (256 Mbit = 32 MB of words — still a sane
#: broadcast/literal size); past ``BLOOM_MAX_BITS / 10`` grams the fpp
#: degrades gracefully instead of the table growing unboundedly
BLOOM_MAX_BITS = 1 << 28


def sized_bloom_bits(n_keys: int, bits_per_key: int = 10) -> int:
    """Bit-table size for ``n_keys``: next power of two ≥
    ``bits_per_key × n_keys`` (~1% fpp at 10 bits/key with k=4),
    floored at the 65k default and capped at :data:`BLOOM_MAX_BITS`."""
    want = max(1 << 16, bits_per_key * max(n_keys, 1))
    return min(BLOOM_MAX_BITS, 1 << (want - 1).bit_length())


def decontaminate_bloom(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
    n_bits: int = 1 << 16,
    k: int = 4,
    hash: str = "xx",
) -> DataFrame:
    """:func:`decontaminate` with a bloom runtime filter on the gram
    join — the identical survivor set (the filter never drops a gram
    that was inserted, and every surviving candidate still passes the
    exact gram equi-join, so bloom false positives are verified away),
    at the 100 TB join shape:

    * build: one distributed ``bit_or`` aggregate over the evaluation
      side's distinct grams — the shuffle carries the ``n_bits/64``-word
      bit table (KBs), never the gram strings;
    * prune: a narrow map over the train gram stream (k double-hashed
      xxhash64 probes — native JVM hashes, not md5 string digests: the
      filter's correctness is established by the verification join, so
      the probes don't need the oracle-reproducible md5 form) into the
      literal word table at scan speed, BEFORE any shuffle — the
      corpus-side gram set (trillions of rows at corpus scale) pays the
      join exchange only for the ~fpp false-positive tail plus the true
      hits;
    * verify: the surviving sliver takes the exact join from
      :func:`ngram_contamination`'s plan, so the flagged set is
      bit-identical to the unpruned path (the registry entry runs
      against the EXACT-path oracle at every scale factor).

    Size ``n_bits`` for ~10 bits per expected test gram (~1% fpp).
    """
    from .bloomjoin import build_spec

    # pin the eval gram relation: it feeds BOTH the filter build (an
    # action) and the verification join — unpinned, the test-side
    # normalize/tokenize/shingle/distinct pipeline would execute twice
    eval_grams = distinct_grams(test, text_col, n).localCheckpoint(eager=True)
    spec = build_spec(eval_grams, "gram", n_bits, k, seed="decon", hash=hash)
    return bloom_decontaminate_against(
        train, eval_grams, spec, id_col, text_col, n, max_hits
    )


def decontaminate_against(
    train: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """Exact-join twin of :func:`bloom_decontaminate_against`: drop
    training documents with more than ``max_hits`` grams in a PRE-BUILT
    (typically pinned) eval gram relation. Identical survivor set to
    :func:`decontaminate` — same per-doc-distinct gram explosion, same
    hit count, no bloom probe — without rebuilding the test side's
    normalize/tokenize/shingle/distinct pipeline the caller already
    materialized (the :func:`decontaminate_auto` dispatch probe)."""
    t_grams = gram_rows(train, text_col, n, id_col)
    flagged = (
        # eval side ≤ dispatch_grams by contract (the auto dispatch
        # sends anything larger to the bloom path) — broadcast it
        # explicitly so the planner can never hash the train stream
        # (see ngram_contamination)
        t_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") > max_hits)
    )
    return train.join(flagged.select(id_col), id_col, "left_anti")


def gram_rows(df: DataFrame, text_col: str, n: int, *keep: str) -> DataFrame:
    """``(*keep, gram)`` — every distinct word n-gram of every row,
    exploded. Staged projections (normalize → tokens → shingles) so the
    regex normalization runs once per row, not once per array reference
    (see :func:`ngram_contamination`); ``fan_out`` keeps the CPU-bound
    shingling parallel on few-file inputs."""
    from .util import fan_out

    return (
        fan_out(df)
        .select(*keep, tokens(normalize_text(F.col(text_col))).alias("_tok"))
        .select(*keep, shingles_from_tokens(F.col("_tok"), n).alias("_sh"))
        .select(*keep, F.explode_outer("_sh").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


def distinct_grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """The distinct gram set of a (small, evaluation-side) relation."""
    return gram_rows(df, text_col, n).distinct()


def bloom_decontaminate_against(
    train: DataFrame,
    eval_grams: DataFrame,
    spec,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """The prune+verify half of :func:`decontaminate_bloom`, against a
    PRE-BUILT filter and gram set — the streaming entry point: a
    continuous ingest filters every micro-batch against the same fixed
    evaluation suite, so the bit table and the gram relation are built
    once per stream, not once per epoch. ``spec`` is a
    :class:`..bloomjoin.BloomSpec` — the filter travels WITH the
    parameters that built it, so probe-side hashing can never diverge
    from the build (a mismatch would fail as silent false negatives:
    contaminated documents passing the filter undetected)."""
    from .bloomjoin import spec_contains

    t_grams = gram_rows(train, text_col, n, id_col).filter(
        spec_contains(F.col("gram"), spec)
    )
    flagged = (
        t_grams.join(eval_grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") > max_hits)
    )
    return train.join(flagged.select(id_col), id_col, "left_anti")


def semantic_contamination(
    train_vecs: DataFrame,
    test_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-level contamination report: for every training vector,
    the maximum cosine to ANY evaluation vector, and a flag at
    ``threshold``. The semantic complement of
    :func:`ngram_contamination` — paraphrased or lightly-reworded test
    items share no 8-gram but sit at cosine ≈ 1 in embedding space,
    which is how modern pipelines (e.g. the phi / FineWeb decontamination
    write-ups) catch benchmark leakage the lexical pass misses.

    Spark shape: the evaluation side is tiny (benchmarks are thousands
    of items; the corpus is billions), so it BROADCASTS — one corpus
    scan computes every train×test cosine as a nested-loop over the
    broadcast relation with a map-side ``max`` partial aggregation, no
    corpus shuffle at all. Per-row cost is |test| dot products — the
    brute-force-verify shape; block with :func:`dedup.sign_lsh_band_buckets`
    upstream if the evaluation side ever stops being broadcastable.
    Output: ``(id, max_test_cos, contaminated)``, one row per training
    vector. An empty test set yields no output rows rather than
    fabricated zeros — callers treat "no test set" upstream. Degenerate
    vectors (zero-norm on the train side, or all test cosines masked as
    NaN/NULL) surface as a NULL ``max_test_cos`` with ``contaminated``
    coalesced to ``false`` — three-valued-logic-safe for consumers, and
    the same verdict the banded path gives such rows (no similarity
    evidence is never a flag).

    Debug / oracle-parity role: the full per-row ``max_test_cos`` report
    is inherently |train|×|test| work (the max over NON-candidates is
    unknowable to any blocking scheme), so this is the bit-certain
    reference the banded filter is verified against — when you only
    need the decontaminated corpus, go through
    :func:`semantic_decontaminate` (mode="auto"), which switches to the
    candidate-blocked plan as the evaluation suite grows.
    """
    from .similarity import _dvec, _norm, _pair_dots

    c = train_vecs.select(
        F.col(id_col).alias("_id"), _dvec(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    t = test_vecs.select(_dvec(F.col(vec_col)).alias("_tv")).withColumn(
        "_tn", _norm(F.col("_tv"))
    )
    return (
        c.join(F.broadcast(t))
        .select(
            "_id",
            # try_divide: a zero-norm (degenerate) vector on either side
            # yields a NULL cosine instead of an ANSI DIVIDE_BY_ZERO —
            # max() skips NULLs, so such pairs simply contribute no
            # similarity evidence. NaN (a NaN-element embedding; only
            # zero divisors are nulled by try_divide) is masked to NULL
            # for the same reason: Spark orders NaN ABOVE every double,
            # so an unmasked NaN would win the max() and flag the row —
            # the banded path filters ~isnan identically, keeping the
            # two auto-dispatched physical paths in exact agreement
            # (see semantic_decontaminate_banded).
            F.nanvl(
                F.round(
                    F.try_divide(
                        _pair_dots(F.col("_v"), F.col("_tv")),
                        F.col("_n") * F.col("_tn"),
                    ),
                    6,
                ),
                F.lit(None).cast("double"),
            ).alias("_cos"),
        )
        .groupBy("_id")
        .agg(F.max("_cos").alias("max_test_cos"))
        .select(
            F.col("_id").alias(id_col),
            "max_test_cos",
            # coalesce: an all-NULL cosine row (degenerate vector) reads
            # as "not contaminated", never NULL — matching the banded
            # path's survivor verdict for the same row
            F.coalesce(
                F.col("max_test_cos") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )


def _auto_decon_shape(
    n_test: int,
    threshold: float,
    target_occupancy: int = 2,
    miss: float = 1e-6,
) -> tuple[int, int]:
    """(n_planes, n_bands) for the banded decontamination, sized from
    the MEASURED evaluation-suite count — the :func:`..dedup._auto_lsh_shape`
    treatment applied to the decon band shape (VERDICT r8 #3).

    The candidate bill is cross-side: per band, expected bucket
    collisions ≈ |train|·|test| / 2^planes under uniform occupancy, so
    a FIXED plane count is corpus-quadratic once the suite outgrows the
    2^planes bucket space (measured: 462M candidates / ~30× wall at the
    100× tier with the static 12×48 shape, SCALE_CHECK_100). Planes
    therefore grow with log2(|test| / target_occupancy) — expected
    per-train-row collisions stay ~target_occupancy per band — and
    bands then restore the per-pair tail recall at the threshold:
    miss(c) = (1 − p(c)^planes)^bands with p(c) = 1 − acos(c)/π, solved
    for ``miss`` at c = threshold (the hardest admitted pair). Floors
    keep small suites on the proven 12×48 default shape.

    BOTH axes are capped so the per-vector BLAS projection stays
    bounded (planes ≤ 28, bands ≤ 384 → ≤ 10,752 projections): at low
    thresholds p(threshold)^planes collapses and the solved band count
    otherwise explodes (e.g. threshold 0.8 at 28 planes solves to
    ~8,500 bands — orders of magnitude past the 12×48 floor). The two
    knobs are optimized JOINTLY under that budget: planes start at the
    occupancy-sized value and step DOWN until the band count that
    restores the miss bound fits the cap — fewer planes mean more
    random bucket collisions (verification cost, never correctness)
    but an intact recall bound, which is the right trade for a filter
    whose misses are silent. Only if even the 12-plane floor cannot
    reach ``miss`` within 384 bands does the cap bind; the residual
    bound is then miss(threshold) = (1 − p^12)^384 — e.g. threshold
    0.6 gives p ≈ 0.705, per-band 0.0151, residual ≈ 3e-3. False flags
    remain impossible at any shape (every candidate verifies with the
    exact cosine), so the shape is purely a physical-plan choice with a
    bounded-miss recall story."""
    import math

    max_planes, max_bands = 28, 384
    planes = 12
    if n_test > target_occupancy << 12:
        planes = max(
            12,
            min(max_planes, math.ceil(math.log2(n_test / target_occupancy))),
        )
    p = 1.0 - math.acos(min(max(threshold, 0.0), 0.999)) / math.pi

    def _bands_for(n_planes: int) -> int:
        per_band = p**n_planes
        if not 0 < per_band < 1:
            return 48
        return max(
            48, math.ceil(math.log(miss) / math.log(1.0 - per_band))
        )

    bands = _bands_for(planes)
    while bands > max_bands and planes > 12:
        planes -= 1
        bands = _bands_for(planes)
    return planes, min(bands, max_bands)


def semantic_decontaminate(
    train_vecs: DataFrame,
    test_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    mode: str = "auto",
    n_planes: int | str = "auto",
    n_bands: int | None = None,
    seed: int = 0x5EED,
) -> DataFrame:
    """Drop training vectors whose nearest evaluation vector is at
    cosine ≥ ``threshold`` — the default entry point; both physical
    paths provably emit the same survivor set (the banded registry
    entry hash-matches the brute-force oracle at every scale factor).

    ``mode``:

    * ``"auto"`` (default) — size-probe the evaluation side (one count
      of the SMALL relation, the ``n_clusters="auto"`` probe pattern)
      and delegate: per-corpus-row brute cost is |test| dot products
      while the banded path pays a flat ``n_planes × n_bands`` BLAS
      projection plus only bucket-matched verifications, so brute is
      the cheaper plan only while |test| stays under about one band
      matrix's worth of work. Crossover pinned at ``|test| ≤ 576``
      (one default 12×48 band matrix's worth; measured at 10× data:
      brute 8.64×, banded 1.71× — SCALE.md). The same probe count
      sizes the banded shape when ``n_planes="auto"`` (default, see
      :func:`_auto_decon_shape`) — one bounded job, two decisions.
    * ``"banded"`` — force :func:`semantic_decontaminate_banded` (the
      100 TB shape: the corpus never shuffles, the eval side stays
      broadcast however large the corpus grows).
    * ``"brute"`` — force the exact nested-loop filter over
      :func:`semantic_contamination`. Debug / oracle-parity only: it is
      the bit-certain reference the banded path is verified against,
      and the right plan ONLY for small fixed suites.
    """
    n_test = None
    if mode == "auto":
        # bounded probe: the eval relation is the broadcast side by
        # contract (benchmarks, not corpora) — counting it is cheap.
        # The measured count also sizes the banded shape below (one
        # probe, two decisions — the content_groups pattern).
        n_test = test_vecs.count()
        mode = "brute" if n_test <= 576 else "banded"
    if n_planes == "auto":
        if n_test is None:
            n_test = test_vecs.count()
        n_planes, n_bands = _auto_decon_shape(n_test, threshold)
    elif n_bands is None:
        n_bands = 48
    if mode == "banded":
        return semantic_decontaminate_banded(
            train_vecs, test_vecs, id_col, vec_col, threshold,
            n_planes, n_bands, seed,
        )
    if mode != "brute":
        raise ValueError(f"unknown decontamination mode: {mode!r}")
    flagged = semantic_contamination(
        train_vecs, test_vecs, id_col, vec_col, threshold
    ).filter(F.col("contaminated"))
    return train_vecs.join(flagged.select(id_col), id_col, "left_anti")


def semantic_decontaminate_banded(
    train_vecs: DataFrame,
    test_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | str = "auto",
    n_bands: int | None = None,
    seed: int = 0x5EED,
) -> DataFrame:
    """:func:`semantic_decontaminate` with sign-LSH candidate blocking —
    the shape :func:`semantic_contamination`'s docstring prescribes for
    when per-row |test| dot products stop being affordable.

    Both sides get OR-amplified band buckets
    (:func:`..dedup.sign_lsh_band_buckets`); only train vectors sharing
    a (band, bucket) with some evaluation vector pay an exact-cosine
    verification, and any verified hit flags the vector. The banded
    test relation stays broadcast, so the corpus still never shuffles —
    per-row cost drops from |test| dot products to the bucket-matched
    candidates only, which is what survives when the evaluation suite
    grows from thousands to millions of items.

    Flags are a bounded-miss approximation of the brute-force rule: a
    pair at cosine c collides in no band with (1 − p(c)^n_planes)^n_bands,
    p(c) = 1 − acos(c)/π — at the defaults and c ≥ 0.95 that is ≤ 2e-7,
    so the survivor set is expected hash-equal to brute force (the
    registry runs this variant against the SAME brute-force oracle, the
    doc_span_scrub_hashed evidence pattern). False positives cannot
    happen: every candidate is verified with the exact cosine.

    The band shape defaults to ``n_planes="auto"``: 12×48 while the
    suite fits the 2^12 bucket space, then planes grow with
    log2(|test|) and bands restore tail recall
    (:func:`_auto_decon_shape` — the fix for the measured 462M-candidate
    / ~30× wall at the 100× tier, where the static shape's bucket
    occupancy went quadratic). The floor shape is AND-heavy (12 planes
    per band) on purpose:
    decontamination only cares about the far tail (cos ≥ threshold), so
    unlike near-dup clustering there is no recall budget to spend on
    mid-similarity pairs — random-pair collisions fall ~2^planes while
    48 bands keep tail recall. Measured on the synthetic 10× sweep:
    ratio 10.44 (brute force) → 8.5 (6×24 bands) → 1.59 (this 12×48
    default), i.e. candidate-linear once random collisions stop
    dominating."""
    from .dedup import sign_lsh_band_buckets
    from .similarity import _dvec, _norm, _pair_dots

    if n_planes == "auto":
        # direct entry: one bounded count of the broadcast-side suite
        # sizes the shape (callers coming through semantic_decontaminate
        # arrive with ints — the dispatch probe already paid the count)
        n_planes, n_bands = _auto_decon_shape(test_vecs.count(), threshold)
    elif n_bands is None:
        n_bands = 48

    c = train_vecs.select(
        F.col(id_col).alias("_id"), _dvec(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    cb = c.select(
        "_id",
        "_v",
        "_n",
        F.posexplode(
            sign_lsh_band_buckets("_v", n_planes, n_bands, seed)
        ).alias("_band", "_bucket"),
    )
    t = test_vecs.select(_dvec(F.col(vec_col)).alias("_tv")).withColumn(
        "_tn", _norm(F.col("_tv"))
    )
    tb = t.select(
        "_tv",
        "_tn",
        F.posexplode(
            sign_lsh_band_buckets("_tv", n_planes, n_bands, seed)
        ).alias("_band", "_bucket"),
    )
    from pyspark.sql import Observation

    from .dedup import CANDIDATE_METRICS

    _obs = Observation()
    CANDIDATE_METRICS["decontamination_bands"] = _obs
    flagged = (
        cb.join(F.broadcast(tb), ["_band", "_bucket"])
        # candidate bill = train×test bucket collisions (each pays one
        # exact-cosine verification) — CollectMetrics on the stream
        .observe(_obs, F.count(F.lit(1)).alias("candidates"))
        # try_divide + isnan: zero-norm pairs give NULL (never an ANSI
        # error, never a flag); NaN-element vectors give a NaN quotient,
        # which Spark orders ABOVE every double and would otherwise
        # flag — masked so a NaN cosine is never contamination evidence
        # on either physical path (the brute report's max() skips the
        # NULLs symmetrically)
        .withColumn(
            "_bcos",
            F.round(
                F.try_divide(
                    _pair_dots(F.col("_v"), F.col("_tv")),
                    F.col("_n") * F.col("_tn"),
                ),
                6,
            ),
        )
        .filter(~F.isnan(F.col("_bcos")) & (F.col("_bcos") >= F.lit(threshold)))
        .select("_id")
        .distinct()
    )
    return train_vecs.join(
        flagged.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )
