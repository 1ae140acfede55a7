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

from .text import staged_shingles


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
    # the distinct gram count rides along with every exploded gram so no
    # second scan/join is needed for totals
    t_grams = (
        staged_shingles(train, text_col, n, id_col)
        .select(
            F.col(id_col),
            F.size("_sh").alias("total_ngrams"),
            F.explode_outer("_sh").alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
    )
    eval_grams = distinct_grams(test, text_col, n)
    return (
        # explicit broadcast of the eval gram set: the static size
        # estimate of the train subtree (repartition under an explode)
        # is unreliable enough that Spark picked BuildLeft — hashing and
        # broadcasting the TRAIN gram stream, the corpus-sized side
        # (measured: 1.36 s vs 0.85 s at sf0.1, and an outright OOM
        # shape at 100 TB). The eval suite is the small side by
        # contract, so pin the build side to it.
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
    n-grams (default: any overlap): :func:`decontaminate_against` the
    test side's distinct gram set."""
    return decontaminate_against(
        train, distinct_grams(test, text_col, n), id_col, text_col, n, max_hits
    )


def decontaminate_against(
    train: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """Drop training documents with more than ``max_hits`` grams in an
    eval ``gram`` relation — the one lexical decontamination plan.
    ``eval_grams`` may be pre-built and pinned (the continuous stream
    filters every micro-batch against the same suite). The flagged ids
    are those of :func:`ngram_contamination` (same per-doc-distinct gram
    explosion, same hit count); a left-anti join against them keeps the
    rest — the flagged side is small, AQE broadcasts it."""
    flagged = (
        # the eval suite is the small side by contract — broadcast it
        # explicitly so the planner can never hash the train stream
        # (see ngram_contamination)
        gram_rows(train, text_col, n, id_col)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") > max_hits)
    )
    return train.join(flagged.select(id_col), id_col, "left_anti")


def gram_rows(df: DataFrame, text_col: str, n: int, *keep: str) -> DataFrame:
    """``(*keep, gram)`` — every distinct word n-gram of every row,
    exploded (``explode_outer`` + null filter, so the shingle expression
    is never inlined below an exchange)."""
    return (
        staged_shingles(df, text_col, n, *keep)
        .select(*keep, F.explode_outer("_sh").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


def distinct_grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """The distinct gram set of a (small, evaluation-side) relation."""
    return gram_rows(df, text_col, n).distinct()


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
    :func:`semantic_decontaminate`, which switches to the
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
) -> DataFrame:
    """Drop training vectors whose nearest evaluation vector is at
    cosine ≥ ``threshold`` — the default entry point; both physical
    paths provably emit the same survivor set (the banded registry
    entry hash-matches the brute-force oracle at every scale factor).

    The evaluation side is size-probed (one count of the SMALL
    relation, the ``n_clusters="auto"`` probe pattern) to pick the plan:
    per-corpus-row brute cost is |test| dot products while the banded
    path (:func:`semantic_decontaminate_banded`) pays a flat
    ``n_planes × n_bands`` BLAS projection plus only bucket-matched
    verifications, so the exact nested-loop filter over
    :func:`semantic_contamination` is the cheaper plan only while |test|
    stays under about one band matrix's worth of work. Crossover pinned
    at ``|test| ≤ 576`` (one default 12×48 band matrix's worth; measured
    at 10× data: brute 8.64×, banded 1.71× — SCALE.md). The same probe
    count sizes the banded shape (:func:`_auto_decon_shape`) — one
    bounded job, two decisions.
    """
    # bounded probe: the eval relation is the broadcast side by contract
    # (benchmarks, not corpora) — counting it is cheap
    n_test = test_vecs.count()
    if n_test > 576:
        n_planes, n_bands = _auto_decon_shape(n_test, threshold)
        return semantic_decontaminate_banded(
            train_vecs, test_vecs, id_col, vec_col, threshold,
            n_planes, n_bands,
        )
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
