"""Deduplication operators for large-scale document pipelines.

Five strategies, all expressed as DataFrame programs (no driver-side
loops, no Python in the hot path):

* **exact**       — hash-groupBy on normalized content; one shuffle.
* **n-gram Jaccard** — shingle → explode → equi-join on shingle →
  per-pair intersection counts → Jaccard filter. Classic candidate-pair
  generation; a frequency cap drops super-common shingles to keep the
  join skew-free at scale.
* **MinHash + LSH** — k permutations via seeded xxhash64 min-reduction,
  banded into b buckets, candidates = bucket equi-join, verified with
  exact Jaccard. The scale path: candidate generation is linear in
  (docs × shingles), never quadratic.
* **SimHash**     — 64-bit weighted bit-vote fingerprint; near-dups =
  pairs within Hamming distance d, found via band-exact-match blocking.
* **embedding cosine** — near-dup pairs over a vector column, brute
  (small) or LSH-bucketed (scale).

Determinism: every hash is seeded xxhash64 — stable across runs,
partitionings, and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import normalize_text, shingles_from_tokens, tokens
from .util import fan_out


#: Last-created candidate-bill Observation per metrics label
#: (``<label>`` = bucket stats, ``<label>:out`` = output rows). Filled
#: by the banded-pair operators on every plan build; read AFTER an
#: action on that plan (tools/scale_check.py records them per tier so
#: a high runtime ratio is attributable to candidate volume vs
#: algorithmic blowup). Last-write-wins: holds the newest plan's
#: Observation for each label.
CANDIDATE_METRICS: dict[str, "Observation"] = {}


def _observe_buckets(groups: DataFrame, ids_size, label: str) -> DataFrame:
    """Attach the candidate-bill probe (bucket count, max bucket size,
    Σ C(k,2) candidates) — a CollectMetrics node riding the existing
    aggregation, no extra job, no extra exchange."""
    from pyspark.sql import Observation

    obs = Observation()
    CANDIDATE_METRICS[label] = obs
    return groups.observe(
        obs,
        F.count(F.lit(1)).alias("buckets"),
        F.max(ids_size).alias("max_bucket"),
        F.sum(ids_size * (ids_size - 1) / F.lit(2))
        .cast("long")
        .alias("candidates"),
    )


def observe_output(df: DataFrame, label: str) -> DataFrame:
    """Attach an output-row-count probe under ``<label>:out``."""
    from pyspark.sql import Observation

    obs = Observation()
    CANDIDATE_METRICS[f"{label}:out"] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("rows"))


def _obs_row(obs) -> dict | None:
    """Non-blocking Observation read: None when the observed plan never
    executed (e.g. a dispatcher took another path) instead of
    Observation.get's wait-forever; None too when AQE pruned the
    observed subtree to an empty relation."""
    try:
        jrow = obs._jo.getRowOrEmpty()
        if jrow is None:
            return None
        # scala Option
        if hasattr(jrow, "isEmpty") and jrow.isEmpty():
            return None
        row = jrow.get() if hasattr(jrow, "get") else jrow
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        )
        return CPickleSerializer().loads(utils.toPyRow(row)).asDict()
    except Exception:
        return None


def read_candidate_metrics(label: str) -> dict:
    """Metrics of the last EXECUTED plan for ``label``; raises KeyError
    for an unknown label, returns ``{}`` when the label's last plan was
    never executed (non-blocking — safe for dispatchers that may take a
    different physical path)."""
    row = _obs_row(CANDIDATE_METRICS[label])
    out = dict(row) if row else {}
    # out_rows is read independently of the candidate-generation probe:
    # AQE empty-relation propagation can prune the bucket observation
    # out of a plan whose candidate relation is empty (e.g. a fully
    # collapsed clone-family corpus) while the output count still rides
    # the final plan
    if f"{label}:out" in CANDIDATE_METRICS:
        orow = _obs_row(CANDIDATE_METRICS[f"{label}:out"])
        if orow:
            out["out_rows"] = orow["rows"]
    return out


def candidate_pairs_from_buckets(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    max_bucket_size: int | None = None,
    metrics_label: str | None = None,
) -> DataFrame:
    """Distinct id-ordered candidate pairs from a blocking relation.

    Join-free: group ids per bucket (one shuffle), emit all (i<j)
    combinations with higher-order functions, dedup across buckets. The
    classic alternative — a bucket self-equi-join — computes the (often
    expensive) upstream plan twice, once per join side. The grouping
    exchange is sized for group count (collect buffers are per-group
    objects — see runtime.checkpoint.group_agg_partitions / SCALE.md);
    callers that KNOW the blocking relation's cardinality should pass
    ``num_partitions`` — Catalyst's estimate above a join/explode tower
    can be off by 1000× (measured 75 GB estimated for a 2,200-row
    relation → a 4,096-task repartition of pure scheduler overhead).

    ``max_bucket_size`` is the Σ|bucket|² backstop (the band-bucket
    analog of ``ngram_jaccard_pairs``' stop-shingle cap): buckets
    larger than the cap are dropped BEFORE pair expansion, bounding the
    candidate bill at cap²/2 per bucket whatever adversarial boilerplate
    hashes into one bucket. Recall trade-off: a true pair is lost only
    if EVERY band bucket it shares is oversized — for LSH bandings that
    means the pair's entire similarity evidence is corpus-wide template
    content. ``metrics_label`` attaches the candidate-bill probe (see
    :data:`CANDIDATE_METRICS`). Output: (id_a, id_b).
    """
    from ..runtime.checkpoint import group_agg_partitions

    nparts = num_partitions or group_agg_partitions(bucketed)
    groups = (
        bucketed.repartition(nparts, *bucket_cols)
        .groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("_ids"))
    )
    if max_bucket_size is not None:
        groups = groups.filter(F.size("_ids") <= max_bucket_size)
    if metrics_label is not None:
        groups = _observe_buckets(groups, F.size("_ids"), metrics_label)
    combos = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    # explode_outer: avoids the inferred size>0 pre-filter that would
    # evaluate the O(k^2) combination expression twice per group
    return (
        groups.select(F.explode_outer(combos).alias("_p"))
        .filter(F.col("_p").isNotNull())
        .select(F.col("_p.a").alias("id_a"), F.col("_p.b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Identical-content collapse — the shared engine behind MinHash-LSH and
# Hamming blocking (VERDICT r8 #4: one implementation, two callers)
# ---------------------------------------------------------------------------

#: within-clone candidate bill (bands × Σ(fᵢ² − fᵢ) over clone families)
#: above which the collapse machinery always runs. Below it the direct
#: path's clone candidates are output-scale work, while the collapse
#: path's probe pin + five expansion joins cost a measured ~1.6 s of
#: plan latency per call at bench scale — a bad trade until the bill is
#: millions of verifications.
CLONE_BILL_BUDGET = 2_000_000


def collapse_pays(
    n_groups: int,
    n_members: int,
    f_max: int,
    f2_sum: int,
    bands: int,
    max_bucket_size: int | None,
) -> bool:
    """Whether the identical-content collapse machinery (rep banding +
    member-expansion joins) is worth its plan cost, from the probed
    clone statistics.

    The collapsed and direct plans are PAIR-IDENTICAL whenever no band
    bucket overflows ``max_bucket_size`` (identical content ⇒ identical
    keys ⇒ the direct path emits every clone pair as a verified
    candidate), so this is a physical-plan choice except at the cap
    boundary. Two rules force collapse:

    * **bill rule** — the direct path would pay ``bands · Σ(fᵢ²−fᵢ)``
      within-clone candidates (every band bucket holding family i
      carries its fᵢ² self-join contribution); past
      :data:`CLONE_BILL_BUDGET` that quadratic term is exactly what
      collapse exists to delete (the 20-copy clone corpus: 38M × bands
      — collapses; the sf0.1 bench corpus: 8 duplicate text rows and a
      few hundred fingerprint twins — goes direct).
    * **cap rule** — with ``max_bucket_size`` set, any family larger
      than cap/4 collapses, preserving the cap-exemption contract
      ("clone pairs are output, never capped candidates") wherever a
      family could materially contribute to overflowing a bucket. A
      direct-dispatched family (≤ cap/4) loses pairs only if EVERY band
      bucket it occupies is ≥ 3/4 filled with distinct near-identical
      content — the adversarial-template regime where the cap is
      documented to trade recall even under collapse."""
    if n_members <= 0 or n_groups == n_members:
        return False
    if max_bucket_size is not None and f_max > max(1, max_bucket_size // 4):
        return True
    return bands * (f2_sum - n_members) > CLONE_BILL_BUDGET


def content_groups(
    members: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, int, int, int, int]:
    """``(groups, n_groups, n_members, f_max, f2_sum)`` for a keyed member
    relation ``(_id, *key_cols)`` — the clone-statistics probe + group
    derivation of the identical-content collapse, in ONE eager job.

    ``groups`` is the pinned ``(*key_cols, _rid, _n)`` relation (min
    ``_id`` + member count per distinct key). The probe is ONE
    ``pin_observe`` job: the group-by runs with count / Σsize / max-size
    riding the materialization (VERDICT r8 #1 — the previous shape paid
    two eager jobs just to discover every group was a singleton). Every
    call measures its own input: the stats pick the physical plan, and
    at the ``max_bucket_size`` cap boundary that choice shows in the
    output (see :func:`collapse_pays`), so they are never carried over
    from an earlier call."""
    from .util import pin_observe

    groups, m = pin_observe(
        members.groupBy(*key_cols).agg(
            F.min("_id").alias("_rid"), F.count(F.lit(1)).alias("_n")
        ),
        F.count(F.lit(1)).alias("groups"),
        F.sum("_n").alias("members"),
        F.max("_n").alias("fmax"),
        F.sum(F.col("_n") * F.col("_n")).alias("f2"),
    )
    return (
        groups,
        int(m["groups"] or 0),
        int(m["members"] or 0),
        int(m["fmax"] or 0),
        int(m["f2"] or 0),
    )


def expand_group_pairs(
    members: DataFrame,
    key_cols: list[str],
    group_pairs: DataFrame,
    score_col: str,
    within_score: Column | None = None,
) -> DataFrame:
    """Expand group-keyed verified pairs back to member id pairs — the
    output-linear tail of the identical-content collapse, shared by the
    MinHash and Hamming engines.

    ``group_pairs`` carries ``(*<key>_a, *<key>_b, score_col)`` — one
    row per verified pair of distinct-content groups. Every (a ∈ group
    A, b ∈ group B) member combination inherits the group pair's score
    (similarity is a function of content, so equal-content members have
    equal scores to any third document). ``within_score`` adds the
    within-group pairs (identical content: Jaccard 1 / Hamming 0),
    streamed as a self-join — never a per-group combination array."""
    a_on = [f"{c}_a" for c in key_cols]
    b_on = [f"{c}_b" for c in key_cols]
    ma = members.select(
        *[F.col(c).alias(f"{c}_a") for c in key_cols],
        F.col("_id").alias("_ma"),
    )
    mb = members.select(
        *[F.col(c).alias(f"{c}_b") for c in key_cols],
        F.col("_id").alias("_mb"),
    )
    cross = (
        group_pairs.join(ma, on=a_on)
        .join(mb, on=b_on)
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            score_col,
        )
    )
    if within_score is None:
        return cross
    wa = members.select(*key_cols, F.col("_id").alias("id_a"))
    wb = members.select(*key_cols, F.col("_id").alias("id_b"))
    within = (
        wa.join(wb, on=key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", within_score.alias(score_col))
    )
    return cross.unionByName(within)


def _has_content(text: Column) -> Column:
    """True iff ``normalize_text(text) != ''`` — i.e. the text contains
    at least one letter or digit (everything else normalizes to
    whitespace and trims away). A single short-circuiting RLIKE scan,
    not a full normalization pass; NULL text yields NULL (filtered),
    matching the normalize-compare form exactly."""
    return text.rlike(r"[\p{L}\p{N}]")


def _with_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(_id, _sh) with the shingle array **staged through materialized
    columns** (normalize → tokens → shingles as separate projections).

    Inlining the whole chain as one Column and then referencing it N
    times (e.g. 64 MinHash permutations) multiplies the expression tree
    N-fold — measured ~2 min of driver-side analysis/codegen for the
    MinHash plan before this staging, ~seconds after. Data-side cost is
    identical (Catalyst collapses the projections into one stage).

    Output guarantee: ``_sh`` is always a NON-EMPTY array — documents whose
    normalized text is empty are dropped by a cheap scan-side filter.
    Downstream must therefore never re-filter on ``size(_sh)``/NULL
    signatures: such predicates get pushed below the fan-out exchange and
    re-inline the whole shingle pipeline into a serial filter (measured
    ~7s per occurrence at sf0.1).
    """
    return (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        # cheap pre-shuffle emptiness filter: normalize_text yields ""
        # exactly when the text has NO letter/digit (every other char
        # maps to whitespace and is collapsed/trimmed away), so one
        # short-circuiting character-class search replaces the two full
        # regex rewrites the old `normalize_text(_t) != ''` paid — on a
        # single-file scan this filter runs on the one pre-fan_out task
        # (measured 0.33 s serial per minhash invocation at sf0.1)
        .filter(_has_content(F.col("_t")))
        .transform(fan_out)
        .select("_id", tokens(normalize_text(F.col("_t"))).alias("_tok"))
        .select("_id", shingles_from_tokens(F.col("_tok"), k).alias("_sh"))
    )

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Group identical (optionally normalized) texts; keep the minimum id
    as the canonical representative.

    Returns ``(keep_id, n_dups)`` per distinct content — one hash-agg
    shuffle on the content hash, with map-side partial aggregation.
    """
    content = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    # no fan_out here: md5 is cheap, and the groupBy redistributes anyway —
    # a pre-shuffle repartition would move the full text corpus for nothing
    return (
        df.select(F.col(id_col), F.md5(content).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """Corpus-wide exact *segment* dedup — the CCNet paragraph-hash
    pattern (ref paragraph dedup has no counterpart in the reference
    repo; this is the LLM-pipeline extension), with fixed
    ``chunk_words``-word segments standing in for paragraphs when the
    corpus has no newline structure.

    Every document is split into consecutive word chunks; only the
    globally-FIRST occurrence of each distinct segment (ordered by
    (doc_id, position)) survives, and each document's text is
    reassembled from its surviving segments. Removes boilerplate
    repeated across documents, not just whole-document dups.

    Returns ``(doc_id, clean_text, n_segments, n_dropped)``. Documents
    with no tokens are dropped. Plan: one explode + one window shuffle
    on the segment text + one groupBy shuffle on the doc id — all
    JVM-side Column work, deterministic, partitioning-independent.
    """
    w = chunk_words
    toks = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
        .filter(F.size("_t") > 0)
    )
    n_seg = F.ceil(F.size("_t") / F.lit(float(w))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(1), n_seg),
        lambda i: F.array_join(F.slice(F.col("_t"), (i - 1) * w + 1, w), " "),
    )
    # posexplode_outer: explode() would infer a size>0 filter that gets
    # pushed below the exchange and re-inlines the chunk expression
    ex = (
        toks.select(F.col(id_col), F.posexplode_outer(segs).alias("pos", "seg"))
        .filter(F.col("seg").isNotNull())
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("seg").orderBy(id_col, "pos")
    ranked = ex.withColumn("_rn", F.row_number().over(win))
    kept = F.when(F.col("_rn") == 1, F.struct(F.col("pos"), F.col("seg")))
    return ranked.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["seg"]),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_segments"),
        (F.count("*") - F.count(kept)).alias("n_dropped"),
    )


def exact_drop_ids(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Ids of the NON-canonical members of each exact-duplicate group —
    the complement of :func:`exact_dedup`'s keep set.

    Scale shape: the keep set is corpus-sized (one id per distinct
    content), so filtering via a semi-join on it re-shuffles the whole
    corpus. The drop set is only the duplicate members — metadata-sized
    on real corpora — so the caller's anti-join broadcast-prunes (AQE)
    instead of sort-merging full text rows. One content-hash exchange
    over (id, hash) pairs with ``min(id)`` as a WINDOW aggregate: the
    window's sort buffer is spillable (UnsafeExternalSorter), unlike a
    ``collect_list`` aggregation buffer whose boxed-id state is pinned
    at O(largest clone family) — and mega clone families (boilerplate
    pages) are exactly what exact dedup meets at corpus scale.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
        .withColumn(
            "_keep", F.min(id_col).over(Window.partitionBy("_h"))
        )
        .filter(F.col(id_col) != F.col("_keep"))
        .select(id_col)
    )


def drop_exact_dups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The filtered corpus: only canonical representatives survive.

    Anti-join against the (small) drop set rather than semi-join
    against the (corpus-sized) keep set — see :func:`exact_drop_ids`.
    """
    return df.join(
        exact_drop_ids(df, id_col, text_col), on=id_col, how="left_anti"
    )


#: docs at or below which the clustering operators pair with exact
#: shingle-bucket Jaccard instead of MinHash-LSH
PAIRS_DIRECT_MAX = 5_000


def _default_pairs(df, id_col, text_col, k, threshold, n_docs=None):
    """Size-adaptive candidate generation for the clustering operators:

    * corpora of ≤ :data:`PAIRS_DIRECT_MAX` docs → exact shingle-bucket
      Jaccard with the stop-shingle cap: three plain exchanges, NO eager pin
      jobs — ~10 fewer Spark jobs than the LSH path, which at toy
      scale is pure fixed overhead;
    * larger corpora → banded MinHash-LSH with true-Jaccard verify,
      the candidate-linear path (exact pairs' Σ|bucket|² term measured
      11× wall for 10× docs on a template-heavy corpus).

    The LSH branch is a bounded-miss-probability APPROXIMATION of the
    exact branch, not a bit-identical one: banding misses a true pair
    with probability (1 − j^r)^b — ≤ 1e-4 per pair at j ≥ 0.5 with the
    r=2/b=32 defaults, ≤ 6e-7 at j ≥ 0.6 — so ``near_dup_clusters`` /
    ``dedup_keep_best`` output CAN change as a corpus crosses
    :data:`PAIRS_DIRECT_MAX` (it has measured hash-equal at every test
    scale, which is the expected outcome at these odds, not a
    guarantee). The switch probe is an early-exit limit+count — it does
    not scan past ``PAIRS_DIRECT_MAX + 1`` rows, but it IS an extra job
    on the unpinned input at call time.
    """
    # ``n_docs``: a caller that already knows the corpus size (e.g. a
    # count riding the previous stage's write as an observe metric)
    # passes it to skip the probe job entirely.
    if n_docs is None:
        n_docs = df.limit(PAIRS_DIRECT_MAX + 1).count()
    if n_docs <= PAIRS_DIRECT_MAX:
        return ngram_jaccard_pairs(df, id_col, text_col, k, threshold)
    return minhash_lsh_pairs(df, id_col, text_col, k, threshold)


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(keep_id, cluster_size): the end-to-end corpus-dedup composition —
    near-dup pairs → connected components → one canonical representative
    (the min id) per cluster. Pairs come from :func:`_default_pairs`:
    exact shingle-bucket Jaccard up to :data:`PAIRS_DIRECT_MAX` docs,
    past it banded MinHash-LSH with true-Jaccard verification at the
    auto band shape (:func:`_auto_minhash_shape`: P(miss | j ≥
    threshold) ≤ 1e-6 per pair past the 64k-distinct-content knee; at
    floor corpus sizes (n ≤ 64k) the capped r=2 floor shape bounds it
    at ≤ 1e-4 for thresholds below ~0.6, ≤ 1e-6 at j ≥ 0.6) —
    candidate-linear at corpus scale, where exact shingle-bucket
    Jaccard grows with Σ|bucket|² (quadratic under template-heavy
    corpora; measured 11× wall for 10× docs). Singleton documents
    appear with cluster_size 1.
    """
    from .graph import connected_components  # local: avoid cycle at import

    pairs = _default_pairs(df, id_col, text_col, k, threshold)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=df, node_id=id_col,
        edges_canonical=True,
    )
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
        .select(F.col("component").alias("keep_id"), "cluster_size")
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score: Column | None = None,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware survivor per near-dup cluster: ``(id, cluster_size,
    score)`` for the highest-``score`` member of each cluster (ties break
    to the min id — deterministic, oracle-reproducible).

    The production corpus-dedup policy: min-id representatives (the
    :func:`near_dup_clusters` default) throw away quality information —
    when a cluster holds a clean original and a boilerplate-wrapped
    scrape, the pipeline should keep the better document, not the one
    with the smaller id. ``score`` is any deterministic Column over the
    document row (default: whitespace token count).

    Scale shape: components come from the O(log n)-round star algorithm;
    survivor selection is ONE extra shuffle on the component key — both
    window functions (rank, cluster size) share its partitioning, and
    per-reducer state is bounded by the largest cluster, the same bound
    the clustering itself must satisfy.
    """
    from .graph import connected_components  # local: avoid cycle at import
    from .text import token_count

    pairs = _default_pairs(df, id_col, text_col, k, threshold)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=df, node_id=id_col,
        edges_canonical=True,
    ).withColumnRenamed("id", id_col)
    score_col = score if score is not None else token_count(F.col(text_col))
    scored = df.select(F.col(id_col), score_col.alias("score")).join(
        comp, on=id_col
    )
    w = Window.partitionBy("component")
    rn = F.row_number().over(w.orderBy(F.col("score").desc(), F.col(id_col)))
    return (
        scored.select(
            id_col,
            F.count("*").over(w).alias("cluster_size"),
            "score",
            rn.alias("_rn"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def drop_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    n_docs: int | None = None,
    _stats: dict | None = None,
) -> DataFrame:
    """The near-dup-filtered corpus: one representative per cluster.

    Filters by ANTI-joining the non-representative members (id ≠ its
    component min) instead of semi-joining :func:`near_dup_clusters`'s
    corpus-sized keep set. Because singletons can never be dropped,
    components only need the nodes that actually appear in a near-dup
    pair — no full-corpus id union — and the anti-join's build side is
    just the dropped members (broadcast-pruned by AQE on real corpora,
    where duplicates are a small fraction). Output rows are identical
    to the keep-set formulation. ``n_docs``, when the caller already
    holds the corpus count, skips the size-dispatch probe job.

    ``_stats`` (optional dict) receives the component solver's run
    record (``edges``, ``rounds``, and — on the driver union-find path —
    ``non_root``, the exact drop-set size): callers can read
    ``rounds == 0`` to learn the drop relation is DRIVER-LOCAL data,
    i.e. this frame is a cheap broadcast anti-join over ``df`` with no
    expensive upstream left in its plan (plan-shape information only;
    the rows are identical either way).
    """
    from .graph import connected_components  # local: avoid cycle at import

    pairs = _default_pairs(df, id_col, text_col, k, threshold, n_docs=n_docs)
    comp = connected_components(
        pairs, "id_a", "id_b", edges_canonical=True, _stats=_stats
    )
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Document pairs with word-k-shingle Jaccard ≥ threshold.

    Plan (join-free): per-doc distinct shingles (narrow) → explode →
    group docs per shingle (shuffle 1) → emit id-ordered pair combinations
    from each group with higher-order functions → count per pair
    (shuffle 2) → Jaccard = |∩| / (|A|+|B|-|∩|). Avoids the classic
    self-equi-join, which scans and shingles the corpus twice and doubles
    the shuffle volume.

    Shingles held by more than 1,000 documents are dropped before pair
    expansion — at 100 TB the stopword-shingle skew otherwise makes a
    few groups quadratic; the cap only loses pairs whose *every* common
    shingle is ubiquitous, which at any real threshold means
    boilerplate, not content. Even with the cap, Σ|bucket|² grows
    quadratically when shingles are corpus-wide templates; use
    :func:`minhash_lsh_pairs` (the :func:`near_dup_clusters` default) for
    candidate-linear behavior. Output: ``(id_a, id_b, jaccard)`` with
    id_a < id_b.
    """
    docs = _with_shingles(df, id_col, text_col, k).withColumn("_n", F.size("_sh"))
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # size(...)>0 filter that gets pushed below the fan-out repartition,
    # inlining the whole shingle expression into a single-partition filter
    # (measured: the entire shingling ran twice, once serially)
    exploded = docs.select(
        F.explode_outer("_sh").alias("_s"),
        F.struct(F.col("_id").alias("id"), F.col("_n").alias("n")).alias("_d"),
    ).filter(F.col("_s").isNotNull())
    groups = exploded.groupBy("_s").agg(
        F.array_sort(F.collect_list("_d")).alias("_ds")
    )
    groups = groups.filter(F.size("_ds") <= 1000)
    groups = _observe_buckets(groups, F.size("_ds"), "ngram_jaccard")
    # all (i<j) combinations within a shingle group, id-ordered via the sort
    combos = F.flatten(
        F.transform(
            F.col("_ds"),
            lambda x, i: F.transform(
                F.slice(F.col("_ds"), i + 2, F.size(F.col("_ds"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        groups.select(F.explode_outer(combos).alias("_p"))
        .filter(F.col("_p").isNotNull())
        .groupBy(
            F.col("_p.a.id").alias("id_a"),
            F.col("_p.b.id").alias("id_b"),
            F.col("_p.a.n").alias("n_a"),
            F.col("_p.b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return observe_output(pairs, "ngram_jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: lane count above which the signature (and its banding) switch from
#: the unrolled per-lane xxhash64 expressions to the loop-form (HOF)
#: 2-universal family: the unrolled tree at hundreds of lanes blows
#: whole-stage codegen into interpreted fallback (measured: 7 s → 100 s
#: at 400 lanes on the 10× tier), while the HOF plan is one
#: constant-size expression whose lane loop runs at execution time.
MINHASH_UNROLL_MAX = 128


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 3,
) -> DataFrame:
    """(doc_id, signature array<bigint>[num_perm]) min-reduction over
    word shingles — one narrow map, no shuffle, no UDF.

    Two physical forms with the same statistical contract
    (P(lane match) = Jaccard):

    * ``num_perm ≤`` :data:`MINHASH_UNROLL_MAX` — one ``array_min``
      of ``xxhash64(s, i)`` per lane, unrolled. Fastest at bench lane
      counts; the tree grows linearly with lanes.
    * larger — each shingle string is hashed ONCE into a staged 64-bit
      value JVM-side (codegen), then ONE Arrow-batched pandas UDF
      computes every lane as a vectorized splitmix64 finalize + seeded
      offset over the flat shingle-hash array with per-document
      ``np.minimum.reduceat`` — the :func:`sign_lsh_band_buckets`
      execution shape. Two rejected alternatives, both measured on the
      10× tier: nested ``transform(sequence(...))`` HOFs evaluate
      INTERPRETED (no whole-stage codegen for lambda bodies — 181 s vs
      ~20 s for the whole query at 171 lanes), and the algebraic
      2-universal family ``a + i·b`` breaks min-wise independence (for
      i ≥ 2 the ``b`` term dominates the ordering, so every high lane
      shares one argmin and band collisions stop tracking Jaccard).

    Shingles are staged as a materialized column so the signature
    expression references a small input (see _with_shingles); _sh is
    guaranteed non-empty, so the signature is never NULL — no
    size()/NULL guard (such a guard becomes a pushable predicate that
    re-inlines the shingle pipeline below the exchange)."""
    return _sigs_from_hashes(
        _hashed_shingles(df, id_col, text_col, k), num_perm
    )


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(_id, _hh): each document's DISTINCT shingles as 64-bit
    ``xxhash64`` fingerprints — the lightweight proxy every MinHash
    consumer works from. Each shingle STRING is hashed exactly once
    (staged so CollapseProject cannot inline the hash into every lane
    of a downstream signature); banding lanes remix the 8-byte hash,
    and true-Jaccard verification intersects the same fingerprints
    (set/intersection sizes preserved barring ~|sh|²/2⁶⁵ per-document
    collisions — see :func:`verified_jaccard_pairs`)."""
    return _with_shingles(df, id_col, text_col, k).select(
        "_id", F.expr("transform(_sh, s -> xxhash64(s))").alias("_hh")
    )


def _sigs_from_hashes(hh: DataFrame, num_perm: int) -> DataFrame:
    """(doc_id, signature) from a hashed-shingle relation
    (:func:`_hashed_shingles`). Lane i takes the per-document min of
    ``xxhash64(h, i)`` over the base hashes — mix(i, mix(s)) is a
    pseudorandom function of the shingle for each fixed i, so
    P(lane match) = Jaccard exactly as when each lane re-hashed the
    shingle string (which paid ~num_perm× the variable-length hashing
    cost for identical banding semantics)."""
    if num_perm <= MINHASH_UNROLL_MAX:
        # One expr() string, not num_perm Column subtrees: each Column
        # call is a driver round-trip and 64 min-hash lanes cost ~0.5 s
        # of pure plan construction per invocation (see SCALE.md).
        sig = F.expr(
            "array("
            + ", ".join(
                f"array_min(transform(_hh, h -> xxhash64(h, {i})))"
                for i in range(num_perm)
            )
            + ")"
        )
    else:
        sig = _minhash_sigs_arrow(num_perm)(F.col("_hh"))
    return hh.select(F.col("_id").alias("doc_id"), sig.alias("signature"))


def _minhash_sigs_arrow(num_perm: int):
    """Arrow-batched wide-lane MinHash kernel: array<long> shingle
    hashes → array<long>[num_perm] signature.

    Per batch: the rows' hash arrays are flattened once; for each lane
    a seeded splitmix64 finalizer (Steele et al., public domain — the
    java.util.SplittableRandom mixer) remixes the flat array and
    ``np.minimum.reduceat`` takes per-document minima — every operation
    a full-width numpy uint64 vector op, no per-element Python. Lane
    values are independent-ish random functions of the shingle hash, so
    P(lane match) = Jaccard exactly as for the unrolled xxhash64 lanes
    (signature VALUES differ between the two forms; only banding
    semantics are contractual). Input arrays are non-empty by the
    :func:`_with_shingles` contract."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(hs: pd.Series) -> pd.Series:
        if hs.empty:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        flat = np.concatenate(arrs).view(np.uint64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        mins = _lane_mins(flat, starts, num_perm)
        sigs = np.ascontiguousarray(mins.T).view(np.int64)
        return pd.Series(list(sigs))

    return _sigs


def _splitmix64(z: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer (Steele et al. — the
    java.util.SplittableRandom mixer; public domain constants) over a
    uint64 array. Array integer arithmetic wraps silently in numpy —
    exactly the mod-2^64 semantics the mixer wants."""
    z = z ^ (z >> np.uint64(30))
    z = z * np.uint64(0xBF58476D1CE4E5B9)
    z = z ^ (z >> np.uint64(27))
    z = z * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _lane_mins(
    flat: "np.ndarray", starts: "np.ndarray", num_perm: int
) -> "np.ndarray":
    """(num_perm, n_docs) per-lane minima over per-document segments of
    the flat shingle-hash array. Lane i remixes the flat array with a
    golden-ratio seed offset (masked Python-int arithmetic — numpy
    SCALAR overflow warns where array overflow wraps) and reduces
    segment minima in one ``np.minimum.reduceat``."""
    mins = np.empty((num_perm, starts.shape[0]), dtype=np.uint64)
    for i in range(num_perm):
        seed = np.uint64(((i + 1) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        z = _splitmix64(flat + seed)
        mins[i] = np.minimum.reduceat(z, starts)
    return mins


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
) -> DataFrame:
    """(doc_id, band, bucket): the banded-LSH blocking relation — and
    the PERSISTENT INDEX format for incremental dedup. Save it
    (parquet, partitioned however reads like) when a corpus batch is
    ingested; later batches join their own band rows against it
    (:func:`incremental_minhash_pairs`) instead of re-hashing the whole
    corpus. Narrow map over the signatures; bands × rows per doc.

    INDEX CONTRACT: the shape is part of the persisted format — every
    later batch must band with the SAME (num_perm, bands), and the
    incremental recall equals THIS shape's recall, not the auto shape
    the full-rebuild path would pick for the grown corpus. Size the
    index shape once, for the dedup policy's threshold, e.g. from
    :func:`_auto_minhash_shape` at the corpus's expected magnitude (the
    static default here is the r=2 floor shape: miss ≤ 1e-4 at j = 0.5,
    ≤ 6e-7 at j ≥ 0.6)."""
    return _band_rows_from_hashes(
        _hashed_shingles(df, id_col, text_col, k), num_perm, bands
    )


def _band_rows_from_hashes(
    hh: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    """(doc_id, band, bucket) from a hashed-shingle relation — the
    banding engine behind :func:`minhash_band_rows`, split out so a
    caller that ALSO needs the fingerprints for verification
    (:func:`_minhash_lsh_pairs_direct`) can pin one relation and feed
    both consumers instead of tokenizing + shingling the corpus twice.

    bucket = hash of the band's signature lanes AS LONGS (band id as a
    hashed column) — equal lane values collide to equal buckets per
    band, so blocking semantics and the banding recall bound are those
    of classic banded MinHash. The JVM/Arrow gate tests TOTAL lane
    count, not band count: the unrolled entries reference each lane
    exactly once, so the expression tree is num_perm terms whatever the
    (r, b) split. Gating on bands alone sent the bench-scale auto shape
    (98 lanes, 49 bands at t=0.5) through the Arrow kernel and its
    JVM↔Python hop: measured 10.8 s vs 2.6 s best-of-4 for
    dedup_components at sf0.1 (plans/r10)."""
    rows_per_band = num_perm // bands
    if num_perm <= MINHASH_UNROLL_MAX:
        sigs = _sigs_from_hashes(hh, num_perm)
        entries = ", ".join(
            "named_struct('band', {b}, 'bucket', "
            "xxhash64({cols}, {b}))".format(
                b=b,
                cols=", ".join(
                    f"signature[{b * rows_per_band + r}]"
                    for r in range(rows_per_band)
                ),
            )
            for b in range(bands)
        )
        return sigs.select(
            "doc_id", F.expr(f"explode(array({entries}))").alias("bb")
        ).select("doc_id", "bb.band", "bb.bucket")
    # wide bandings fold lane → bucket INSIDE the same Arrow kernel that
    # computes the lane minima (one UDF, no signature materialization;
    # a JVM HOF fold here would run interpreted — the
    # MINHASH_UNROLL_MAX story): bucket = splitmix64 chain over the
    # band's lanes, seeded with the band index so equal lane values in
    # DIFFERENT bands never cross-collide
    banded = hh.select(
        F.col("_id").alias("doc_id"),
        _minhash_band_buckets_arrow(num_perm, bands)(F.col("_hh")).alias(
            "_bkts"
        ),
    )
    return banded.select(
        "doc_id", F.posexplode("_bkts").alias("band", "bucket")
    )


def _minhash_band_buckets_arrow(num_perm: int, bands: int):
    """Arrow-batched banding kernel: array<long> shingle hashes →
    array<long>[bands] band buckets (band identity lives in the
    position; the bucket value is seeded with the band index). The
    per-lane minima come from :func:`_lane_mins`; the ``rows_per_band``
    lanes of each band chain through the splitmix64 mixer — all
    (docs × bands) vectorized."""
    from pyspark.sql.functions import pandas_udf

    rows_per_band = num_perm // bands

    @pandas_udf("array<long>")
    def _buckets(hs: pd.Series) -> pd.Series:
        if hs.empty:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        flat = np.concatenate(arrs).view(np.uint64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        mins = _lane_mins(flat, starts, bands * rows_per_band)
        # (docs, bands, rows_per_band)
        lanes = np.ascontiguousarray(mins.T).reshape(
            len(arrs), bands, rows_per_band
        )
        acc = np.broadcast_to(
            np.arange(bands, dtype=np.uint64), (len(arrs), bands)
        ).copy()
        for j in range(rows_per_band):
            acc = _splitmix64(acc ^ lanes[:, :, j])
        return pd.Series(list(acc.view(np.int64)))

    return _buckets


def _auto_minhash_shape(
    n: int, threshold: float, miss: float = 1e-6
) -> tuple[int, int]:
    """(num_perm, bands) sized for the corpus — the
    :func:`_auto_lsh_shape` / :func:`..contamination._auto_decon_shape`
    treatment applied to MinHash banding (VERDICT r9 #1, the last
    static-shape engine).

    The knob is ``r`` = rows per band. A pair at Jaccard j collides in
    one band with j^r, and bands are solved to keep the miss bound at
    the threshold: b = ⌈ln(1/miss) / −ln(1 − t^r)⌉, so the expected
    false-positive collisions for a sub-threshold pair at similarity s
    are b·s^r ≈ ln(1/miss)·(s/t)^r — each +1 of r cuts the FP bill by
    t/s (≈4–5× at the measured FP mode: the 10×/100× synthetic tiers
    put the cross-copy mass at j ≈ 0.13 against t = 0.6) while the
    true-pair bill only grows with b. Pair count grows with n², so r
    grows one step per 4× of corpus (log₄) past the 64k floor where
    the measured r=2 bill is already output-scale; the cap at r=6
    bounds num_perm = r·b (at t=0.6: r=6 → b=289 → 1,734 lanes — the
    HOF signature's constant-tree form keeps that affordable, see
    :data:`MINHASH_UNROLL_MAX`).

    The bucket-level candidate bill has a floor the shape cannot cross:
    every true pair collides in ~b·p(t_pair)^r bands (it is OUTPUT, re-
    discovered once per matching band before the distinct) — the banded
    analog of exact pair enumeration being output-bound. The auto shape
    minimizes the sum of that floor and the FP term at the measured
    corpus size; misses stay ≤ ``miss`` per admitted pair at any n.

    The oracle stays the brute-force true-Jaccard join at every shape:
    banding only affects recall (bounded above), never precision
    (candidates verify exact), so no oracle-side banding replication is
    needed.

    At the r=2 FLOOR (n ≤ 64k) bands solve the ``miss`` bound but are
    capped at ``max(32, b(1e-4))``: at t = 0.5 the solved b = 49 costs
    53% more banding than the b = 32 shape six rounds of three-sf
    sweeps and the 10×/100× tiers validated hash-equal, for an FP bill
    that is already negligible at floor corpus sizes (measured sf0.1:
    3.21 s vs 2.58 s best-of-5 at IDENTICAL 256-pair output — see
    OPTIMIZATION_r10.md). The cap never weakens the per-pair miss past
    1e-4 (the proven floor figure; at t ≥ 0.6 the uncapped ≤32-band
    solution already meets 1e-6 and is kept). Past the knee the solved
    b restores ≤ ``miss`` uncapped — the at-threshold pair population
    grows ∝ n², so the tighter bound binds exactly where it matters."""
    import math

    def solve_b(per_band: float, m: float) -> int:
        return max(8, math.ceil(math.log(m) / math.log(1.0 - per_band)))

    r = 2
    if n > 64_000:
        r = min(6, 2 + math.ceil(math.log(n / 64_000, 4)))
    t = min(max(threshold, 0.05), 0.999)
    per_band = t**r
    b = solve_b(per_band, miss)
    if r == 2:
        b = min(b, max(32, solve_b(per_band, 1e-4)))
    return r * b, b


#: per-band-bucket cap of the MinHash and embedding LSH engines: band
#: buckets holding more ids are dropped before pair expansion (see
#: :func:`candidate_pairs_from_buckets`)
LSH_BUCKET_CAP = 4096


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH.

    Candidate pairs share ≥1 band: ids are grouped per (band, bucket) and
    pair combinations emitted directly (see
    :func:`candidate_pairs_from_buckets`) — the signature pipeline runs
    once, not once per join side. The candidates are checked against
    true shingle Jaccard (joining the shingle sets back in), so the
    output has no LSH false positives.

    **Band shape**: rows-per-band and band count are sized from the
    measured distinct-content count via :func:`_auto_minhash_shape` —
    the count rides the collapse probe below (zero extra jobs). A
    FIXED (r, b) is corpus-quadratic in false positives (per-pair collision b·j^r is constant
    while sub-threshold pairs grow ∝ n²; measured: 21.5M candidates for
    25,600 true pairs at the 100× tier under static r=2·b=32), so r
    steps up one per 4× of corpus past 64k distinct contents and b
    restores P(miss | j ≥ threshold) ≤ 1e-6 — except at the r=2 floor
    (n ≤ 64k), where the band-count cap trades the bound to ≤ 1e-4 for
    thresholds below ~0.6 (see :func:`_auto_minhash_shape`; at j ≥ 0.6
    the uncapped solution already meets 1e-6). The persistent-index
    entry points (:func:`minhash_band_rows`,
    :func:`incremental_minhash_pairs`) stay explicitly-shaped — an
    index must band new batches exactly as it banded old ones.

    **Content collapse**: documents with IDENTICAL text — the
    exact-clone families that occupy LSH buckets on real web
    corpora — are exact Jaccard-twins: equal
    shingle sets, hence equal signatures (so equal band buckets),
    Jaccard 1 among themselves, and equal true Jaccard to any third
    document (Jaccard is a function of the set). Banding, candidate
    generation, and verification therefore run over ONE representative
    per distinct text (keyed by a 128-bit double-xxhash64 of the raw
    text — one hash scan, no extra shingle pass); members rejoin
    afterwards via :func:`expand_group_pairs`, inheriting the
    representative pair's verified Jaccard, and within-group pairs are
    emitted directly with Jaccard 1.0. Below the bucket cap the output
    is EXACTLY equal to the uncollapsed banded path, pair for pair —
    identical signatures make even the banding miss pattern identical —
    while the clone families' candidate bill becomes output (which any
    exact pair enumeration is lower-bounded by) instead of Σ|bucket|²
    join work. At the cap the two paths differ BY DESIGN on clone
    families: the collapsed plan emits them as output (they are never
    candidates, so never capped), while the uncollapsed plan can cap
    their mega-bucket away.

    Clone-free corpora pay for none of this beyond the singleton probe:
    ONE aggregate job (:func:`content_groups` — count + per-group sizes
    riding the group pin), after which a no-clones verdict dispatches
    straight to the direct banded plan (VERDICT r8 #1), as does a clone
    bill too small to pay for the collapse joins (:func:`collapse_pays`).

    :data:`LSH_BUCKET_CAP` drops band buckets larger than the cap
    before pair expansion — the Σ|bucket|² backstop
    against boilerplate corpora where one band value hashes a large
    fraction of DISTINCT contents (recall is lost only for pairs whose
    EVERY matching band is such a mega-bucket; clone-family pairs are
    never lost — they are output, not candidates). Candidate-bill
    metrics ride the plan under the ``minhash_lsh`` label
    (:data:`CANDIDATE_METRICS`), counted over representatives.
    Output: ``(id_a, id_b, jaccard)``, id_a < id_b.
    """
    # 128-bit raw-text key. Empty-normalized documents are excluded
    # exactly as the banded path excludes them (_with_shingles drops
    # them before signing), so the within-group emission can never
    # resurrect a document the uncollapsed path would not pair.
    keyed = df.filter(_has_content(F.col(text_col))).select(
        F.col(id_col).alias("_id"),
        F.xxhash64(F.col(text_col), F.lit(1)).alias("_g1"),
        F.xxhash64(F.col(text_col), F.lit(2)).alias("_g2"),
    )
    groups, n_groups, n_members, f_max, f2_sum = content_groups(
        keyed, ["_g1", "_g2"]
    )
    # shaped from the DISTINCT-content count the collapse probe already
    # measured (zero extra jobs): the banded relation is reps on the
    # collapse route, and on the direct route clones band identically so
    # distinct contents still drive the FP economics
    num_perm, bands = _auto_minhash_shape(n_groups or 0, threshold)
    if not collapse_pays(
        n_groups, n_members, f_max, f2_sum, bands, LSH_BUCKET_CAP
    ):
        # clone-free or sparse-clone corpus: the direct banded plan is
        # pair-for-pair identical (identical texts band identically and
        # verify at Jaccard 1.0 as ordinary candidates) and skips the
        # probe pin, five joins, and the union — the common case on
        # deduplicated or lightly-duplicated corpora, exactly the regime
        # where the collapse machinery is pure overhead (see
        # collapse_pays for the cap-contract boundary).
        return observe_output(
            _minhash_lsh_pairs_direct(
                df, id_col, text_col, num_perm, bands, k, threshold,
                n_docs=n_members or None,
            ),
            "minhash_lsh",
        )
    # pinned: both expansion sides + the within self-join reference the
    # member relation; unpinned each would re-run the hash scan
    members = keyed.localCheckpoint(eager=True)
    rep_docs = df.join(
        groups.select(F.col("_rid").alias(id_col)), on=id_col, how="left_semi"
    )
    rep_pairs = _minhash_lsh_pairs_direct(
        rep_docs, id_col, text_col, num_perm, bands, k, threshold,
        n_docs=n_groups or None,
    )
    # map each rep id back to its group key, then expand to members
    # (output-linear; see expand_group_pairs)
    group_pairs = (
        rep_pairs.join(
            groups.select(
                F.col("_rid").alias("id_a"),
                F.col("_g1").alias("_g1_a"),
                F.col("_g2").alias("_g2_a"),
            ),
            on="id_a",
        )
        .join(
            groups.select(
                F.col("_rid").alias("id_b"),
                F.col("_g1").alias("_g1_b"),
                F.col("_g2").alias("_g2_b"),
            ),
            on="id_b",
        )
        .select("_g1_a", "_g2_a", "_g1_b", "_g2_b", "jaccard")
    )
    out = expand_group_pairs(
        members,
        ["_g1", "_g2"],
        group_pairs,
        "jaccard",
        # within-group pairs: identical shingle sets, true Jaccard 1.0
        within_score=F.lit(1.0) if threshold <= 1.0 else None,
    )
    return observe_output(out, "minhash_lsh")


def _minhash_lsh_pairs_direct(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    k: int,
    threshold: float,
    n_docs: int | None = None,
) -> DataFrame:
    """The uncollapsed banded plan (band → bucket-pair → verify) —
    :func:`minhash_lsh_pairs`'s engine, run over representatives when
    content collapse is on.

    On the measured-small path (n_docs ≤
    :data:`VERIFY_FULL_SHINGLE_MAX`) the hashed-shingle relation is
    pinned ONCE and feeds banding AND both verification join sides:
    unshared, the corpus was tokenized + shingled twice — once by the
    verification pin, once again inside the banding pipeline of the
    final action (measured 2.75 → 2.51 s best-of-4 for the sf0.1 bench
    minhash entry, with the staged base-hash lanes landing the same
    commit)."""
    shared = n_docs is not None and n_docs <= VERIFY_FULL_SHINGLE_MAX
    if shared:
        hh = _hashed_shingles(df, id_col, text_col, k).localCheckpoint(
            eager=True
        )
        banded = _band_rows_from_hashes(hh, num_perm, bands)
    else:
        banded = minhash_band_rows(df, id_col, text_col, num_perm, bands, k)

    # the banding relation's cardinality is KNOWN when n_docs is
    # (n_docs × bands rows of ~28 B: id, band, bucket) — size the
    # bucket-grouping exchange from it instead of letting
    # candidate_pairs_from_buckets probe optimizer stats + df.rdd,
    # two driver planning passes per invocation over the banding tree
    nparts = None
    if n_docs is not None:
        from ..runtime.checkpoint import sized_agg_partitions

        nparts = sized_agg_partitions(
            df.sparkSession, n_docs * bands * 28
        )
    cands = candidate_pairs_from_buckets(
        banded,
        ["band", "bucket"],
        num_partitions=nparts,
        max_bucket_size=LSH_BUCKET_CAP,
        metrics_label="minhash_lsh",
    )

    if shared:
        return verified_jaccard_pairs(
            cands, df, id_col, text_col, k, threshold, n_docs=n_docs,
            shingles=hh,
        )

    return verified_jaccard_pairs(
        cands, df, id_col, text_col, k, threshold, n_docs=n_docs
    )


#: corpus size under which the verification shingles the WHOLE corpus
#: instead of semi-joining it down to candidate members first: below it
#: the semi-join saves less shingling than its two driver-synchronized
#: jobs cost (the candidate pin + the id-set distinct), and leaving the
#: candidate relation single-referenced fuses its generation into the
#: final join action (measured: 2.73 → ~2.1 s for the sf0.1 bench
#: minhash entry).
VERIFY_FULL_SHINGLE_MAX = 100_000


def verified_jaccard_pairs(
    cands: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    n_docs: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """True-Jaccard verification of an (id_a, id_b) candidate relation
    against ``corpus`` texts.

    ``shingles``: an already-materialized (pinned) hashed-shingle
    relation ``(_id, _hh)`` (:func:`_hashed_shingles`) covering every
    document that can appear in ``cands`` — when given, the corpus is
    not re-tokenized at all; both join sides read the caller's pin
    (the caller typically derived the banding from the same relation).

    Shingles only documents that appear in a candidate pair — semi-join
    the corpus down FIRST, then shingle the survivors. Re-shingling the
    full corpus for each join side costs two extra full scans +
    normalization passes; at 100 TB the candidate set is orders of
    magnitude smaller than the corpus (AQE broadcasts the id set when
    it fits).

    Verification runs over ``xxhash64`` shingle fingerprints instead of
    the shingle strings: set sizes and intersection sizes — hence the
    Jaccard value — are preserved barring a ~|sh|²/2⁶⁵ per-document hash
    collision (the ``doc_span_scrub``/``repeated_span_scrub`` ranking-key
    argument; the
    oracle hash-match at every scale factor is the standing evidence),
    while the pinned relation and the two verification joins carry
    8 bytes per shingle instead of the k-token text — at corpus scale
    the candidate join's shuffle weight is THE verification cost
    (measured: the 100× minhash tier ships millions of candidate pairs
    with both shingle arrays attached).

    ``n_docs`` (when the caller already measured the corpus — the
    content_groups probe, an observe riding an upstream write) picks
    between two verification shapes with identical output: corpora ≤ :data:`VERIFY_FULL_SHINGLE_MAX` shingle
    the whole corpus and keep the candidate relation single-referenced
    (no pin — candidate generation fuses into the final join action);
    larger or unmeasured corpora pin the candidates and semi-join the
    corpus down first, the 100 TB shape (candidates ≪ corpus, so the
    saved shingling dwarfs the pin)."""
    if shingles is not None:
        shing = shingles.select("_id", F.col("_hh").alias("_sh"))
    else:
        if n_docs is not None and n_docs <= VERIFY_FULL_SHINGLE_MAX:
            cand_docs = corpus
        else:
            cands = cands.localCheckpoint(eager=True)  # pin: id set + joins
            cand_ids = (
                cands.select(F.col("id_a").alias(id_col))
                .unionByName(cands.select(F.col("id_b").alias(id_col)))
                .distinct()
            )
            cand_docs = corpus.join(cand_ids, on=id_col, how="left_semi")
        shing = _hashed_shingles(cand_docs, id_col, text_col, k).select(
            "_id", F.col("_hh").alias("_sh")
        )
        # pin: referenced by both join sides; bounded by the candidate set
        shing = shing.localCheckpoint(eager=True)
    sa = shing.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sb = shing.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cands.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    old_index: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new batch, against a previously saved
    band index (:func:`minhash_band_rows` of every prior batch) — the
    incremental-ingestion shape: each refresh hashes only its own
    batch, joins the bounded band relation, and never re-pairs
    old-vs-old (whose pairs were already emitted when those batches
    landed). ``prior pairs ∪ incremental pairs == full-corpus pairs``
    exactly (pinned in tests), because the banding is deterministic and
    candidate generation splits cleanly into new-new (in-batch bucket
    combinations) + new-old (an equi-join on (band, bucket)).

    ``corpus`` supplies texts for verification (new + any old doc that
    became a candidate — semi-joined down before shingling).
    ``old_index`` rows for ids also present in ``new_docs`` are ignored
    (re-ingestion safe). At 100 TB the per-refresh cost is
    O(batch + matched buckets), not O(corpus).

    INDEX FORMAT BREAK (round 10): the lane scheme changed from
    ``xxhash64(shingle, i)`` to ``xxhash64(xxhash64(shingle), i)``
    (hash each shingle string once, remix the 64-bit value per lane —
    same banding statistics, ~num_perm× less variable-length hashing).
    Signatures and band buckets therefore differ from indexes persisted
    by earlier builds: joining an OLD index against NEW batches silently
    stops matching (missed new-vs-old pairs) — there is no version
    marker in the band-row format. Rebuild persisted indexes with
    :func:`minhash_band_rows` at the current scheme before resuming
    incremental ingestion."""
    new_bands = minhash_band_rows(
        new_docs, id_col, text_col, num_perm, bands, k
    ).localCheckpoint(eager=True)  # reused by both candidate branches
    new_new = candidate_pairs_from_buckets(new_bands, ["band", "bucket"])
    new_ids = new_bands.select("doc_id").distinct()
    old = (
        old_index.join(new_ids, on="doc_id", how="left_anti")
        .select(F.col("doc_id").alias("_old_id"), "band", "bucket")
    )
    new_old = (
        new_bands.join(old, on=["band", "bucket"])
        .select(
            F.least(F.col("doc_id"), F.col("_old_id")).alias("id_a"),
            F.greatest(F.col("doc_id"), F.col("_old_id")).alias("id_b"),
        )
        .distinct()
    )
    cands = new_new.unionByName(new_old).distinct()
    return verified_jaccard_pairs(cands, corpus, id_col, text_col, k, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_mask(i: int) -> int:
    """Signed-long literal with only bit i set (bit 63 = sign bit)."""
    return (1 << i) if i < 63 else -(1 << 63)


def md5_hash60(col: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix — slower than xxhash64
    but **SQL-reproducible** (DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT),
    so SimHash outputs built on it can be oracle-checked bit-for-bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def with_simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 1,
    out_col: str = "fp",
    hash_fn=None,
    nbits: int = 64,
) -> DataFrame:
    """(doc_id, fp): ``nbits``-bit SimHash, staged through materialized
    columns (shingles → hashes → nbits scalar bit-vote folds → fp) to keep
    each expression tree small and allocation-free. ``hash_fn`` maps a
    shingle Column to an integer hash Column (default seedless xxhash64,
    the fast path; pass :func:`md5_hash60` with nbits=60 for an
    oracle-reproducible fingerprint)."""
    hf = hash_fn or (lambda s: F.xxhash64(s))
    # votes/fp as expr() strings: one driver call per column instead of
    # ~10 per bit (see SCALE.md). Each vote is a scalar fold, with no
    # per-shingle vote array to allocate.
    vote = (
        "aggregate(_h, 0, (acc, h) -> acc + "
        "(CASE WHEN (h & CAST('{m}' AS BIGINT)) != 0 THEN 1 ELSE -1 END))"
    )
    voted = (
        _with_shingles(df, id_col, text_col, k)
        .select("_id", F.transform(F.col("_sh"), hf).alias("_h"))
        .select(
            "_id",
            *[
                F.expr(vote.format(m=_bit_mask(i))).alias(f"_v{i}")
                for i in range(nbits)
            ],
        )
    )
    fp = "CAST(0 AS BIGINT)"
    for i in range(nbits):
        fp = (
            f"({fp} | (CASE WHEN _v{i} > 0 THEN CAST('{_bit_mask(i)}' AS "
            "BIGINT) ELSE CAST(0 AS BIGINT) END))"
        )
    return voted.select(
        F.col("_id").alias("doc_id"), F.expr(fp).alias(out_col)
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn=None,
    nbits: int = 64,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of the
    ``nbits``-bit word SimHash.

    Blocking: split the fingerprint into ``max_hamming+1`` equal bands;
    by pigeonhole any pair within distance d agrees exactly on ≥1
    band → candidates come from band equi-joins, verified with bit_count.
    The blocking is therefore EXACT (no false negatives), whatever the
    hash — the pair set equals a brute-force Hamming scan. Candidate-
    bill metrics ride under the ``simhash`` label.
    """
    fp = with_simhash64(df, id_col, text_col, hash_fn=hash_fn, nbits=nbits)
    return hamming_pairs(
        fp, "doc_id", "fp", max_hamming, nbits, metrics_label="simhash"
    )


def _hamming_blocks_auto(
    n_distinct: int,
    max_hamming: int,
    nbits: int,
    budget_per_fp: int = 32,
    combo_cap: int = 512,
) -> int:
    """Block count ``g`` for the generalized-pigeonhole Hamming banding,
    sized from the MEASURED distinct-fingerprint count (VERDICT r8 #2).

    With ``g`` blocks and distance ≤ h, the differing bits touch ≤ h
    blocks, so some (g−h)-subset of blocks matches exactly — indexing
    every C(g, h) combination of (g−h) blocks keeps the blocking EXACT
    (no false negatives) while each index key carries (g−h)·(nbits//g)
    bits instead of nbits//(h+1). That is the escape from the fixed
    g = h+1 occupancy wall: bucket space per band grows from 2^(nbits/
    (h+1)) to 2^((g−h)·nbits/g), so the expected random-occupancy
    candidate bill C(g,h) · d² / 2^keybits collapses (measured 731M
    candidates at the 100× media tier with g = h+1 = 6, 10-bit chunks,
    d ≈ 550k distinct fingerprints — SCALE_CHECK_100), at the cost of
    C(g,h) band rows per fingerprint instead of h+1 (the classic
    block-permuted SimHash index trade, Manku et al., WWW'07).

    Returns the smallest g ≥ h+1 whose uniform-occupancy estimate fits
    ``max(1e6, budget_per_fp · d)`` candidates, stopping at
    ``combo_cap`` combinations / 63 packed key bits and returning the
    best seen if no g fits. Small corpora (every bench/oracle scale)
    stay at g = h+1 — the plan, the band rows, and the persisted index
    format are unchanged there."""
    from math import comb

    h = max_hamming
    if h <= 0 or n_distinct <= 0:
        return h + 1
    budget = max(1_000_000, budget_per_fp * n_distinct)
    best_g, best_est = h + 1, None
    g = h + 1
    while True:
        width = nbits // g
        if width < 1:
            break
        keybits = (g - h) * width
        combos = comb(g, h)
        if combos > combo_cap or (g > h + 1 and keybits > 63):
            break
        est = combos * float(n_distinct) * n_distinct / float(2 ** min(keybits, 63))
        if best_est is None or est < best_est:
            best_g, best_est = g, est
        if est <= budget:
            return g
        g += 1
    return best_g


def hamming_band_rows(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
    nbits: int = 64,
    blocks: int | None = None,
) -> DataFrame:
    """``(doc_id, fp, band, chunk)`` — the pigeonhole band relation of an
    integer-fingerprint corpus, the PERSISTABLE Hamming index: two
    fingerprints within distance ``max_hamming`` agree exactly on ≥1 of
    the index's bands, so candidate lookups are equi-joins on
    ``(band, chunk)`` and the fingerprint rides along for index-local
    verification. Deterministic (pure bit arithmetic), so batch and
    incremental candidate generation split cleanly (the
    :func:`minhash_band_rows` contract).

    ``blocks`` (default ``max_hamming+1``) generalizes the pigeonhole:
    the fingerprint splits into ``g = blocks`` equal blocks and each
    band is one of the C(g, max_hamming) combinations of (g −
    max_hamming) blocks, packed into one long key — a pair within
    distance h damages ≤ h blocks, so its untouched (g−h)-block
    combination still matches exactly (see :func:`_hamming_blocks_auto`
    for why and when to widen). ``blocks == max_hamming+1`` reproduces
    the classic one-block-per-band layout byte-for-byte, which is what
    persisted indexes use."""
    from itertools import combinations

    g = blocks if blocks is not None else max_hamming + 1
    if g <= max_hamming:
        raise ValueError("blocks must exceed max_hamming (pigeonhole)")
    if nbits // g < 1:
        # width-0 blocks would alias every fingerprint into one bucket —
        # still exact (verification filters), but a silent all-pairs scan
        raise ValueError("blocks exceeds nbits (zero-width blocks)")
    width = nbits // g
    # width == 64 (max_hamming == 0, exact-match blocking): the all-ones
    # mask doesn't fit an unsigned long literal — it IS -1 in two's
    # complement
    full_mask = -1 if width >= 64 else (1 << width) - 1

    def _chunk(combo: tuple[int, ...]) -> Column:
        packed = None
        for j, bi in enumerate(combo):
            blk = F.shiftrightunsigned(F.col(fp_col), bi * width).bitwiseAND(
                F.lit(full_mask).cast("long")
            )
            part = blk if j == 0 else F.shiftleft(blk, j * width)
            packed = part if packed is None else packed.bitwiseOR(part)
        return packed

    combos = list(combinations(range(g), g - max_hamming))
    return fp.select(
        F.col(id_col).alias("doc_id"),
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        _chunk(combo).alias("chunk"),
                    )
                    for band, combo in enumerate(combos)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "fp", "bb.band", "bb.chunk")


def hamming_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
    nbits: int = 64,
    max_bucket_size: int | None = None,
    metrics_label: str | None = None,
) -> DataFrame:
    """All id pairs whose integer fingerprints differ in ≤ ``max_hamming``
    bits — the generic Hamming-blocking engine behind
    :func:`simhash_pairs` and image perceptual-hash dedup
    (``multimodal.image_dup_pairs``).

    Blocking: split the fingerprint into ``g`` equal blocks; by
    pigeonhole any pair within distance h leaves ≥ g−h blocks
    untouched, so it matches some (g−h)-block combination key exactly →
    candidates come from band equi-joins, verified with bit_count. With
    ``max_bucket_size=None`` (default) the blocking is EXACT (no false
    negatives) whatever the hash — the pair set equals a brute-force
    Hamming scan. Passing a cap drops band buckets above it before the
    self-join (broadcast anti-join on the tiny oversized-bucket set):
    the Σ|bucket|² backstop for fingerprint-degenerate corpora —
    counted over DISTINCT fingerprints, so exact clone families can
    never be capped away (they are output, not candidates).
    ``metrics_label`` attaches the candidate-bill probe
    (:data:`CANDIDATE_METRICS`).

    ``g`` comes from the MEASURED distinct-fingerprint count via
    :func:`_hamming_blocks_auto`: small corpora
    keep the classic g = max_hamming+1 single-block bands; once random
    occupancy of the 2^(nbits/g) buckets would dominate, g grows so the
    C(g,h) combination keys carry (g−h)·(nbits//g) bits — candidates
    stay near-linear with NO recall loss (the pair set is bit-identical
    at every g; only the physical plan changes). The distinct count
    rides the same single probe job as the clone verdict below — no
    extra action.

    **Identical-fingerprint collapse** (always on, lossless): exact
    clone families — the degeneracy that actually produces mega-buckets
    (constant images, template pages) — share ONE fingerprint value, so
    banding and the bucket self-join run over DISTINCT fingerprints
    only; members rejoin output-linearly via :func:`expand_group_pairs`
    (cross-group pairs inherit their representatives' verified distance
    — distance is a function of the value — and within-group pairs are
    emitted directly with hamming 0). Clone-free corpora dispatch past
    the expansion joins entirely: the singleton probe is ONE aggregate
    riding the fingerprint pin job (:func:`content_groups`), and that
    pin doubles as the banded (id, fp) table (VERDICT r8 #1).
    Output: (id_a, id_b, hamming).
    """
    keyed = fp.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_hfp"))
    # ONE eager job: group-by distinct fingerprint with the clone
    # statistics riding the pin (content_groups)
    groups, n_groups, n_members, f_max, f2_sum = content_groups(
        keyed, ["_hfp"]
    )
    g_blocks = _hamming_blocks_auto(n_groups, max_hamming, nbits)
    from math import comb

    n_bands = comb(g_blocks, max_hamming)
    if not collapse_pays(
        n_groups, n_members, f_max, f2_sum, n_bands, max_bucket_size
    ):
        # clone-free or sparse-clone corpus: the banded self-join's id
        # pairs ARE the output (identical fingerprints collide in every
        # band and verify at hamming 0 as ordinary candidates) — no
        # expansion joins. With no clones at all the pinned group
        # relation doubles as the (id, fp) table; otherwise pin the keyed
        # relation directly (the pin is needed regardless — the bucket
        # self-join references the fingerprint pipeline twice).
        members = (
            groups.select(F.col("_rid").alias("_id"), "_hfp")
            if n_groups == n_members
            else keyed.localCheckpoint(eager=True)
        )
        out = _hamming_rep_pairs(
            members, max_hamming, nbits, g_blocks, max_bucket_size,
            metrics_label,
        ).select("id_a", "id_b", "hamming")
        return (
            observe_output(out, metrics_label)
            if metrics_label is not None
            else out
        )
    # clone families that matter: pin members (expansion + within
    # sides), band one representative per distinct fingerprint, map the
    # verified rep pairs back to their fingerprint keys (bounded groups
    # relation), and expand to members.
    members = keyed.localCheckpoint(eager=True)
    reps = groups.select(F.col("_rid").alias("_id"), "_hfp")
    rep_pairs = _hamming_rep_pairs(
        reps, max_hamming, nbits, g_blocks, max_bucket_size, metrics_label
    ).select(
        F.col("fp_a").alias("_hfp_a"), F.col("fp_b").alias("_hfp_b"), "hamming"
    )
    out = expand_group_pairs(
        members, ["_hfp"], rep_pairs, "hamming", within_score=F.lit(0)
    )
    return (
        observe_output(out, metrics_label) if metrics_label is not None else out
    )


def _hamming_rep_pairs(
    members: DataFrame,
    max_hamming: int,
    nbits: int,
    blocks: int,
    max_bucket_size: int | None,
    metrics_label: str | None,
) -> DataFrame:
    """Verified fingerprint pairs ``(id_a, id_b, fp_a, fp_b, hamming)``
    (id-deduped; one row per fingerprint pair when fingerprints are
    distinct per id) from a pinned ``(_id, _hfp)`` relation — the banded
    self-join core of :func:`hamming_pairs`, shared by its direct and
    collapse paths."""
    banded = hamming_band_rows(
        members, "_id", "_hfp", max_hamming, nbits, blocks=blocks
    ).select(
        F.col("doc_id").alias("_hid"),
        F.col("fp").alias("_hfp"),
        "band",
        "chunk",
    )
    if max_bucket_size is not None:
        # the oversized set is tiny BY DEFINITION (each member holds >
        # cap rows), so the anti-join broadcast never grows with the
        # corpus — only with its degeneracy
        sizes = banded.groupBy("band", "chunk").agg(
            F.count(F.lit(1)).alias("_k")
        )
        oversized = sizes.filter(F.col("_k") > max_bucket_size).select(
            "band", "chunk"
        )
        banded = banded.join(
            F.broadcast(oversized), on=["band", "chunk"], how="left_anti"
        )
    # bucket SELF-JOIN over representatives (row-streamed; AQE splits
    # hot chunks) rather than per-bucket combination arrays, whose size
    # is quadratic in the bucket and caused GC-bound 5x swings
    a = banded.select(
        "band", "chunk", F.col("_hid").alias("id_a"), F.col("_hfp").alias("fp_a")
    )
    b = banded.select(
        "band", "chunk", F.col("_hid").alias("id_b"), F.col("_hfp").alias("fp_b")
    )
    joined = a.join(b, on=["band", "chunk"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    if metrics_label is not None:
        # candidate bill = id-ordered join matches before verification,
        # counted over DISTINCT-fingerprint representatives (multi-band
        # repeats included: each IS paid for) — a pure CollectMetrics
        # node on the existing stream, no extra job
        from pyspark.sql import Observation

        obs = Observation()
        CANDIDATE_METRICS[metrics_label] = obs
        joined = joined.observe(
            obs, F.count(F.lit(1)).alias("candidates")
        )
    return (
        joined
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "fp_a", "fp_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def incremental_hamming_pairs(
    new_fp: DataFrame,
    old_index: DataFrame | None,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
    nbits: int = 64,
) -> DataFrame:
    """Hamming near-dup pairs INVOLVING a new fingerprint batch, against
    a previously saved band index (:func:`hamming_band_rows` of every
    prior batch) — the incremental-ingestion twin of
    :func:`incremental_minhash_pairs` for integer fingerprints
    (perceptual image/frame hashes, SimHash). Each refresh bands only
    its own batch, equi-joins the bounded index, and never re-pairs
    old-vs-old (already emitted when those batches landed):

        prior pairs ∪ incremental pairs == full-corpus hamming_pairs

    exactly, because the pigeonhole banding is deterministic AND exact —
    a pair within distance d shares ≥1 band whichever batches its sides
    arrived in. Verification is index-local (the index carries the
    fingerprint), so no document/byte store is touched at all.
    ``old_index`` rows whose ids reappear in ``new_fp`` are ignored
    (re-ingestion safe: the new fingerprint wins). Per-refresh cost is
    O(batch + matched buckets), never O(corpus).
    """
    new_bands = hamming_band_rows(
        new_fp, id_col, fp_col, max_hamming, nbits
    ).localCheckpoint(eager=True)  # both candidate branches + id set
    # new-new: exact in-batch pairs
    new_new = hamming_pairs(new_fp, id_col, fp_col, max_hamming, nbits)
    if old_index is None:
        return new_new
    new_ids = new_bands.select("doc_id").distinct()
    old = old_index.join(new_ids, on="doc_id", how="left_anti")
    o = old.select(
        "band",
        "chunk",
        F.col("doc_id").alias("_oid"),
        F.col("fp").alias("_ofp"),
    )
    n = new_bands.select(
        "band",
        "chunk",
        F.col("doc_id").alias("_nid"),
        F.col("fp").alias("_nfp"),
    )
    new_old = (
        n.join(o, on=["band", "chunk"])
        .filter(F.col("_nid") != F.col("_oid"))
        .withColumn(
            "hamming", F.bit_count(F.col("_nfp").bitwiseXOR(F.col("_ofp")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.least("_nid", "_oid").alias("id_a"),
            F.greatest("_nid", "_oid").alias("id_b"),
            "hamming",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return new_new.unionByName(new_old).dropDuplicates(["id_a", "id_b"])


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def sign_lsh_band_buckets(
    vec_col: str, n_planes: int, n_bands: int, seed: int = 0x5EED
) -> Column:
    """array<long>[n_bands] of sign-LSH bucket ids for a vector column.

    One vectorized Arrow batch per call: a seeded Gaussian plane matrix
    (``n_bands × n_planes`` hyperplanes, regenerated identically per
    batch from the seed — deterministic across runs, partitionings and
    cluster sizes) is applied as a single BLAS matmul, then each band's
    ``n_planes`` sign bits are packed into one long. The JVM-expression
    alternative (a hash-derived fold per plane per row) re-derives the
    plane matrix per row×plane×dim — at OR-amplified plane counts
    (100+ projections) the matmul is the only sane shape.
    """
    from pyspark.sql.functions import pandas_udf

    total = n_planes * n_bands

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy())  # (batch, dim) — fixed-dim column
        planes = np.random.default_rng(seed).standard_normal(
            (x.shape[1], total)
        )
        bits = (x @ planes) >= 0  # (batch, n_bands*n_planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        packed = (
            bits.reshape(len(x), n_bands, n_planes).astype(np.int64) @ weights
        )  # (batch, n_bands)
        return pd.Series(list(packed))

    return _buckets(F.col(vec_col))


def _auto_lsh_shape(
    n: int, threshold: float, target_bucket: int = 64, miss: float = 1e-6
) -> tuple[int, int]:
    """(n_planes, n_bands) sized for the corpus: planes grow with
    log2(n / target_bucket) so expected band-bucket occupancy stays
    ~constant (a FIXED plane count is corpus-quadratic: 6 planes = 64
    buckets per band, so in-bucket pair volume grows ∝ (n/64)² — the
    committed 10x sweep measured 118x wall before this sizing), and
    bands then restore per-pair recall at the threshold:
    miss(c) = (1 − p(c)^planes)^bands with p(c) = 1 − acos(c)/π, solved
    for ``miss`` at c = threshold (the hardest admitted pair — closer
    pairs miss far less). Floors keep small corpora on the measured
    6×24 default shape."""
    import math

    p = 1.0 - math.acos(min(max(threshold, 0.0), 0.999)) / math.pi
    planes = 6
    if n > target_bucket:
        planes = max(6, min(24, math.ceil(math.log2(n / target_bucket))))
    per_band = p**planes
    bands = 24
    if 0 < per_band < 1:
        bands = max(24, math.ceil(math.log(miss) / math.log(1.0 - per_band)))
    return planes, bands


def _center_stats(
    filtered: DataFrame, vec_col: str
) -> tuple[list[float], float, int] | None:
    """(per-dimension mean μ, mean squared norm E||v||², row count) of a
    vector column — ONE bounded aggregate job (dim avg columns, one avg
    of the self-dot and the count). Returns None on an empty or zero-dim
    relation."""
    first = filtered.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None or not first["d"]:
        return None
    dim = first["d"]
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    row = filtered.select(v.alias("_v")).agg(
        *[F.avg(F.col("_v")[i]).alias(f"m{i}") for i in range(dim)],
        F.avg(_dot(F.col("_v"), F.col("_v"))).alias("_e2"),
        F.count(F.lit(1)).alias("_n"),
    ).first()
    mu = [float(row[i] or 0.0) for i in range(dim)]
    return mu, float(row["_e2"] or 0.0), int(row["_n"])


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    center: bool = False,
) -> DataFrame:
    """Vector pairs with cosine ≥ threshold.

    Blocking: **OR-amplified** sign-LSH. Each vector gets ``n_bands``
    independent buckets (one per band of ``n_planes`` hyperplanes,
    drawn from the fixed seed of :func:`sign_lsh_band_buckets`);
    candidate pairs share ≥1 band bucket — the same banding shape as
    MinHash LSH. A pair at cosine c collides in one band with
    p(c)^n_planes where p(c) = 1 − acos(c)/π, so

        recall(c) = 1 − (1 − p(c)^n_planes)^n_bands

    At the floor shape (6 planes × 24 bands) recall(0.9) ≈ 1 − 5.7e-6;
    a single AND-only bucket of 8 planes (the naive scheme) would keep
    that pair with only p ≈ 0.28. Exact cosine verifies candidates
    JVM-side, so the output has no false positives; misses are bounded
    by the formula above. Bucket count per band is 2^n_planes, so a
    FIXED plane count is corpus-quadratic (in-bucket pairs grow
    ∝ (n/2^planes)²) — the shape is therefore sized from a corpus count
    via :func:`_auto_lsh_shape`: planes track log2(n), bands restore the
    per-pair miss bound at the threshold (committed evidence: the 10x
    sweep's 118x wall with the static 6×24 shape). The count is one
    narrow pre-job (the ``n_clusters="auto"`` pattern of
    :func:`semantic_dedup`), or rides the centering aggregate when
    ``center=True``. :data:`LSH_BUCKET_CAP` stays as the hard
    Σ|bucket|² backstop when a corpus direction cluster defeats the
    planes (see :func:`candidate_pairs_from_buckets`;
    metrics under ``embedding_lsh``).

    ``center=True`` — the fix for DIRECTIONAL corpora (VERDICT r9 #2:
    acoustic fingerprints live in the positive orthant, so origin-
    through hyperplanes see every vector on the same side — sign bits
    correlate and band buckets skew toward the cap). Bucketing then
    runs on v − μ (μ = the broadcast per-dimension corpus mean, ONE
    bounded probe — the k-means bounded-model pattern) while
    verification keeps the EXACT cosine on the raw vectors, so
    precision and output values are untouched. Recall accounting: a
    raw-cosine-t pair at distance d² = 2(1−t)·‖v‖‖w‖ has centered
    cosine ≥ 1 − d²/(2·r_v·r_w) (r = residual norm), so bands are
    sized at the conservative t_c = 1 − 2(1−t)/E‖v−μ‖² (the variance
    identity E‖v−μ‖² = E‖v‖² − ‖μ‖², from the same probe) — pairs
    whose residuals sit at or above the corpus RMS keep the ≤ miss
    bound, and identical vectors center identically, so exact-twin
    recall is 1 at ANY shape.
    Output: ``(id_a, id_b, cosine)``, id_a < id_b.
    """
    filtered = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    )
    bucket_col = vec_col
    t_band = threshold
    mu = None
    n_rows = None
    if center:
        stats = _center_stats(filtered, vec_col)
        if stats is not None:
            mu, e2, n_rows = stats
            resid2 = max(1e-3, e2 - sum(m * m for m in mu))
            t_band = max(0.5, 1.0 - 2.0 * (1.0 - threshold) / resid2)
    if n_rows is None:
        n_rows = filtered.count()
    n_planes, n_bands = _auto_lsh_shape(n_rows, t_band)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    fanned = fan_out(filtered)
    if mu is not None:
        bucket_col = "_cv"
        mu_lit = ", ".join(repr(m) for m in mu)
        fanned = fanned.withColumn(
            "_cv",
            F.expr(
                f"zip_with({vec_col}, array({mu_lit}), "
                "(x, m) -> cast(x as double) - m)"
            ),
        )
    base = fanned.select(
        F.col(id_col).alias("doc_id"),
        v.alias("_v"),
        _norm(v).alias("_nrm"),
        sign_lsh_band_buckets(bucket_col, n_planes, n_bands).alias("_bkts"),
    )
    # posexplode_outer, NOT posexplode: plain posexplode infers a
    # size(_bkts)>0 filter that predicate pushdown moves below the
    # fan_out exchange — re-evaluating the pandas-UDF projection a second
    # time under the shuffle (observed: two ArrowEvalPython nodes)
    banded = base.select(
        "doc_id", F.posexplode_outer("_bkts").alias("band", "bucket")
    ).filter(F.col("bucket").isNotNull())
    cands = candidate_pairs_from_buckets(
        banded,
        ["band", "bucket"],
        max_bucket_size=LSH_BUCKET_CAP,
        metrics_label="embedding_lsh",
    )
    # column pruning drops _bkts from the join sides — the UDF runs once
    va = base.select(
        F.col("doc_id").alias("id_a"), F.col("_v").alias("v_a"), F.col("_nrm").alias("n_a")
    )
    vb = base.select(
        F.col("doc_id").alias("id_b"), F.col("_v").alias("v_b"), F.col("_nrm").alias("n_b")
    )
    return observe_output(
        cands.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "cosine",
            F.round(_pair_dots(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine"),
        "embedding_lsh",
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | str = 8,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): cluster the embedding space, then
    drop every item that has a more-canonical near-twin *within its own
    cluster* — cross-cluster pairs are never examined, which is the
    entire scale trick.

    Deterministic, oracle-reproducible simplification of the paper:

    * centroids = the ``n_clusters`` vectors with the smallest
      ``md5(id)`` (a seeded uniform draw both engines compute
      identically), instead of k-means iterates;
    * assignment = argmax cosine to a centroid (6-dp rounded;
      ties → lowest centroid index);
    * keep rule = x survives iff no y < x (by id) in the same cluster
      has ``cos(x, y) ≥ threshold`` (the paper's keep-one-per-
      semantic-neighborhood policy with min-id canonicalization).

    Scale shape: centroids are driver-held model state (n_clusters ×
    dim floats — the MLlib broadcast shape); assignment is one narrow
    map. Candidate pairs are NOT all within-cluster pairs — they come
    from OR-amplified sign-LSH banding (:func:`sign_lsh_band_buckets`,
    the :func:`embedding_dup_pairs` blocking) keyed by ``(cluster,
    band, bucket)``, then verified in the two-phase witness scheme of
    :func:`_semantic_keep` (member-vs-group-min, then survivors-vs-
    smaller-members): candidate count is Σ|group| + Σ|group|·|group
    survivors| — linear even when a corpus dumps thousands of
    near-identical vectors into one bucket (all-pairs-in-bucket
    measured 20.7× wall at 10× data on such a corpus; the witness
    scheme restores ~linear scaling — see SCALE.md for the committed
    numbers). Bands are FINER than :func:`embedding_dup_pairs`' (10
    planes × 32 bands vs 6 × 24): semantic thresholds are high
    (0.95+), where p(c) is large enough that 10-plane buckets keep
    miss probability at (1 − p^10)^32 ≈ 1.4e-6 per pair at 0.95 (8e-9
    at the planted 0.97) while cutting random in-bucket collisions
    ~16× (2^10 buckets per band). Blocking is deterministic, so the
    exact-pairs oracle still reproduces bit-for-bit.

    ``n_clusters="auto"`` scales the cluster count with the corpus
    (⌈√n⌉, floor 8) — the paper's k grows with N; the int form stays
    for oracle-pinned runs. The auto-k count doubles as the direct/banded
    dispatch size, so that dispatch skips its own probe. Pass
    ``centroids`` (driver-held list) to skip the draw entirely — the
    frozen-model-state form the incremental index
    (:func:`semantic_band_rows` / :func:`incremental_semantic_pairs`)
    shares so batch and streaming agree. Output: ``(id, cluster,
    keep)``, one row per input.
    """
    import math

    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    n_docs = None
    if centroids is None:
        if n_clusters == "auto":
            # the auto-k count doubles as the dispatch size — one job
            n_docs = vecs.count()
            n_clusters = max(8, int(math.isqrt(n_docs)))
        cent_rows = (
            vecs.orderBy(F.md5(F.col("_id").cast("string")), "_id")
            .limit(n_clusters)
            .collect()
        )  # bounded: n_clusters × dim — driver-held model state
        centroids = [list(r["_v"]) for r in cent_rows]
    return _semantic_keep(
        _cosine_assign_staged(df, id_col, vec_col, centroids),
        id_col,
        threshold,
        n_vecs=n_docs,
    )


# k × dim bound under which the argmax-cosine assignment stays one
# literal JVM expression. Higher-order-function folds are interpreted
# (no codegen), so per-row cost is ~k·dim interpreted ops — fine for a
# handful of centroids, but n_clusters="auto" (k=⌈√n⌉) crosses into
# n·√n·dim territory where the Arrow path is ~20× cheaper (measured:
# the 10× semantic-dedup-auto sweep entry dropped 3.4× → ~2× wall).
_LITERAL_DOTS_MAX = 2_048


def _centroid_dots(vec_col: str, cents: list[list[float]]) -> Column:
    """``array<double>[k]`` of raw dot products row·centroidⱼ, computed
    in one Arrow batch per task with a SEQUENTIAL left fold over the
    dimensions — ``((0 + x₀c₀) + x₁c₁) + …`` elementwise over the
    (batch × k) accumulator — so every value is bit-identical to the
    in-plan ``aggregate``/``zip_with`` fold and to DuckDB's
    ``list_reduce`` (a BLAS matmul would pairwise-sum and drift in the
    last ulp, flipping 6-dp round ties against the oracle). Same flop
    count as a matmul, vectorized per dimension."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype=np.float64)  # (k, dim) closure matrix

    @pandas_udf("array<double>")
    def _dots(vs: pd.Series) -> pd.Series:
        X = np.stack(vs.to_numpy())  # (batch, dim) — fixed-dim column
        acc = np.zeros((X.shape[0], C.shape[0]))
        for d in range(X.shape[1]):
            acc += X[:, d, None] * C[None, :, d]
        return pd.Series(list(acc))

    return _dots(F.col(vec_col))


def _cosine_assign_staged(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]],
    literal_max: int | None = None,
    dots_max: int | None = None,
) -> DataFrame:
    """``(_id, _v, _n, cluster)``: argmax-cosine assignment to a
    driver-held centroid list (6-dp rounding; ties → lowest index) —
    the md5-variant assignment rule shared by batch
    :func:`semantic_dedup` and the incremental index.

    Three size-guarded physical plans, all emitting bit-identical
    assignments (same driver-folded centroid norms, same 6-dp rounding,
    same (cos, −idx) struct-max tie-break — pinned in
    tests/test_dedup.py):

    * ``k·dim ≤ _LITERAL_DOTS_MAX`` — ONE literal argmax expression
      (narrow map, zero Arrow overhead; right for a handful of
      centroids);
    * ``k·dim ≤ _LITERAL_ASSIGN_MAX`` — :func:`_centroid_dots` Arrow
      batch for the k dot products (the ``n_clusters="auto"`` regime:
      interpreted HOF folds were the super-linear wall term), then
      JVM-side divide/round/argmax over the returned array;
    * beyond — broadcast join against a centroid relation (an
      unbounded-k literal matrix would swamp the driver and the
      planner)."""
    import math

    from .similarity import _LITERAL_ASSIGN_MAX, _dot, _norm

    if literal_max is None:
        literal_max = _LITERAL_ASSIGN_MAX
    if dots_max is None:
        dots_max = _LITERAL_DOTS_MAX
    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # centroid norms are constants: fold them driver-side (plain sum() is
    # the same 0+x0+x1… left fold both engines run, so the value is
    # bit-identical to an in-plan sqrt(aggregate)) instead of re-running
    # a dim-length literal-array fold per row × centroid
    cnorms = [math.sqrt(sum(x * x for x in c)) for c in cents]

    # the row norm is shared by all centroid cosines AND both verify join
    # sides downstream: one materialized column, not 2+n_clusters folds
    nvecs = vecs.withColumn("_n", _norm(F.col("_v")))

    dim = len(cents[0]) if cents else 0
    if len(cents) * dim > literal_max:
        # broadcast-join assignment: centroids as a (cidx, cvec, cnorm)
        # relation — executor-side model state, driver holds only the
        # list it was handed. Costs one extra scan of the staged vecs
        # (score + join-back), the semantic_dedup_kmeans fallback shape.
        cdf = df.sparkSession.createDataFrame(
            [
                (i, [float(x) for x in c], float(cn))
                for i, (c, cn) in enumerate(zip(cents, cnorms))
            ],
            "cidx int, cvec array<double>, cnorm double",
        )
        scored = nvecs.join(F.broadcast(cdf)).select(
            "_id",
            F.struct(
                F.round(
                    _dot(F.col("_v"), F.col("cvec"))
                    / F.nullif(
                        F.col("_n") * F.col("cnorm"), F.lit(0.0)
                    ),
                    6,
                ).alias("cos"),
                (-F.col("cidx")).alias("negidx"),
            ).alias("_s"),
        )
        best = (
            scored.groupBy("_id")
            .agg(F.max("_s").alias("_b"))
            .select(
                "_id", (-F.col("_b.negidx")).cast("int").alias("cluster")
            )
        )
        return nvecs.join(best, on="_id").select("_id", "_v", "_n", "cluster")

    if len(cents) * dim > dots_max:
        # Arrow-batch dot products + JVM-side divide/round/argmax: the
        # rounding and tie-break expressions stay identical to the
        # literal path; only the fold moves into numpy (same sequential
        # element order — see _centroid_dots)
        cn_arr = F.lit([float(cn) for cn in cnorms])
        best = F.array_max(
            F.transform(
                _centroid_dots("_v", cents),
                lambda d, i: F.struct(
                    F.round(
                        d
                        / F.nullif(
                            F.col("_n")
                            * F.element_at(cn_arr, i + F.lit(1)),
                            F.lit(0.0),
                        ),
                        6,
                    ).alias("cos"),
                    (-i).alias("negidx"),
                ),
            )
        )
        return nvecs.select(
            "_id", "_v", "_n", (-best["negidx"]).cast("int").alias("cluster")
        )

    # ONE expr() string for the whole argmax: the Column form spends a
    # Py4J round-trip per centroid element (k × dim F.lit calls — ~0.85 s
    # of pure driver time per plan at k=8, dim=64, measured), while the
    # SQL text parses JVM-side in microseconds. The fold, rounding, and
    # (cos, -idx) struct-max are the identical expressions, so the
    # assignment stays bit-equal to the Column form (pinned in tests).
    best = F.expr(_argmax_cos_sql("_v", "_n", cents, cnorms))
    return nvecs.select(
        "_id", "_v", "_n", (-best["negidx"]).cast("int").alias("cluster")
    )


def _argmax_cos_sql(
    vec_sql: str,
    norm_sql: str,
    cents: list[list[float]],
    cnorms: list[float],
) -> str:
    """``array_max`` over (cos, -idx) structs — the md5-variant
    argmax-cosine assignment as one SQL string (6-dp rounding, ties →
    lowest centroid index). Same dot fold as :func:`_dot`, emitted as
    text for the same reason as ``similarity._sqdist_sql``."""
    from .similarity import _arr_sql, _d_sql

    # nullif-guarded divisor: a zero-norm (degenerate) vector yields a
    # NULL cosine instead of an ANSI DIVIDE_BY_ZERO — NULL-cos structs
    # order below every real cosine, so degenerate rows deterministically
    # take cluster 0 (max negidx among all-NULL entries) on every
    # physical assignment plan
    entries = ", ".join(
        "named_struct('cos', round(aggregate(zip_with({v}, {arr}, "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
        "/ nullif(({n} * {cn}), CAST(0.0 AS DOUBLE)), 6), "
        "'negidx', {neg})".format(
            v=vec_sql, arr=_arr_sql(c), n=norm_sql, cn=_d_sql(cn), neg=-i
        )
        for i, (c, cn) in enumerate(zip(cents, cnorms))
    )
    return f"array_max(array({entries}))"


def semantic_band_rows(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_bands: int = 32,
    seed: int = 0x5EED,
) -> DataFrame:
    """``(id, cluster, band, bucket)``: the persistable semantic-dedup
    blocking index of a batch under FIXED driver-held centroids — the
    embedding analogue of :func:`minhash_band_rows`. Frozen model state
    (centroids fit once, offline or on the first batch) is what makes
    the index stable across a stream: every batch assigns and bands
    identically, so bucket collisions mean the same thing forever."""
    staged = _cosine_assign_staged(df, id_col, vec_col, centroids)
    return (
        staged.select(
            F.col("_id").alias(id_col),
            "cluster",
            F.posexplode_outer(
                sign_lsh_band_buckets("_v", n_planes, n_bands, seed)
            ).alias("band", "bucket"),
        )
        .filter(F.col("bucket").isNotNull())
    )


def incremental_semantic_pairs(
    new_vecs: DataFrame,
    old_index: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 10,
    n_bands: int = 32,
    seed: int = 0x5EED,
) -> DataFrame:
    """Verified semantic near-dup pairs INVOLVING a new batch, against a
    previously saved :func:`semantic_band_rows` index — the embedding
    analogue of :func:`incremental_minhash_pairs`: each batch assigns
    and bands only itself, joins the bounded index relation, and never
    re-pairs old-vs-old. ``prior pairs ∪ incremental pairs`` equals the
    banded full-corpus pair set exactly (pinned in tests/test_dedup.py
    against :func:`semantic_dedup` with the same frozen centroids),
    because assignment and banding are deterministic under frozen model
    state and candidates split cleanly into new-new (in-batch bucket
    combinations) + new-old (an equi-join on (cluster, band, bucket)).

    ``corpus`` supplies vectors for exact-cosine verification (new +
    any old vector that became a candidate). ``old_index`` rows for ids
    also present in ``new_vecs`` are ignored (re-ingestion safe). At
    100 TB the per-refresh cost is O(batch + matched buckets), not
    O(corpus). Output: ``(id_a, id_b, cosine)`` with id_a < id_b.
    """
    from .similarity import _dot, _dvec, _norm

    new_bands = semantic_band_rows(
        new_vecs, centroids, id_col, vec_col, n_planes, n_bands, seed
    ).localCheckpoint(eager=True)  # reused by both candidate branches
    new_new = candidate_pairs_from_buckets(
        new_bands, ["cluster", "band", "bucket"], id_col=id_col
    )
    new_ids = new_bands.select(id_col).distinct()
    old = (
        old_index.join(new_ids, on=id_col, how="left_anti")
        .select(F.col(id_col).alias("_old_id"), "cluster", "band", "bucket")
    )
    new_old = (
        new_bands.join(old, on=["cluster", "band", "bucket"])
        .select(
            F.least(F.col(id_col), F.col("_old_id")).alias("id_a"),
            F.greatest(F.col(id_col), F.col("_old_id")).alias("id_b"),
        )
        .distinct()
    )
    cands = new_new.unionByName(new_old).distinct()
    vv = corpus.select(
        F.col(id_col).alias("_vid"), _dvec(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    va = vv.select(
        F.col("_vid").alias("id_a"), F.col("_v").alias("v_a"), F.col("_n").alias("n_a")
    )
    vb = vv.select(
        F.col("_vid").alias("id_b"), F.col("_v").alias("v_b"), F.col("_n").alias("n_b")
    )
    return (
        cands.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "cosine",
            F.round(
                _pair_dots(F.col("v_a"), F.col("v_b"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup_kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | str = 8,
    iterations: int = 3,
    threshold: float = 0.95,
) -> DataFrame:
    """:func:`semantic_dedup` with TRUE k-means clusters — the paper's
    actual recipe: deterministic Lloyd fit (md5-ordered seeds, fixed
    rounds, (d2, cid) tie-break — :func:`similarity.kmeans_fit`, the
    same oracle-reproducible machinery behind IVF), squared-distance
    assignment, then the identical within-cluster keep rule. Costs
    ``iterations`` extra jobs for the fit; the md5-draw variant stays
    the cheap default when any fixed partition of the space works.
    """
    import math

    from .similarity import (
        _LITERAL_ASSIGN_MAX,
        _argmin_struct_sql,
        _norm,
        assign_clusters,
        kmeans_fit,
    )

    n_docs = None
    if n_clusters == "auto":
        # the auto-k count doubles as the dispatch size — one job
        n_docs = df.count()
        n_clusters = max(8, int(math.isqrt(n_docs)))
    cents = kmeans_fit(df, n_clusters, iterations, id_col, vec_col)
    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_n", _norm(F.col("_v")))
    rows = cents.collect()  # nlist × dim — driver-held model state
    dim = len(rows[0]["centroid"]) if rows else 0
    if rows and len(rows) * dim <= _LITERAL_ASSIGN_MAX:
        # literal-centroid argmin as a NARROW MAP on the staged vector
        # relation — no second corpus scan, no assignment join (the
        # assign_clusters+join formulation re-scanned and shuffled the
        # whole corpus just to attach a small int). Identical
        # assignment: same (d2, cid) struct-min as assign_clusters.
        best = F.expr(
            _argmin_struct_sql(
                "_v", [(r["cluster_id"], list(r["centroid"])) for r in rows]
            )
        )
        staged = vecs.select(
            "_id", "_v", "_n", best["cid"].cast("int").alias("cluster")
        )
    else:
        assigned = assign_clusters(df, cents, id_col, vec_col)
        staged = vecs.join(
            assigned.select(
                F.col(id_col).alias("_id"),
                F.col("cluster_id").cast("int").alias("cluster"),
            ),
            on="_id",
        ).select("_id", "_v", "_n", "cluster")
    return _semantic_keep(staged, id_col, threshold, n_vecs=n_docs)


def _pair_dots(a_col: Column, b_col: Column) -> Column:
    """Arrow-batched rowwise pair dot — see
    :func:`~knetminer_etl_spark.operators.similarity._pair_dots` (the
    shared implementation; values bit-identical to the expression
    fold)."""
    from .similarity import _pair_dots as _impl

    return _impl(a_col, b_col)


def _verified_drops(
    assigned: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """ids (the larger side of each pair) with an exact-cosine-verified
    smaller twin: join the candidate pairs back to the pinned vector
    relation on both sides, compute cos to 6 dp (Arrow-batched pair
    dots, bit-identical to the expression fold), keep id_b where
    cos ≥ threshold. NOT distinct — callers dedup once at the end.

    Degenerate embeddings: an all-zero vector's cosine is 0/0 = NaN,
    and Spark SQL orders NaN ABOVE every double — an unmasked
    ``_cos >= threshold`` would therefore drop rows on NaN "evidence"
    while the numpy hit test in :func:`_direct_semantic_keep` (IEEE:
    NaN compares false) keeps them. NaN is masked here explicitly so
    both physical paths agree: a NaN cosine is never a witness
    (pinned by tests/test_dedup.py's zero-vector dispatch test)."""
    va = assigned.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), F.col("_n").alias("n_a")
    )
    vb = assigned.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), F.col("_n").alias("n_b")
    )
    return (
        pairs.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "_cos",
            F.round(
                F.try_divide(
                    _pair_dots(F.col("v_a"), F.col("v_b")),
                    F.col("n_a") * F.col("n_b"),
                ),
                6,
            ),
        )
        # try_divide: zero-norm pairs (0/0) give NULL, never an ANSI
        # DIVIDE_BY_ZERO; the isnan mask covers NaN-element vectors
        # whose norm is NaN (NaN divisor is nonzero, so the quotient is
        # NaN and Spark would order it ABOVE the threshold)
        .filter(~F.isnan(F.col("_cos")) & (F.col("_cos") >= threshold))
        .select(F.col("id_b").alias("_id"))  # id_a < id_b: b has a smaller twin
    )


#: vectors at or below which the SemDeDup keep rule runs as one
#: in-cluster pass instead of LSH-banded two-phase verification
SEMANTIC_DIRECT_MAX = 5_000


def _direct_semantic_keep(
    staged: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """ONE-ACTION SemDeDup keep rule for bounded corpora: the whole
    within-cluster verification runs inside a single
    ``applyInPandas`` pass grouped by cluster — no candidate
    relation, no pair-to-vector joins, no intermediate pins, no size
    probes. The plan is scan → narrow assignment → one cluster
    exchange → Arrow batch per cluster; per-group memory is chunked
    to O(chunk × |cluster|) doubles, and |cluster| is bounded by the
    :data:`SEMANTIC_DIRECT_MAX` dispatch.

    Exactness vs the pair-verified path:

    * dots and norms use the same SEQUENTIAL per-dimension fold as
      :func:`_pair_dots` / ``_norm`` (bit-identical to the in-plan
      ``aggregate`` fold — a BLAS matmul would pairwise-sum and
      drift in the last ulp);
    * the 6-dp HALF_UP threshold test needs no per-pair rounding:
      shortest-repr decimal rounding is monotonic, so
      ``round(cos, 6) >= t  <=>  cos >= t - 5e-7`` exactly (the grid
      point ``t - 0.0000005`` is the smallest double whose rounded
      value reaches ``t``);
    * NULL/ragged contract matches ``zip_with``'s NULL padding: only
      same-dimension pairs score (cross-dimension cosine is NULL →
      never a witness), and NaN elements poison their row's scores
      into never-dropping, exactly like the expression fold;
    * the witness order is ascending id within (cluster, dim class) —
      dropped members remain witnesses, as in the banded two-phase
      scheme and the all-pairs oracle.
    """
    from decimal import Decimal

    boundary = float(Decimal(str(threshold)) - Decimal("0.0000005"))
    id_type = staged.schema["_id"].dataType.simpleString()

    def _keep_rule(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        keep = np.ones(n, dtype=bool)
        vs = pdf["_v"].to_numpy()
        norms = pdf["_n"].to_numpy(dtype="float64", na_value=np.nan)
        dims = np.fromiter(
            (len(v) if v is not None else -1 for v in vs), np.int64, count=n
        )
        for d in np.unique(dims[dims >= 0]):
            idx = np.flatnonzero(dims == d)
            m = len(idx)
            if m < 2 or d == 0:
                continue
            X = np.stack(vs[idx]).astype(np.float64)
            N = norms[idx]
            gpos = np.arange(m)
            chunk = max(1, (64 << 20) // (8 * m))  # ≤64 MB per dot block
            for s in range(1, m, chunk):
                e = min(s + chunk, m)
                acc = np.zeros((e - s, m))
                for k in range(d):
                    acc += X[s:e, k, None] * X[None, :, k]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / (N[s:e, None] * N[None, :])
                with np.errstate(invalid="ignore"):
                    hit = cos >= boundary
                smaller = gpos[None, :] < gpos[s:e, None]
                keep[idx[s:e]] &= ~(hit & smaller).any(axis=1)
        return pd.DataFrame(
            {"_id": pdf["_id"], "cluster": pdf["cluster"], "keep": keep}
        )

    return (
        staged.groupBy("cluster")
        .applyInPandas(_keep_rule, f"_id {id_type}, cluster int, keep boolean")
        .select(F.col("_id").alias(id_col), "cluster", "keep")
    )


def _semantic_keep(
    staged: DataFrame,
    id_col: str,
    threshold: float,
    n_vecs: int | None = None,
) -> DataFrame:
    """Shared SemDeDup keep rule over a ``(_id, _v, _n, cluster)``
    relation: x survives iff no y < x in its cluster has cos ≥
    threshold. Candidates via size-adaptive direct/LSH-banded blocking;
    exact-cosine verified.

    The banded path does NOT verify all in-bucket pairs (Σ|group|² —
    measured 20.7× wall for 10× data on a near-dup-heavy corpus, where
    every vector has ~20 near-identical variants sharing one bucket).
    The keep rule only needs an ∃-smaller-witness per member, so
    verification is two-phase and EXACTLY reproduces the all-pairs
    drop set:

    * **phase 1** — every member verifies against its group's min id
      only: Σ|group| pairs, linear. In a duplicate ball (the case that
      creates mega-groups) the min IS a witness for everyone, so this
      resolves ~all drops.
    * **phase 2** — members that survived phase 1 re-verify against
      every smaller group member except the min (already checked):
      Σ|group|·|survivors| pairs. Survivors are the distinct contents
      — few by construction in the heavy-group case.

    Exactness: y is dropped iff some smaller same-group x has
    cos ≥ t. Phase 1 checks x = min for every y; any y it drops is
    correct. Any y it misses is a phase-2 subject checked against ALL
    its remaining smaller group members — including members phase 1
    dropped, which stay eligible as *witnesses*. Union of both phases
    therefore equals the full in-bucket pair verification (asserted
    against the direct path in tests/test_dedup.py).

    Grouping exchanges are sized from the KNOWN cardinality
    (n_vecs × n_bands rows), not Catalyst plan stats — above this
    join/explode tower the estimator was off by ~1000× (75 GB for a
    2,200-row relation), producing 4,096-task shuffles of pure
    scheduler overhead.
    """
    # a size already counted (the n_clusters="auto" probe) dispatches
    # with no further driver-synchronized job before the final action:
    # the direct branch is single-action and needs no pin at all
    if n_vecs is not None and n_vecs <= SEMANTIC_DIRECT_MAX:
        return _direct_semantic_keep(staged, id_col, threshold)

    # pin: referenced by the pair generator, both verify join sides, and
    # the final output — unpinned, Catalyst re-derives the assignment
    # (and re-scans the corpus) once per reference (audited: 8 scans → 1);
    # the size probe for the direct/banded switch rides the pin job
    from .util import pin_observe

    assigned, _am = pin_observe(staged, F.count(F.lit(1)).alias("n"))
    spark = assigned.sparkSession
    floor = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    def _parts(rows: int, bytes_per_row: int) -> int:
        # ~2 MB of band rows per task ≈ 40k in-flight collect_set groups
        # worst case — inside the tens-of-thousands-of-groups sweet spot
        # (object-bound aggregation, group_agg_partitions' analysis) while
        # keeping tasks coarse enough that scheduler overhead doesn't
        # dominate these sub-100-byte rows (200 KB/task measured 1.5×
        # slower wall at 10× data: 165 near-empty tasks per exchange)
        return max(floor, min(4096, rows * bytes_per_row // (2048 * 1024)))

    # Candidate generation is size-adaptive (both paths produce the
    # identical verified drop set — the switch is a physical-plan
    # choice, like AQE picking a broadcast join):
    #  * small corpora: all within-cluster pairs directly — Σ|cluster|²
    #    is trivial and skips the banding round-trip;
    #  * large corpora: sign-LSH banding WITHIN clusters keyed by
    #    (cluster, band, bucket) + the two-phase witness verification
    #    above.
    n_vecs = int(_am["n"])  # observed during the pin job — no extra action
    if n_vecs <= SEMANTIC_DIRECT_MAX:
        # the one-action in-group keep rule, reading the pinned blocks
        return _direct_semantic_keep(assigned, id_col, threshold)
    # 10 planes × 32 bands: see semantic_dedup for why finer than
    # embedding_dup_pairs' floor shape
    n_planes, n_bands = 10, 32
    banded = (
        assigned.select(
            F.col("_id").alias("doc_id"),
            "cluster",
            F.posexplode_outer(
                sign_lsh_band_buckets("_v", n_planes, n_bands)
            ).alias("band", "bucket"),
        )
        .filter(F.col("bucket").isNotNull())
    )
    # Group mins via a codegen'd hash aggregation + co-partitioned
    # join back — NO object-holding collect buffers anywhere on the
    # banded path. (The previous collect_set/collect_list member
    # arrays were the 100x GC hazard: per-group object state scales
    # with group size and cannot spill, concentrating boxed ids in
    # one JVM heap — measured bimodal 6x/53x walls at 100x data.
    # min/count aggregation and sort-merge joins stay on spillable
    # UnsafeRow state end-to-end, so wall time is reproducible.)
    keys = ["cluster", "band", "bucket"]
    banded = banded.repartition(_parts(n_vecs * n_bands, 48), *keys)
    mins = (
        banded.groupBy(*keys)
        .agg(F.min("doc_id").alias("_min"), F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") >= 2)  # singleton buckets pair nothing
        .drop("_k")
    )
    # one row per (bucket, non-min member); both children of the
    # join are hash-partitioned on the bucket keys by the single
    # repartition above, so no further exchange. NOT pinned:
    # localCheckpoint stores deserialized row objects (millions of
    # on-heap objects at 100x — the GC tail this path exists to
    # avoid); the banded exchange is instead deduplicated by
    # ReusedExchange within each action, and shuffle files are
    # serialized + spillable. Phase 1 and both phase-2 sides share
    # the one exchange per action.
    nonmin = banded.join(mins, on=keys).filter(
        F.col("doc_id") > F.col("_min")
    )
    # phase 1: (group min, member) — Σ|group| candidate pairs
    p1 = nonmin.select(
        F.col("_min").alias("id_a"), F.col("doc_id").alias("id_b")
    ).dropDuplicates(["id_a", "id_b"])
    dropped1 = (
        _verified_drops(assigned, p1, threshold)
        .distinct()
        .localCheckpoint(eager=True)  # joined below AND unioned into output
    )
    # phase 2: survivors vs their remaining smaller group members —
    # Σ|group|·|group survivors| streamed join rows, never
    # materialized per group. Dropped members stay on the witness
    # side (they remain valid *witnesses*); the min is excluded from
    # both sides (phase 1 checked it against everyone).
    subjects = nonmin.join(
        dropped1.select(F.col("_id").alias("doc_id")),
        on="doc_id",
        how="left_anti",
    ).select(*keys, F.col("doc_id").alias("id_b"))
    witnesses = nonmin.select(*keys, F.col("doc_id").alias("id_a"))
    p2 = (
        subjects.join(witnesses, on=keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    dropped_ids = dropped1.unionByName(
        _verified_drops(assigned, p2, threshold)
    )
    dropped = dropped_ids.distinct().withColumn("_dropped", F.lit(True))
    return (
        assigned.join(dropped, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Repeated-span scrub (exact substring dedup, Lee et al. 2022)
# ---------------------------------------------------------------------------


def repeated_span_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_windows: bool = True,
) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every SPAN of
    ≥ k consecutive tokens that also occurs elsewhere in the corpus,
    keeping only the globally-first occurrence (ordered by (doc_id,
    position)). Catches the cross-document boilerplate that whole-doc
    and fixed-chunk dedup miss — repeated spans at ARBITRARY offsets —
    via sliding k-token windows (stride 1), the suffix-array result's
    window-granular equivalent.

    Plan (all linear, three shuffles): per-doc k-gram windows with
    positions (narrow) → global first-occurrence ranking per window
    key (shuffle 1, the only content-keyed exchange) → duplicate
    windows expand to covered token positions per doc (shuffle 2,
    doc-keyed distinct) → anti-join tokens against covered positions
    and reassemble (shuffle 3, doc-keyed rebuild).

    Windows per doc = tokens − k + 1, so with the window TEXT as the
    shuffle-1 key the exchange carries O(corpus tokens × k) bytes. The
    default therefore keys shuffle 1 by ``xxhash64(window)`` computed
    scan-side — constant 8 bytes per window, O(corpus tokens) total
    (measured at 10× sf0.1: shuffle write 138 MB → 60 MB and warm wall
    3.0 s → 2.6 s; the gap widens with window k and word length since
    text bytes scale with both and the hash doesn't). A 64-bit
    collision merging two distinct grams is ~n²/2⁶⁵ (~3e-8 for a
    million distinct windows); ``hash_windows=False`` ships the text
    itself for bit-certain oracle parity.

    Output: ``(doc_id, n_tokens, n_removed, clean_text)`` with
    clean_text whitespace-normalized (single spaces). Documents shorter
    than k tokens pass through untouched.
    """
    from .text import tokens as _tokens
    from .util import fan_out

    # fan_out before the window expansion: building |t|-k+1 k-token
    # windows per document is the CPU-heavy narrow step, and a
    # single-file input would otherwise expand on ONE task below the
    # content-keyed exchange (measured 1.26 -> 0.77 s at sf0.1; a no-op
    # on well-split inputs at scale)
    toks = fan_out(df).select(
        F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("_t")
    )
    n_win = F.greatest(F.size("_t") - F.lit(k - 1), F.lit(0))
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.struct(
            (i - 1).alias("pos"),
            F.array_join(F.slice(F.col("_t"), i, k), " ").alias("gram"),
        ),
    )
    gram_key = (
        F.xxhash64(F.col("_w.gram")) if hash_windows else F.col("_w.gram")
    )
    exploded = (
        toks.select("_id", F.explode_outer(F.when(n_win > 0, wins)).alias("_w"))
        .filter(F.col("_w").isNotNull())
        .select("_id", F.col("_w.pos").alias("pos"), gram_key.alias("gram"))
    )
    w = Window.partitionBy("gram").orderBy("_id", "pos")
    dup_windows = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("_id", "pos")
    )
    # covered token positions per doc, as ONE sorted array (duplicate
    # windows are few relative to the corpus — this relation is small)
    covered = (
        dup_windows.select(
            "_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "tpos"
            ),
        )
        .groupBy("_id")
        .agg(F.array_sort(F.collect_set("tpos")).alias("_cov"))
    )
    # rebuild per doc with higher-order array ops — no token-level
    # explode, no rebuild shuffle, docs with nothing covered pass
    # untouched through the left join. array_contains is linear in
    # |covered|, bounded by doc length (documents are length-capped
    # upstream by the quality gate; this is per-row work, not shuffle).
    drop = F.coalesce(F.col("_cov"), F.array().cast("array<integer>"))
    kept_toks = F.filter(
        F.zip_with(
            F.col("_t"),
            F.sequence(F.lit(0), F.size("_t") - 1),
            lambda t, i: F.struct(t.alias("tok"), i.alias("i")),
        ),
        lambda s: ~F.array_contains(drop, s["i"]),
    )
    return toks.join(covered, on="_id", how="left").select(
        F.col("_id").alias(id_col),
        F.size("_t").cast("int").alias("n_tokens"),
        F.size(drop).cast("int").alias("n_removed"),
        F.array_join(
            F.transform(kept_toks, lambda s: s["tok"]), " "
        ).alias("clean_text"),
    )
