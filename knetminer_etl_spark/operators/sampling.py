"""Deterministic, key-based sampling and dataset splitting.

Training-data pipelines need samples and train/val/test splits that are

* **stable** — re-running the pipeline (or backfilling one partition)
  assigns every row the same way; `df.sample()` is seed-per-partition
  and reshuffles assignments whenever partitioning changes;
* **narrow** — assignment is a per-row hash, no shuffle, no state;
* **nested** — a 10% sample is a subset of the 50% sample with the same
  seed, so you can grow a sample without re-labelling anything;
* **leak-proof** — membership depends only on the row KEY, so the same
  document always lands in the same split even across corpus versions
  (the standard guard against train/test contamination).

Everything here is a bucket comparison over a 60-bit md5-derived hash
(:func:`~knetminer_etl_spark.operators.dedup.md5_hash60`) of
``seed || ':' || key`` — bit-reproducible in ANSI SQL
(``('0x' || substr(md5(...), 1, 15))::BIGINT``), which is what lets the
driver oracle-check sampling queries exactly instead of "roughly the
right count".

Scale: all assignment is a narrow map over the scan — 100 TB samples at
scan speed, and a downstream filter on the split column prunes before
any shuffle. No counterpart in the reference (its pipelines are
full-corpus ETL); this is a north-star training-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

#: Denominator for bucket arithmetic. 1e6 keeps fraction resolution at
#: 1e-6 while `md5_hash60`'s 60-bit range divides into it ~1.15e12
#: times, so bucket skew from the modulo is negligible.
N_BUCKETS = 1_000_000


def hash_bucket(key: Column, seed: str, n_buckets: int = N_BUCKETS) -> Column:
    """Uniform bucket in ``[0, n_buckets)`` from a row key.

    Deterministic in (key, seed): independent samples come from
    different seeds, nested samples from the same seed.
    """
    tagged = F.concat(F.lit(f"{seed}:"), key.cast("string"))
    return md5_hash60(tagged) % n_buckets


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: str = "sample"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose bucket falls below
    ``fraction``. Same seed + larger fraction ⟹ superset (nested samples).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bucket = hash_bucket(F.col(key_col), seed)
    return df.filter(bucket < int(round(fraction * N_BUCKETS)))


def split_column(
    key: Column, weights: dict[str, float], seed: str = "split"
) -> Column:
    """Label each row with a split name by weighted hash-bucket ranges.

    ``weights`` maps split name → weight; weights are normalized, so
    ``{"train": 8, "val": 1, "test": 1}`` and ``{"train": .8, ...}``
    are equivalent. Ranges are cumulative in the given dict order.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    bucket = hash_bucket(key, seed)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        bound = int(round(acc * N_BUCKETS))
        expr = (
            F.when(bucket < bound, F.lit(name))
            if expr is None
            else expr.when(bucket < bound, F.lit(name))
        )
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Add a train/val/test-style split column (see :func:`split_column`).

    Every row gets exactly one label — splits partition the input — and
    assignment depends only on (key, seed): stable across reruns,
    repartitioning, and corpus versions.
    """
    return df.withColumn(split_col, split_column(F.col(key_col), weights, seed))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 10% of English, 100% of low-resource languages).

    Unlike ``df.sampleBy`` this is exact-deterministic per key and needs
    no shuffle — the per-stratum threshold is a CASE expression over the
    same narrow hash.
    """
    for name, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {name!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    bucket = hash_bucket(F.col(key_col), seed)
    thresh: Column = F.lit(int(round(default_fraction * N_BUCKETS)))
    for name, f in fractions.items():
        thresh = F.when(
            F.col(strata_col) == F.lit(name), F.lit(int(round(f * N_BUCKETS)))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def quota_cap(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str,
    seed: str = "quota",
) -> DataFrame:
    """Keep at most ``k`` rows per group (e.g. per-domain document caps —
    the anti-monoculture step of web-corpus curation), chosen
    deterministically: priority = 60-bit md5 key hash, so the survivors
    are a uniform within-group sample, stable across reruns and corpus
    re-partitioning (a doc that survives today survives tomorrow unless
    higher-priority docs arrive).

    One shuffle on the group column. A pathologically hot group funnels
    through one reducer for the window rank; at 100 TB pre-thin hot
    groups first with :func:`hash_sample` at a fraction ≈ (a few × k) /
    group_size (the hash-priority semantics compose: uniform thinning
    keeps the top-k-by-hash set intact with overwhelming probability).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql.window import Window

    pri = md5_hash60(
        F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))
    )
    win = Window.partitionBy(group_col).orderBy(
        pri.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_qrn", F.row_number().over(win))
        .filter(F.col("_qrn") <= k)
        .drop("_qrn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    group_col: str | None = None,
    seed: str = "wsample",
) -> DataFrame:
    """Weighted sampling without replacement, deterministic: keep the
    top-``k`` rows (per group, or globally) by the A-ES priority
    ``u^(1/w)`` (Efraimidis-Spirtakis), where ``u`` is the key's
    md5-derived uniform in (0,1) — inclusion probability proportional to
    ``weight_col``, stable across reruns/partitioning, and exactly
    reproducible in SQL (:func:`weighted_priority_sql`).

    Rows with non-positive or NULL weight are excluded (zero-probability
    mass). One shuffle (the group window); the global variant ranks
    within a single partition — fine for k in the thousands, use
    per-group for bigger draws.

    The canonical corpus use: quality-weighted subsampling — weight by a
    quality score so curation keeps better documents more often without
    becoming a hard cutoff.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql.window import Window

    u = (
        md5_hash60(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
        .cast("double")
        / F.lit(float(1 << 60))
    )
    w = F.col(weight_col).cast("double")
    pri = F.pow(u, 1.0 / w)
    win = Window.partitionBy(
        *([group_col] if group_col else [])
    ).orderBy(pri.desc(), F.col(key_col).asc())
    return (
        df.filter(w > 0)
        .withColumn("_wrn", F.row_number().over(win))
        .filter(F.col("_wrn") <= k)
        .drop("_wrn")
    )


def shard_column(key: Column, n_shards: int, seed: str = "shard") -> Column:
    """Deterministic shard id in ``[0, n_shards)`` from a row key.

    The training-data output layout: hash-sharding gives near-equal
    shard sizes (multinomial balance — relative skew ~1/sqrt(rows per
    shard)), assignment is a narrow map, and writing is
    ``df.repartition(n, shard).write`` — one file per shard, no global
    sort. Stable in (key, seed): incremental corpus builds append to
    the same shard a document always had.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return hash_bucket(key, seed, n_shards)


def assign_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "shard",
    shard_col: str = "shard",
    order_col: str | None = "shard_order",
) -> DataFrame:
    """Add shard id + (optionally) a deterministic within-shard order
    key — the md5 bucket under a second seed, i.e. a stable pseudo-
    random permutation. Sorting each shard by it interleaves sources
    statistically (the "global shuffle" step of training-data prep)
    without any global sort: ``repartition(shard).sortWithinPartitions
    (order)`` keeps both shuffle and sort partition-local.
    """
    out = df.withColumn(shard_col, shard_column(F.col(key_col), n_shards, seed))
    if order_col:
        out = out.withColumn(
            order_col, hash_bucket(F.col(key_col), f"{seed}:order")
        )
    return out


def leakage_safe_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    seed: str = "leakage_split",
    split_col: str = "split",
) -> DataFrame:
    """(id, component, split): train/val/test assignment keyed on the
    NEAR-DUP COMPONENT, not the document — every member of a near-dup
    cluster lands in the same split, so no eval example has a
    near-duplicate in train (the train/test-leakage failure mode a
    per-document :func:`hash_split` cannot prevent).

    Composition of two established shapes: candidate-linear banded
    MinHash-LSH pairs → log-round star-contraction components
    (:func:`~knetminer_etl_spark.operators.graph.connected_components`)
    → a shuffle-free seeded md5 bucket of the component id
    (:func:`split_column`). Deterministic in (corpus, seed); singleton
    documents are their own component, so for non-duplicated docs the
    assignment degrades to a plain per-document hash split. Expected
    split fractions hold over components (weighted by cluster size the
    skew is bounded by the largest cluster — by construction the thing
    you must not split).
    """
    from .dedup import _default_pairs
    from .graph import connected_components  # local: avoid cycle at import

    comp = connected_components(
        _default_pairs(df, id_col, text_col, k, threshold),
        "id_a", "id_b", nodes=df, node_id=id_col,
        edges_canonical=True,
    )
    return comp.select(
        F.col("id").alias(id_col),
        "component",
        split_column(F.col("component"), weights, seed).alias(split_col),
    )


# ---------------------------------------------------------------------------
# Temperature (mixture) sampling
# ---------------------------------------------------------------------------


def temperature_fractions(
    df: DataFrame,
    source_col: str,
    target_total: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source keep fractions for temperature-``alpha`` mixture
    sampling: source ``s`` is drawn toward ``target_total * n_s^alpha /
    Σ n_t^alpha`` rows (capped at its size) — the standard multilingual
    / multi-source rebalancing rule (alpha<1 upweights small sources;
    alpha=1 is proportional; alpha=0 is uniform).

    Distributed end-to-end: a tiny per-source count aggregate, a 1-row
    total joined back by crossJoin — no driver collect.

    Bit-reproducibility: the weight ``n^alpha`` is quantized to a
    BIGINT (``floor(n^alpha * 1e6)``) *before* summing, so the
    cross-source sum is exact-integer (float sums are accumulation-
    order-dependent; integer sums are not) and everything after is a
    fixed chain of IEEE double ops. ``alpha=0.5`` uses ``sqrt`` —
    correctly rounded by IEEE 754 in both engines; other alphas use
    ``pow``, whose last-ulp behavior is libm-specific (fine in
    practice, but only sqrt carries the bit-exactness guarantee the
    oracles rely on).
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_src"))
    w = F.floor(_root_col(F.col("n_src").cast("double"), alpha) * 1e6).cast(
        "long"
    )
    weighted = counts.withColumn("_w", w)
    tot = weighted.agg(F.sum("_w").alias("_wtot"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .withColumn(
            "keep_frac",
            F.least(
                F.lit(1.0),
                F.lit(float(target_total))
                * (F.col("_w").cast("double") / F.col("_wtot").cast("double"))
                / F.col("n_src").cast("double"),
            ),
        )
        .select(source_col, "n_src", "keep_frac")
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    target_total: int,
    alpha: float = 0.5,
    seed: str = "temp",
) -> DataFrame:
    """Deterministic temperature-``alpha`` resample: joins each row to
    its source's keep fraction (broadcast — the fraction table has one
    row per source) and keeps rows whose key bucket clears it. Row
    membership is stable in (key, seed) like every sampler here, so a
    corpus rebuild keeps the same documents.
    """
    fr = temperature_fractions(df, source_col, target_total, alpha)
    bucket = hash_bucket(F.col(key_col), seed)
    return (
        df.join(F.broadcast(fr.select(source_col, "keep_frac")), source_col)
        .filter(bucket < F.floor(F.col("keep_frac") * N_BUCKETS))
        .drop("keep_frac")
    )


def _root_col(c: Column, alpha: float) -> Column:
    return F.sqrt(c) if alpha == 0.5 else F.pow(c, F.lit(alpha))


def _root_sql(expr: str, alpha: float) -> str:
    return f"sqrt({expr})" if alpha == 0.5 else f"pow({expr}, {alpha!r})"


# ---------------------------------------------------------------------------
# SQL twins (DuckDB dialect) for oracle construction
# ---------------------------------------------------------------------------


def hash60_sql(key_expr: str, seed: str) -> str:
    """DuckDB expression computing exactly the seeded 60-bit key hash
    (:func:`~knetminer_etl_spark.operators.dedup.md5_hash60` of
    ``seed:key``)."""
    return (
        f"(('0x' || substr(md5('{seed}:' || CAST({key_expr} AS VARCHAR)), 1, 15))"
        f"::BIGINT)"
    )


def bucket_sql(key_expr: str, seed: str, n_buckets: int = N_BUCKETS) -> str:
    """DuckDB expression computing exactly :func:`hash_bucket`."""
    return f"({hash60_sql(key_expr, seed)} % {n_buckets})"


def split_sql(key_expr: str, weights: dict[str, float], seed: str = "split") -> str:
    """DuckDB CASE expression computing exactly :func:`split_column`."""
    total = float(sum(weights.values()))
    parts = []
    acc = 0.0
    names = list(weights)
    b = bucket_sql(key_expr, seed)
    for name in names[:-1]:
        acc += weights[name] / total
        parts.append(f"WHEN {b} < {int(round(acc * N_BUCKETS))} THEN '{name}'")
    clauses = " ".join(parts)
    return f"CASE {clauses} ELSE '{names[-1]}' END"


def weighted_priority_sql(
    key_expr: str, weight_expr: str, seed: str = "wsample"
) -> str:
    """DuckDB expression computing exactly :func:`weighted_sample`'s
    A-ES priority ``u^(1/w)`` (same md5 uniform, same IEEE pow)."""
    u = f"({hash60_sql(key_expr, seed)}::DOUBLE / {float(1 << 60)!r})"
    return f"pow({u}, 1.0 / CAST({weight_expr} AS DOUBLE))"


def difficulty_bands(
    df: DataFrame,
    score_col: str,
    n_bands: int = 10,
    out_col: str = "band",
) -> DataFrame:
    """Append an equal-width difficulty band 0..n_bands-1 over
    ``score_col`` — the curriculum-learning layout step (order training
    data easy→hard in coarse bands, shuffle within bands).

    Equal-WIDTH bands, not equal-frequency: frequency banding needs a
    global rank (`ntile` = one reducer sorting the corpus, the classic
    scale collapse) or interpolated percentiles (engine-specific float
    interpolation — oracle-fragile at band boundaries). Width banding is
    one (min, max) aggregate — two exact data values — and a narrow
    arithmetic map whose IEEE operations an oracle replays bit-for-bit.
    NULL scores get NULL band; a constant score puts everything in band
    0; the max score lands in the top band (clamped).
    """
    if n_bands < 1:
        raise ValueError("n_bands must be >= 1")
    agg = df.agg(
        F.min(score_col).alias("mn"), F.max(score_col).alias("mx")
    ).first()
    mn, mx = agg["mn"], agg["mx"]
    if mn is None or mx is None or mx == mn:
        band = F.when(F.col(score_col).isNotNull(), F.lit(0))
    else:
        width = (float(mx) - float(mn)) / n_bands
        band = F.when(
            F.col(score_col).isNotNull(),
            F.least(
                F.lit(n_bands - 1),
                F.floor(
                    (F.col(score_col) - F.lit(float(mn))) / F.lit(width)
                ).cast("int"),
            ),
        )
    return df.withColumn(out_col, band.cast("int"))


def difficulty_band_sql(
    score_expr: str, mn_expr: str, mx_expr: str, n_bands: int = 10
) -> str:
    """DuckDB expression computing exactly :func:`difficulty_bands`'s
    band (same subtraction/division/floor order)."""
    width = f"(({mx_expr}) - ({mn_expr})) / {n_bands}"
    return (
        f"CASE WHEN {score_expr} IS NULL THEN NULL "
        f"WHEN ({mx_expr}) = ({mn_expr}) THEN 0 "
        f"ELSE least({n_bands - 1}, "
        f"CAST(floor((({score_expr}) - ({mn_expr})) / ({width})) AS INT)) END"
    )
