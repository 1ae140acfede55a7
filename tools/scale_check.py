"""Empirical scale check: run headline operators at sf0.1 and at a
synthetic 10x corpus, record the runtime ratio.

Builds /tmp/spark_graft_scale10 from the sf0.1 tables (10 copies with
shifted keys; document text gets copy-specific filler tokens every 3rd
position so copies do NOT become artificial near-duplicates, which
would quadratically inflate the pair operators' OUTPUT rather than
test their scaling), then times each selected query at both scales
(warm + best of 2) and writes SCALE_CHECK.json.

A DataFrame program whose runtime ratio tracks the data ratio (~10x or
less, given fixed overheads amortize) scales; a ratio far above the
data ratio exposes a super-linear shape.

Usage: python tools/scale_check.py [copies]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_scale10"

CHECK_QUERIES = [
    "exact_dedup",
    "text_stats",
    "doc_rag_chunks",
    "doc_repetition_stats",
    "doc_decontamination",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_components",
    "kg_pg_elements",
    "events_tumbling_5m",
    "events_sessionize",
    "events_anomalies",
    "embedding_topk",
    # round-3 operators
    "doc_heavy_hitters",
    "doc_token_cms",
    "events_distinct_hll",
    "doc_shard_manifest",
    "doc_temperature_mix",
    "doc_lm_scores",
    "events_snapshot_diff",
    "orders_bloom_pruned",
    "embedding_pq_topk",
    # round-4 operators
    "embedding_semantic_dedup",
    "embedding_semantic_dedup_km",
    "doc_span_scrub",
    # round-5 operators
    "embedding_semantic_dedup_auto",
    "embedding_semantic_decontamination",
    "embedding_semantic_decontamination_banded",
    # round-6 operators / dispatchers
    "embedding_semantic_decontamination_auto",
    "doc_html_extract",
    "kg_shortest_costs",
    "kg_closure_counts",
    "doc_leakage_safe_split",
    # round-7: banded engines with candidate-bill instrumentation,
    # multimodal near-dup family
    "embedding_dup_pairs",
    "media_image_dup_pairs",
    "media_audio_dup_pairs",
    "media_video_dup_pairs",
    "media_image_incremental",
    "media_video_incremental",
    "kg_closure_bounded",
    # the flagship composed pipeline: its ratio summarizes the whole
    # corpus-prep chain (quality gate -> exact -> near-dup -> split ->
    # decon) under one number
    "doc_pipeline_stages",
]

# queries whose banded engine publishes candidate-bill observations
# (operators/dedup.CANDIDATE_METRICS) — recorded per tier so a high
# runtime ratio is attributable: candidates tracking output = the pair
# bill is real work; candidates exploding past output = bucket skew.
METRIC_LABELS = {
    "ngram_jaccard_pairs": "ngram_jaccard",
    "minhash_lsh_pairs": "minhash_lsh",
    "simhash_pairs": "simhash",
    "embedding_dup_pairs": "embedding_lsh",
    "media_image_dup_pairs": "image_hamming",
    "media_audio_dup_pairs": "embedding_lsh",
    "media_video_dup_pairs": "video_frames",
    "embedding_semantic_decontamination_banded": "decontamination_bands",
    "embedding_semantic_decontamination_auto": "decontamination_bands",
}


def _maybe_metrics(name: str) -> dict | None:
    if name in ("kg_closure_counts", "kg_closure_bounded"):
        # closure output volume (driver-side stats recorded by the
        # operator): attributes a super-linear runtime ratio to
        # reachable-pair growth vs plan defects
        from knetminer_etl_spark.operators.graph import LAST_CLOSURE_STATS

        return dict(LAST_CLOSURE_STATS) or None
    if name == "dedup_components":
        # pair-stage candidate bill + star-contraction stats: a high
        # ratio decomposes into (candidates grew) vs (rounds grew) vs
        # (plan defect — neither grew)
        from knetminer_etl_spark.operators.dedup import read_candidate_metrics
        from knetminer_etl_spark.operators.graph import LAST_COMPONENT_STATS

        rec = dict(LAST_COMPONENT_STATS)
        try:
            rec.update(read_candidate_metrics("minhash_lsh"))
        except Exception:
            pass
        return rec or None
    label = METRIC_LABELS.get(name)
    if label is None:
        return None
    from knetminer_etl_spark.operators.dedup import read_candidate_metrics

    try:
        return read_candidate_metrics(label)
    except Exception:
        return None  # AQE-pruned empty subtree or label never built


def build_dataset(spark, copies: int) -> None:
    from pyspark.sql import functions as F

    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for c in range(copies):
        # filler token after every 3rd word, unique per copy ->
        # cross-copy shingle overlap ~25%, far below dedup thresholds
        toks = F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        )
        fuzzed = F.array_join(
            F.zip_with(
                toks,
                F.sequence(F.lit(0), F.size(toks) - 1),
                lambda t, i: F.when(
                    i % 3 == 2,
                    F.concat(t, F.lit(f" zq{c}w"), i.cast("string")),
                ).otherwise(t),
            ),
            " ",
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
                fuzzed.alias("text"),
                "lang",
                "source",
                F.length(fuzzed).cast("long").alias("n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    parts = [
        ev.select(
            (ev["event_id"] + c * 10**12).alias("event_id"),
            (ev["user_id"] + c * 10**9).alias("user_id"),
            *[n for n in ev.columns if n not in ("event_id", "user_id")],
        )
        for c in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{DST}/events.parquet")

    # dimension tables ride along unshifted (nation keys are shared by
    # every customer copy — the hierarchy fans out, which is the point)
    for tbl in ("nation", "region"):
        spark.read.parquet(f"{SRC}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{DST}/{tbl}.parquet")

    for tbl, keys in [
        ("orders", ["o_orderkey", "o_custkey"]),
        ("customer", ["c_custkey"]),
        ("lineitem", ["l_orderkey"]),  # keeps C→O→P graph consistent
    ]:
        df = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        parts = [
            df.select(
                *[
                    (df[n] + c * 10**9).alias(n) if n in keys else df[n]
                    for n in df.columns
                ]
            )
            for c in range(copies)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{tbl}.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    from pyspark.sql import functions as F

    parts = [
        emb.select(
            (emb["vec_id"] + c * 10**7).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.lit(float(c) * 1e-3)
            ).alias("embedding"),
            "label",
        )
        for c in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")


def time_query(fn, spark, sf_dir: str, n_timed: int = 2) -> float:
    import gc

    from knetminer_etl_spark.runtime.session import release_pinned_rdds

    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    release_pinned_rdds(spark)
    gc.collect()
    spark._jvm.System.gc()
    best = float("inf")
    for _ in range(n_timed):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        # localCheckpoint pins accumulate across queries in a long-lived
        # session; unreleased, LATE queries pay EARLY queries' storage
        # (measured 2.7x on the sweep's last query)
        release_pinned_rdds(spark)
        gc.collect()
        # explicit JVM full GC BETWEEN reps (bench.py's measured fix):
        # dead shuffle/checkpoint blocks from the previous rep must not
        # force a stop-the-world INSIDE the next timed window
        spark._jvm.System.gc()
    return round(best, 3)


def _session():
    from knetminer_etl_spark.runtime import get_session

    spark = get_session(
        app_name="scale-check",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
        conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
            # 45s periodic GC landed stop-the-world full GCs INSIDE the
            # 30-250s timed windows of the 100x tier (measured: the
            # semantic-dedup 33 vs 148s bimodality); explicit System.gc
            # between reps + a long backstop is bench.py's measured fix
            "spark.cleaner.periodicGC.interval": "10min",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def one(name: str) -> None:
    """Time ONE query at both scales in this (fresh) JVM and print a
    JSON line — the subprocess side of per-query isolation."""
    import __spark_entry__ as entry

    spark = _session()
    fn = entry.queries()[name]
    base = time_query(fn, spark, SRC)
    m_base = _maybe_metrics(name)  # read BEFORE the big tier overwrites
    big = time_query(fn, spark, DST)
    m_big = _maybe_metrics(name)
    ratio = round(big / base, 2) if base > 0 else None
    rec = {"name": name, "sf0.1_sec": base, "x10_sec": big, "ratio": ratio}
    if m_base or m_big:
        rec["metrics_base"] = m_base
        rec["metrics_big"] = m_big
    print(json.dumps(rec))


FLAG_RATIO = 3.5  # re-measure anything past this once, automatically


def _run_one(name: str) -> dict | None:
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True,
            text=True,
            timeout=int(os.environ.get("SCALE_CHECK_TIMEOUT", "900")),
        )
    except subprocess.TimeoutExpired as e:
        # a query overrunning the bound is a RESULT (record it), not a
        # reason to lose the rest of the sweep
        print(f"{name}: TIMEOUT after {e.timeout}s", file=sys.stderr)
        return {"name": name, "sf0.1_sec": None, "x10_sec": None,
                "ratio": None, "timeout_sec": e.timeout}
    if proc.returncode != 0:
        print(f"{name}: FAILED\n{proc.stderr[-800:]}", file=sys.stderr)
        return None
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    # SCALE_CHECK_QUERIES=a,b,c restricts the sweep (and, with
    # SCALE_CHECK_OUT, redirects the artifact) — the spot-check mode for
    # one-off larger-copies runs (e.g. `SCALE_CHECK_QUERIES=exact_dedup
    # SCALE_CHECK_OUT=/tmp/x.json python tools/scale_check.py 100`)
    # without touching the committed 10x artifact.
    subset = os.environ.get("SCALE_CHECK_QUERIES")
    names = (
        [n for n in subset.split(",") if n] if subset else list(CHECK_QUERIES)
    )

    spark = _session()
    print(f"building {copies}x dataset at {DST} ...", file=sys.stderr)
    t0 = time.perf_counter()
    build_dataset(spark, copies)
    print(f"built in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    # each query runs in its OWN subprocess/JVM: ~170 back-to-back query
    # executions in one session accumulate driver heap, codegen-cache,
    # and block-manager state that made LATE heavy queries measure 3-5x
    # their fresh-session cost (run-to-run swings of the same magnitude);
    # isolation trades ~10s of JVM startup per query for reproducibility
    spark.sparkContext.stop()

    results = {}
    for name in names:
        rec = _run_one(name)
        if rec is None:
            continue
        results[name] = {
            k: v for k, v in rec.items() if k != "name"
        }
        print(
            f"{name}: {rec['sf0.1_sec']}s -> {rec['x10_sec']}s  ({rec['ratio']}x)",
            file=sys.stderr,
        )

    # Automatic flagged re-measure (no hand-annotated "batch contention"
    # notes): any ratio past the flag threshold gets ONE more fresh-JVM
    # run after the sweep — transient IO/page-cache noise shows up as a
    # clean re-run, a real super-linear shape reproduces. Both numbers
    # are recorded; `ratio` is the min (the reproducible cost), the
    # other run kept under `remeasured`.
    for name, entry in list(results.items()):
        if entry["ratio"] is None or entry["ratio"] < FLAG_RATIO:
            continue
        rec2 = _run_one(name)
        if rec2 is None:
            continue
        first = dict(entry)
        # carry the candidate-bill metrics through the merge: they are
        # the attribution evidence the artifact exists for, and each
        # run's metrics travel with that run's seconds (dropping them
        # when the re-measure won — the old behavior — lost the banded
        # engines' candidate counts from the committed artifact)
        second = {
            k: rec2[k]
            for k in ("sf0.1_sec", "x10_sec", "ratio", "metrics_base",
                      "metrics_big")
            if k in rec2
        }
        best, other = (
            (second, first)
            if (second["ratio"] or 1e9) < (first["ratio"] or 1e9)
            else (first, second)
        )
        results[name] = {**best, "remeasured": other}
        print(
            f"{name}: flagged {first['ratio']}x -> re-measured "
            f"{second['ratio']}x (keeping {best['ratio']}x)",
            file=sys.stderr,
        )

    out = {"copies": copies, "queries": results}
    path = os.environ.get("SCALE_CHECK_OUT") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_CHECK.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out))


def reflag() -> None:
    """Re-run ONLY the flagged entries of an existing SCALE_CHECK.json.

    Used when a sweep completed under an older script (or was interrupted
    after the first pass): applies the same min-of-two rule as main()'s
    remeasure loop and rewrites the file in place. Requires the 10x
    dataset at DST to still exist.
    """
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_CHECK.json",
    )
    with open(path) as fh:
        out = json.load(fh)
    results = out["queries"]
    for name, entry in list(results.items()):
        ratio = entry.get("ratio")
        if ratio is None or ratio < FLAG_RATIO or "remeasured" in entry:
            continue
        rec2 = _run_one(name)
        if rec2 is None:
            continue
        first = {k: entry[k] for k in ("sf0.1_sec", "x10_sec", "ratio")}
        second = {k: rec2[k] for k in ("sf0.1_sec", "x10_sec", "ratio")}
        best, other = (
            (second, first)
            if (second["ratio"] or 1e9) < (first["ratio"] or 1e9)
            else (first, second)
        )
        results[name] = {**best, "remeasured": other}
        print(
            f"{name}: flagged {first['ratio']}x -> re-measured "
            f"{second['ratio']}x (keeping {best['ratio']}x)",
            file=sys.stderr,
        )
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        one(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--reflag":
        reflag()
    else:
        main()
