"""Long-horizon scale evidence for the STREAMING stores: drive the
continuous-KG LSM delta log and the continuous-dedup band index through
~100 epochs and record the curves that matter at scale:

* continuous KG (streaming/kg.py): per-epoch bytes written vs the
  epoch's delta bytes (the O(delta) claim), compaction events and their
  amortized cost (total bytes written / total delta bytes, bounded by
  ~1 + 1/compact_threshold), and the merged-read latency as a function
  of delta-log depth (the read fan-in cost the compaction policy
  bounds).
* continuous dedup (streaming/dedupe.py): per-epoch wall and bytes
  written as the persisted index grows — the O(batch + touched
  buckets) claim — plus index growth itself (rows ∝ corpus seen).

Writes STREAM_SCALE.json. Usage:
    python tools/streaming_scale.py [kg_epochs] [dedup_epochs]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/spark_graft_stream_scale"
OUT = os.environ.get("STREAM_SCALE_OUT", "STREAM_SCALE.json")


def _tree_bytes(root: str, since: float | None = None) -> int:
    total = 0
    for f in glob.glob(f"{root}/**/*.parquet", recursive=True):
        if since is None or os.path.getmtime(f) >= since:
            total += os.path.getsize(f)
    return total


def _session():
    from knetminer_etl_spark.runtime import get_session

    spark = get_session(
        app_name="streaming-scale",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
        conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "24g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _customer_order_triples(spark, pred: str):
    """Triples of the customer+orders KG restricted by a SQL predicate —
    the same mapping kg_pg_elements uses, so store content is the
    product-shaped relation, not a toy."""
    from pyspark.sql import functions as F

    from knetminer_etl_spark.queries.kg import _customer_mapper, _order_mapper

    customer = spark.read.parquet(f"{SRC}/customer.parquet").filter(
        F.expr(pred.format(key="c_custkey"))
    )
    orders = spark.read.parquet(f"{SRC}/orders.parquet").filter(
        F.expr(pred.format(key="o_custkey"))
    )
    return _customer_mapper().to_triples(customer).unionByName(
        _order_mapper().to_triples(orders)
    )


def kg_run(spark, epochs: int) -> dict:
    from knetminer_etl_spark.streaming.kg import (
        _delta,
        _delta_batch_count,
        merge_triples_batch,
        read_kg,
    )

    pg = f"{WORK}/kg"
    shutil.rmtree(pg, ignore_errors=True)

    # bulk load the full graph, then run UPDATE epochs: each re-merges a
    # rotating 1% id slice — the uniform-id delta shape that made the
    # in-place bucket merge rewrite 81% of the store (SCALE.md)
    t0 = time.perf_counter()
    merge_triples_batch(
        spark, _customer_order_triples(spark, "{key} >= 0"), pg, epoch_id=0
    )
    bulk_sec = round(time.perf_counter() - t0, 2)
    store0 = _tree_bytes(pg)

    rows = []
    total_written = 0
    total_delta_in = 0
    for e in range(1, epochs + 1):
        slice_pred = "{key} % 100 = " + str(e % 100)
        delta = _customer_order_triples(spark, slice_pred)
        mark = time.time()
        t0 = time.perf_counter()
        merge_triples_batch(spark, delta, pg, epoch_id=e)
        wall = round(time.perf_counter() - t0, 3)
        written = _tree_bytes(pg, since=mark)
        depth = _delta_batch_count(spark, _delta(pg))
        compacted = depth == 0
        # the epoch's own delta partition (or, post-compaction, the
        # written base) — approximate the delta INPUT bytes by the
        # epoch's aggregated-delta footprint measured on a side write
        total_written += written
        rows.append(
            {
                "epoch": e,
                "wall_sec": wall,
                "bytes_written": written,
                "log_depth": depth,
                "compacted": compacted,
            }
        )
        if e % 10 == 0 or e == epochs:
            t0 = time.perf_counter()
            n = read_kg(spark, pg).count()
            rows[-1]["read_sec"] = round(time.perf_counter() - t0, 3)
            rows[-1]["read_rows"] = n
        print(json.dumps(rows[-1]), file=sys.stderr)

    # reference delta footprint: one slice written standalone
    from knetminer_etl_spark.pg.build import triples_to_pg

    ref = f"{WORK}/kg_one_delta"
    shutil.rmtree(ref, ignore_errors=True)
    triples_to_pg(
        _customer_order_triples(spark, "{key} % 100 = 1")
    ).write.parquet(ref)
    delta_bytes = _tree_bytes(ref)
    total_delta_in = delta_bytes * epochs

    store_end = _tree_bytes(pg)
    noncompact = [r for r in rows if not r["compacted"]]
    return {
        "epochs": epochs,
        "bulk_load_sec": bulk_sec,
        "store_bytes_start": store0,
        "store_bytes_end": store_end,
        "delta_bytes_each": delta_bytes,
        "total_bytes_written": total_written,
        "amortized_write_factor": round(total_written / max(total_delta_in, 1), 2),
        "noncompact_epoch_max_bytes": max(r["bytes_written"] for r in noncompact),
        "noncompact_epoch_max_vs_store": round(
            max(r["bytes_written"] for r in noncompact) / store_end, 4
        ),
        "compactions": sum(1 for r in rows if r["compacted"]),
        "reads": [
            {k: r[k] for k in ("epoch", "log_depth", "read_sec", "read_rows")}
            for r in rows
            if "read_sec" in r
        ],
        "epochs_detail": rows,
    }


def dedup_run(spark, epochs: int) -> dict:
    from pyspark.sql import functions as F

    from knetminer_etl_spark.streaming.dedupe import process_dedup_batch

    base = f"{WORK}/dedup"
    shutil.rmtree(base, ignore_errors=True)
    index_path, docs_path, pairs_path = (
        f"{base}/index",
        f"{base}/docs",
        f"{base}/pairs",
    )
    docs = spark.read.parquet(f"{SRC}/documents.parquet")

    rows = []
    for e in range(epochs):
        batch = docs.filter(F.col("doc_id") % epochs == e).select(
            "doc_id", "text"
        )
        mark = time.time()
        t0 = time.perf_counter()
        process_dedup_batch(
            spark, batch, e, index_path, docs_path, pairs_path
        )
        wall = round(time.perf_counter() - t0, 3)
        rows.append(
            {
                "epoch": e,
                "wall_sec": wall,
                "bytes_written": _tree_bytes(base, since=mark),
            }
        )
        print(json.dumps(rows[-1]), file=sys.stderr)

    index_rows = spark.read.parquet(index_path).count()
    pairs_rows = spark.read.parquet(pairs_path).count()
    first5 = sum(r["wall_sec"] for r in rows[:5]) / 5
    last5 = sum(r["wall_sec"] for r in rows[-5:]) / 5
    return {
        "epochs": epochs,
        "index_rows_end": index_rows,
        "index_bytes_end": _tree_bytes(index_path),
        "pairs_rows_end": pairs_rows,
        "wall_first5_avg": round(first5, 3),
        "wall_last5_avg": round(last5, 3),
        "wall_growth_factor": round(last5 / first5, 2),
        "epochs_detail": rows,
    }


def decon_run(spark, epochs: int) -> dict:
    """Continuous LEXICAL decontamination: stateless per epoch (the eval
    suite is loop-invariant), so the claim to verify is that per-epoch
    wall stays FLAT however much was already ingested — the eval gram
    relation is pinned once, outside the loop."""
    from pyspark.sql import functions as F

    from knetminer_etl_spark.operators.contamination import distinct_grams
    from knetminer_etl_spark.streaming.dedupe import (
        process_lexical_decon_batch,
    )

    base = f"{WORK}/lexdecon"
    shutil.rmtree(base, ignore_errors=True)
    clean_path = f"{base}/clean"
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    # eval suite: a fixed 2% slice of the corpus (guaranteed gram hits)
    test_docs = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", "text"
    )
    stream_docs = docs.filter(F.col("doc_id") % 50 != 0)

    t0 = time.perf_counter()
    eval_grams = distinct_grams(test_docs, "text", 8).localCheckpoint(
        eager=True
    )
    setup_sec = round(time.perf_counter() - t0, 3)

    rows = []
    for e in range(epochs):
        batch = stream_docs.filter(F.col("doc_id") % epochs == e).select(
            "doc_id", "text"
        )
        mark = time.time()
        t0 = time.perf_counter()
        process_lexical_decon_batch(batch, e, eval_grams, clean_path)
        wall = round(time.perf_counter() - t0, 3)
        rows.append(
            {
                "epoch": e,
                "wall_sec": wall,
                "bytes_written": _tree_bytes(base, since=mark),
            }
        )
        print(json.dumps(rows[-1]), file=sys.stderr)

    clean_rows = spark.read.parquet(clean_path).count()
    first5 = sum(r["wall_sec"] for r in rows[:5]) / 5
    last5 = sum(r["wall_sec"] for r in rows[-5:]) / 5
    return {
        "epochs": epochs,
        "setup_sec": setup_sec,
        "clean_rows_end": clean_rows,
        "wall_first5_avg": round(first5, 3),
        "wall_last5_avg": round(last5, 3),
        "wall_growth_factor": round(last5 / first5, 2),
        "epochs_detail": rows,
    }


def main() -> None:
    kg_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    dd_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    decon_epochs = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    os.makedirs(WORK, exist_ok=True)
    spark = _session()
    out = {
        "sf_dir": SRC,
        "kg": kg_run(spark, kg_epochs),
        "dedup": dedup_run(spark, dd_epochs),
        "lexical_decon": decon_run(spark, decon_epochs),
    }
    with open(OUT, "w") as fh:
        json.dump(out, fh, indent=1)
    summary = {
        "kg_amortized_write_factor": out["kg"]["amortized_write_factor"],
        "kg_noncompact_epoch_max_vs_store": out["kg"][
            "noncompact_epoch_max_vs_store"
        ],
        "kg_compactions": out["kg"]["compactions"],
        "dedup_wall_growth_factor": out["dedup"]["wall_growth_factor"],
        "lexical_decon_wall_growth_factor": out["lexical_decon"][
            "wall_growth_factor"
        ],
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
