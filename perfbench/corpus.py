"""Corpus preparation: the registry's composed document pipeline
(quality gate -> exact dedup -> MinHash-LSH near-dup + connected
components -> hash split -> decontamination), checked stage by stage
against the repository's DuckDB oracle.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

from pyspark.sql import functions as F

from knetminer_etl_spark.operators import contamination, dedup, graph
from knetminer_etl_spark.queries import corpus as Q

import gen


def _stage_rows(path: Path) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pylist()
    return sorted((r["stage_no"], r["stage"], r["n_docs"]) for r in t)


class CorpusDedup:
    name = "corpus_dedup"
    # 5,400 exact-dedup survivors: above the near-dup dispatch's
    # 5,000-document switch, so the pipeline takes the MinHash-LSH path
    n_docs = 6000
    warmup_passes = 1

    def __init__(self, spark, data_dir: Path, seed: int, tracer):
        self.spark, self.data, self.seed, self.tracer = spark, data_dir, seed, tracer

    def generate(self):
        self.truth = gen.make_corpus(str(self.data), self.seed, self.n_docs)

    def stage_inputs(self, pass_dir: Path):
        (pass_dir / "in").mkdir(parents=True)
        os.link(self.data / "documents.parquet", pass_dir / "in" / "documents.parquet")
        # the pipeline stages its survivor sets under the configured root
        self.spark.conf.set("spark.knetminer.stagingDir", str(pass_dir / "staging"))

    def run(self, pass_dir: Path) -> dict:
        tr = self.tracer
        with tr.span("corpus.build"):
            df = Q.doc_pipeline_stages(self.spark, str(pass_dir / "in"))
        with tr.span("corpus.action"):
            df.write.parquet(str(pass_dir / "out"))
        return {}

    def check(self, pass_dir: Path, info: dict) -> list[str]:
        rows = _stage_rows(pass_dir / "out")
        info["stages"] = rows
        want = {s: self.truth[s] for s in ("raw", "quality", "exact_dedup", "near_dedup")}
        got = {s: n for _, s, n in rows if s in want}
        if got != want:
            return [f"stage counts {got} != generator's planted counts {want}"]
        return []

    def finish(self, results: list[dict]) -> None:
        """Compare every pass's stage counts with the DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            con.read_parquet(str(self.data / "documents.parquet")).create_view("documents")
            # same SQL with each plain CTE evaluated once instead of once per
            # reference (rows unchanged, ~9x less oracle time)
            sql = re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", Q.ORACLES["doc_pipeline_stages"])
            want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        finally:
            con.close()
        for r in results:
            if "stages" in r and r["stages"] != want:
                r["errors"].append(f"stages {r['stages']} != oracle {want}")

    def layer_phase(self, work: Path, tr) -> dict:
        """Each public dedup-family operator on its own over the same
        corpus, each materialised (traced mode only)."""
        spark = self.spark
        docs = spark.read.parquet(str(self.data / "documents.parquet"))
        out = {}
        with tr.span("dedup.exact"):
            dedup.drop_exact_dups(docs).write.parquet(str(work / "exact"))
        exact = spark.read.parquet(str(work / "exact"))
        with tr.span("dedup.near"):
            dedup.minhash_lsh_pairs(exact, k=3, threshold=0.5).write.parquet(str(work / "pairs"))
        try:
            out["lsh"] = dedup.read_candidate_metrics("minhash_lsh")
        except (AttributeError, KeyError):
            print("[perfbench] dedup.lsh_* absent: no candidate metrics for minhash_lsh",
                  file=sys.stderr)
            out["lsh"] = None
        pairs = spark.read.parquet(str(work / "pairs"))
        with tr.span("graph.components"):
            graph.connected_components(
                pairs, "id_a", "id_b", edges_canonical=True
            ).write.parquet(str(work / "components"))
        test = F.col("doc_id") % 10 == 0
        train_df, test_df = exact.filter(~test), exact.filter(test)
        with tr.span("decon"):
            contamination.decontaminate(train_df, test_df, n=4).write.parquet(str(work / "decon"))
        out["decon_flagged"] = train_df.count() - spark.read.parquet(str(work / "decon")).count()
        return out
