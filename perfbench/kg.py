"""The paper's pipeline: tabular sources -> triples -> PG elements ->
PG-JSONL / Neo4j, with Parquet checkpoints between stages.

Every timed pass of ``kg_build`` runs it whole from fresh inputs. The
traced mode also measures its incremental re-run over the stored
checkpoints: only the delta batch is mapped and aggregated, then
set-merged into the stored PG, and the PG-JSONL is rewritten.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

from knetminer_etl_spark.io.neo4j import Neo4jConfig, load_pg_to_neo4j
from knetminer_etl_spark.io.neo4j_bulk import write_neo4j_bulk_csv
from knetminer_etl_spark.pg.build import merge_pg, triples_to_pg, triples_to_pg_flat
from knetminer_etl_spark.pg.jsonl import write_pg_jsonl
from knetminer_etl_spark.runtime import checkpoint
from knetminer_etl_spark.runtime.workflow import Pipeline
from knetminer_etl_spark.tabmap import (
    AUTO_EDGE_ID,
    TabFileMapper,
    column_triple_mapper,
    data_source_triple_mapper,
    edge_source_triple_mapper,
    edge_target_triple_mapper,
    type_triple_mapper,
)

import gen
from spans import CheckpointSpans, NullTracer
from fakes.neo4j import read_totals

_GENE_COLS = ["name", "chromosome", "begin", "end", "biotype", "synonym"]

GENES = TabFileMapper(
    "gene_id",
    [column_triple_mapper(c) for c in _GENE_COLS],
    [type_triple_mapper("Gene"), data_source_triple_mapper("ensembl")],
    column_types={"begin": "int", "end": "int"},
)
PROTEINS = TabFileMapper(
    "protein_id",
    [column_triple_mapper("name"), column_triple_mapper("length")],
    [type_triple_mapper("Protein")],
    column_types={"length": "int"},
)
# the protein file also annotates the gene it belongs to: gene ids recur
# across files, so only the aggregated PG build gives the right elements
GENE_PRODUCTS = TabFileMapper(
    "gene_id", [column_triple_mapper("protein_id", "hasProtein")]
)
ENCODES = TabFileMapper(
    AUTO_EDGE_ID,
    [
        edge_source_triple_mapper("gene_id"),
        edge_target_triple_mapper("protein_id"),
        column_triple_mapper("evidence"),
    ],
    [type_triple_mapper("encodes")],
)
INTERACTS = TabFileMapper(
    AUTO_EDGE_ID,
    [
        edge_source_triple_mapper("protein_a"),
        edge_target_triple_mapper("protein_b"),
        column_triple_mapper("score"),
        column_triple_mapper("method"),
    ],
    [type_triple_mapper("interacts")],
    column_types={"score": "int"},
)

#: stages whose checkpoint write is the tabmap layer's triple write, and
#: stages whose write is the PG build (for the traced layer split)
MAP_STAGES = ("nodes", "edges", "delta")
PG_STAGES = ("pg", "pg_flat", "delta_pg")
_BASE = ("nodes", "edges")


def kg_pipeline(ck_dir: Path, in_dir: Path, tracer, delta: bool = False) -> Pipeline:
    """Stages: the node and the edge triples, each mapped from its source
    files, then the map-typed PG (``pg``) and, for the bulk CSV sink, the
    flat PG (``pg_flat``); with ``delta`` also the delta batch's triples
    and PG."""
    pipe = Pipeline(ck_dir, name="kg")

    def mapped(name, *parts):
        def fn(spark, inputs):
            with tracer.span("tabmap.map", stage=name):
                dfs = [m.map(spark, in_dir / f"{f}.tsv") for m, f in parts]
                return checkpoint.union_all(*dfs)

        pipe.stage(name)(fn)

    def built(name, deps, build):
        def fn(spark, inputs):
            with tracer.span("pg.build", stage=name):
                return build(checkpoint.union_all(*(inputs[d] for d in deps)))

        pipe.stage(name, deps=deps)(fn)

    mapped("nodes", (GENES, "genes"), (PROTEINS, "proteins"), (GENE_PRODUCTS, "proteins"))
    mapped("edges", (ENCODES, "encodes"), (INTERACTS, "interacts"))
    built("pg", _BASE, triples_to_pg)
    built("pg_flat", _BASE, triples_to_pg_flat)
    if delta:
        mapped("delta", (GENES, "delta_genes"), (INTERACTS, "delta_interacts"))
        built("delta_pg", ("delta",), triples_to_pg)
    return pipe


def _stage_counts(results) -> dict:
    return {
        "stages_ran": sum(r.ran for r in results),
        "stages_reused": sum(not r.ran for r in results),
        "triples": sum(r.n_rows or 0 for r in results if r.ran and r.name in MAP_STAGES),
    }


# --- output checks ------------------------------------------------------------


def _part_files(d: Path):
    return sorted(p for p in d.iterdir() if p.name.startswith("part-"))


def _canon(elem: dict) -> str:
    e = dict(elem)
    e["labels"] = sorted(e["labels"])
    e["properties"] = {
        k: sorted(v, key=lambda x: json.dumps(x)) for k, v in e["properties"].items()
    }
    return json.dumps(e, sort_keys=True)


def scan_jsonl(d: Path, sample: dict, counts: dict, with_hash: bool = False) -> tuple[dict, list[str]]:
    """Stream the PG-JSONL part files once: line count, dangling edge
    endpoints, the generator's sampled elements and, with ``with_hash``,
    an order-independent hash of the whole PG (sum of per-element digests
    of the canonical element: sorted labels, keys and value sets)."""
    n, nodes, ends, seen, acc = 0, set(), [], {}, 0
    for p in _part_files(d):
        with open(p) as fh:
            for line in fh:
                e = json.loads(line)
                n += 1
                if e["type"] == "node":
                    nodes.add(e["id"])
                else:
                    ends.append((e["from"], e["to"]))
                if e["id"] in sample:
                    seen[e["id"]] = e
                if with_hash:
                    acc += int.from_bytes(
                        hashlib.blake2b(_canon(e).encode(), digest_size=16).digest(), "big"
                    )
    info = {"elements": n}
    if with_hash:
        info["hash"] = f"{n}:{acc % (1 << 128):032x}"
    errs = []
    if n != counts["elements"]:
        errs.append(f"jsonl lines {n} != {counts['elements']} elements")
    dangling = sum(1 for a, b in ends if a not in nodes or b not in nodes)
    if dangling:
        errs.append(f"{dangling} edges with a dangling endpoint")
    bad = 0
    for eid, want in sample.items():
        got = seen.get(eid)
        if (
            got is None
            or sorted(got["labels"]) != want["labels"]
            or got.get("from") != want["from"]
            or got.get("to") != want["to"]
            or {k: sorted(v, key=repr) for k, v in got["properties"].items()} != want["props"]
        ):
            bad += 1
    if bad:
        errs.append(f"{bad} sampled elements differ from the generator's")
    return info, errs


def _csv_rows(d: Path) -> int:
    n = 0
    for p in _part_files(d):
        with open(p) as fh:
            n += max(sum(1 for _ in fh) - 1, 0)  # every part file has a header
    return n


# --- workload -----------------------------------------------------------------


def _link_tree(src: Path, dst: Path) -> None:
    for root, _, files in os.walk(src):
        d = dst / os.path.relpath(root, src)
        d.mkdir(parents=True, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), d / f)


class KgBuild:
    name = "kg_build"
    n_genes = 2500
    warmup_passes = 1
    delta_share = 0.03
    incremental_reruns = 2

    def __init__(self, spark, data_dir: Path, seed: int, tracer):
        self.spark, self.data, self.seed, self.tracer = spark, data_dir, seed, tracer

    def generate(self):
        self.truth = gen.make_kg(str(self.data), self.seed, self.n_genes, self.delta_share)

    def stage_inputs(self, pass_dir: Path):
        (pass_dir / "in").mkdir(parents=True)
        for f in gen.KG_FILES:
            os.link(self.data / f"{f}.tsv", pass_dir / "in" / f"{f}.tsv")

    def run(self, pass_dir: Path) -> dict:
        spark, tr = self.spark, self.tracer
        pipe = kg_pipeline(pass_dir / "ck", pass_dir / "in", tr)
        with tr.span("workflow.run"):
            results = pipe.run(spark)
        with tr.span("jsonl.write"):
            write_pg_jsonl(pipe.load(spark, "pg"), str(pass_dir / "jsonl"))
        with tr.span("bulk_csv.write"):
            write_neo4j_bulk_csv(
                pipe.load(spark, "pg_flat"), pass_dir / "bulk",
                node_props=["name"], edge_props=["method"],
            )
        neo_dir = pass_dir / "neo4j"
        neo_dir.mkdir()
        with tr.span("neo4j.load"):
            load_pg_to_neo4j(pipe.load(spark, "pg"), Neo4jConfig(uri=f"fake://{neo_dir}"))
        return _stage_counts(results)

    def check(self, pass_dir: Path, info: dict) -> list[str]:
        counts = self.truth["base"]
        scan, errs = scan_jsonl(pass_dir / "jsonl", self.truth["base_sample"], counts)
        info.update(scan)
        n_nodes, n_edges = _csv_rows(pass_dir / "bulk" / "nodes"), _csv_rows(pass_dir / "bulk" / "edges")
        if (n_nodes, n_edges) != (counts["nodes"], counts["edges"]):
            errs.append(f"bulk csv rows {(n_nodes, n_edges)} != {(counts['nodes'], counts['edges'])}")
        t = read_totals(pass_dir / "neo4j")
        info["neo4j"] = t
        if (t["node_rows"], t["edge_rows"]) != (counts["nodes"], counts["edges"]):
            errs.append(f"fake driver rows {(t['node_rows'], t['edge_rows'])} != element counts")
        if t["max_tx_rows"] > Neo4jConfig().batch_size:
            errs.append(f"a transaction carried {t['max_tx_rows']} rows > batch_size")
        return errs

    def finish(self, results: list[dict]) -> None:
        pass

    def layer_phase(self, work: Path, tracer) -> dict:
        """The incremental re-run, traced: build the checkpoints once (the
        state a previous run left, delta included), then re-run with
        ``force=["delta"]`` in fresh hard-linked copies — the base stages
        are reused, the delta is mapped and aggregated, ``merge_pg``
        merges it into the stored PG and the PG-JSONL is rewritten. Each
        re-run is checked against one full rebuild over base + delta."""
        spark = self.spark
        in_dir, base_ck = work / "in", work / "base" / "ck"
        in_dir.mkdir(parents=True)
        for f in gen.KG_FILES + gen.DELTA_FILES:
            os.link(self.data / f"{f}.tsv", in_dir / f"{f}.tsv")
        kg_pipeline(base_ck, in_dir, NullTracer(), delta=True).run(spark)

        tri = checkpoint.union_all(
            *(checkpoint.load(base_ck / f"{s}.parquet", spark) for s in _BASE + ("delta",))
        )
        write_pg_jsonl(triples_to_pg(tri), str(work / "rebuild"))
        want, errs = scan_jsonl(work / "rebuild", self.truth["merged_sample"], self.truth["merged"], with_hash=True)

        reruns = []
        for i in range(self.incremental_reruns):
            d = work / f"rerun{i}"
            _link_tree(base_ck, d / "ck")
            pipe = kg_pipeline(d / "ck", in_dir, tracer, delta=True)
            merged = str(d / "ck" / "pg_merged.parquet")
            with CheckpointSpans(tracer), tracer.span("incremental") as root:
                with tracer.span("workflow.run"):
                    results = pipe.run(spark, force=["delta"])
                with tracer.span("pg.merge"):
                    checkpoint.save(merge_pg(pipe.load(spark, "pg"), pipe.load(spark, "delta_pg")), merged)
                with tracer.span("jsonl.write"):
                    write_pg_jsonl(checkpoint.load(merged, spark), str(d / "jsonl"))
            got, e = scan_jsonl(d / "jsonl", self.truth["merged_sample"], self.truth["merged"], with_hash=True)
            e += errs
            if got["hash"] != want["hash"]:
                e.append(f"merged PG hash {got['hash']} != full rebuild {want['hash']}")
            reruns.append({"root": root, "errors": e, **_stage_counts(results)})
            shutil.rmtree(d, ignore_errors=True)
        return {"reruns": reruns}
