"""Per-layer metrics of a traced run, computed from its spans.

Each traced pass gives one value per metric; the run reports the median
over its traced passes. The layer phase after the passes adds the layers
the passes of a workload do not run: the incremental re-run (``incr.*``
and ``pg.merge_s``, kg_build) and the dedup-family operators called one by
one (corpus_dedup). A metric of a layer the workload never calls reads 0.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from kg import MAP_STAGES, PG_STAGES

#: span name -> layer it belongs to (``pass`` is the root; its self time
#: is the untraced gap between layer calls)
LAYER_OF = {
    "workflow.run": "workflow",
    "tabmap.map": "tabmap",
    "checkpoint.save": "checkpoint",
    "checkpoint.load": "checkpoint",
    "pg.build": "pg",
    "pg.merge": "pg",
    "jsonl.write": "jsonl",
    "bulk_csv.write": "bulk_csv",
    "neo4j.load": "neo4j",
    "corpus.build": "corpus",
    "corpus.action": "corpus",
    "dedup.exact": "dedup",
    "dedup.near": "dedup",
    "graph.components": "graph",
    "decon": "decon",
}
LAYERS = sorted(set(LAYER_OF.values()))
OPERATOR_LAYERS = ("dedup", "graph", "decon")

#: name -> unit of every metric the traced mode prints: the ``per_layer``
#: list of BENCHMARK.json, the one place these names are kept
UNITS = {
    m["name"]: m["unit"]
    for m in json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())[
        "per_layer"
    ]
}


def _subtree_jobs(spans, roots) -> int:
    ids = {s.id for s in roots}
    n = 0
    for s in spans:  # spans are in creation order: parents precede children
        if s.id in ids or s.parent in ids:
            ids.add(s.id)
            n += s.jobs
    return n


def _layer_split(tracer, spans, only=None) -> dict:
    m = {}
    for layer in only or LAYERS:
        mine = [s for s in spans if LAYER_OF.get(s.name) == layer]
        m[f"{layer}.self_s"] = sum(tracer.self_time(s) for s in mine)
        m[f"{layer}.spark.jobs"] = sum(s.jobs for s in mine)
        m[f"{layer}.spark.tasks"] = sum(s.tasks for s in mine)
        m[f"{layer}.spark.shuffle_mb"] = sum(s.shuffle_mb for s in mine)
        m[f"{layer}.spark.spill_mb"] = sum(s.spill_mb for s in mine)
        m[f"{layer}.jvm.gc_s"] = sum(s.gc_s - tracer.children_gc(s) for s in mine)
    return m


def _timers(spans):
    def dur(name):
        return sum(s.dur for s in spans if s.name == name)

    def saves(stages):
        return sum(
            s.dur for s in spans
            if s.name == "checkpoint.save" and s.attrs.get("stage") in stages
        )

    return dur, saves


def _pass_metrics(tracer, rec) -> dict:
    root = rec["root"]
    spans = tracer.subtree(root)
    dur, saves = _timers(spans)

    neo = rec.get("neo4j", {})
    m = {
        "tabmap.map_s": dur("tabmap.map") + saves(MAP_STAGES),
        "tabmap.triples": rec.get("triples", 0),
        "checkpoint.save_s": dur("checkpoint.save"),
        "checkpoint.load_s": dur("checkpoint.load"),
        "checkpoint.files": rec.get("ck_files", 0),
        "checkpoint.mb": rec.get("ck_mb", 0.0),
        "workflow.stages_ran": rec.get("stages_ran", 0),
        "workflow.stages_reused": rec.get("stages_reused", 0),
        "pg.build_s": dur("pg.build") + saves(PG_STAGES),
        "pg.elements": rec.get("elements", 0),
        "pg.merge_s": dur("pg.merge"),
        "jsonl.write_s": dur("jsonl.write"),
        "jsonl.mb": rec["dir_mb"].get("jsonl", 0.0),
        "bulk_csv.write_s": dur("bulk_csv.write"),
        "neo4j.load_s": dur("neo4j.load"),
        "neo4j.transactions": neo.get("transactions", 0),
        "neo4j.rows_per_tx": neo.get("rows", 0) / max(neo.get("transactions", 0), 1),
        "neo4j.retries": neo.get("retries", 0),
        "corpus.build_s": dur("corpus.build"),
        "corpus.eager_jobs": _subtree_jobs(spans, [s for s in spans if s.name == "corpus.build"]),
        "corpus.action_s": dur("corpus.action"),
        "corpus.action_jobs": _subtree_jobs(spans, [s for s in spans if s.name == "corpus.action"]),
        "spark.jobs": sum(s.jobs for s in spans),
        "spark.tasks": sum(s.tasks for s in spans),
        "spark.job_sum_over_wall": sum(s.job_sum_s for s in spans) / root.dur,
        "spark.max_over_median_task": max(s.max_over_median_task for s in spans),
        "spark.shuffle_mb": sum(s.shuffle_mb for s in spans),
        "spark.spill_mb": sum(s.spill_mb for s in spans),
        "jvm.gc_s": root.gc_s,
        "trace.gap_s": tracer.self_time(root),
    }
    m.update(_layer_split(tracer, spans))
    return m


def _rerun_metrics(tracer, rerun) -> dict:
    spans = tracer.subtree(rerun["root"])
    dur, saves = _timers(spans)
    return {
        "pg.merge_s": dur("pg.merge"),
        "incr.run_s": rerun["root"].dur,
        "incr.tabmap.map_s": dur("tabmap.map") + saves(MAP_STAGES),
        "incr.checkpoint.save_s": dur("checkpoint.save"),
        "incr.checkpoint.load_s": dur("checkpoint.load"),
        "incr.pg.build_s": dur("pg.build") + saves(PG_STAGES),
        "incr.jsonl.write_s": dur("jsonl.write"),
        "incr.workflow.stages_ran": rerun["stages_ran"],
        "incr.workflow.stages_reused": rerun["stages_reused"],
    }


def _operator_metrics(tracer, ops: dict) -> dict:
    spans = [s for s in tracer.spans if LAYER_OF.get(s.name) in OPERATOR_LAYERS]
    dur, _ = _timers(spans)
    lsh = ops.get("lsh") or {}
    m = {
        "dedup.exact_s": dur("dedup.exact"),
        "dedup.near_s": dur("dedup.near"),
        "dedup.lsh_candidates": lsh.get("candidates", 0),
        "dedup.lsh_pairs": lsh.get("out_rows", 0),
        "dedup.candidates_per_pair": lsh.get("candidates", 0) / max(lsh.get("out_rows", 0), 1),
        "graph.components_s": dur("graph.components"),
        "decon.s": dur("decon"),
        "decon.flagged": ops.get("decon_flagged", 0),
    }
    m.update(_layer_split(tracer, spans, OPERATOR_LAYERS))
    return m


def _medians(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


def per_layer(tracer, traced: list[dict], untraced: list[dict], phase: dict, session_s: float) -> dict:
    values = _medians([_pass_metrics(tracer, r) for r in traced if "root" in r])
    values.update(_medians([_rerun_metrics(tracer, r) for r in phase.get("reruns", ())]))
    if "decon_flagged" in phase:
        values.update(_operator_metrics(tracer, phase))
    values["session.start_s"] = session_s
    values["trace.run_s"] = statistics.median(r["run_s"] for r in traced)
    values["trace.untraced_run_s"] = statistics.median(r["run_s"] for r in untraced)
    values["trace.overhead_s"] = values["trace.run_s"] - values["trace.untraced_run_s"]
    unknown = sorted(set(values) - set(UNITS))
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in UNITS.items()
    }
