#!/usr/bin/env python3
"""The repository's benchmark: the paper's KG pipeline with real sinks (and,
traced, its incremental re-run), and corpus dedup.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one Spark session on
``local[N]`` (N = usable cores), one client running one pass at a time
(closed loop). Inputs are generated from ``--seed``; every pass reads them
through fresh hard links, writes into a fresh directory that is removed
afterwards, and has its output checked outside the timed window.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` the per-layer ones (see README.md). Everything
the run writes stays under ``perfbench/work`` (removed at exit) and
``perfbench/out`` (the span dump of a traced run).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("kg_build", "corpus_dedup")

# -Xms = -Xmx, so the heap is not resized by GC heuristics; the throughput
# collector runs no concurrent GC threads beside the measured work; no
# perf-data file outside the work directory (-XX:-UsePerfData)
HEAP = "2g"
MIN_PASSES = 3  # timed passes, even when --seconds has run out
MAX_LOOP_S = 90.0  # keeps a run inside its time limit on a slow host
_MB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def written_bytes(d: Path) -> int:
    """Bytes of files created under ``d`` — hard-linked inputs (link
    count > 1) were not written by the pass."""
    n = 0
    for root, _, files in os.walk(d):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if st.st_nlink == 1:
                n += st.st_size
    return n


def tree_size(paths) -> tuple[int, int]:
    files = size = 0
    for p in paths:
        for root, _, fs in os.walk(p):
            for f in fs:
                files += 1
                size += os.lstat(os.path.join(root, f)).st_size
    return files, size


def configure_env(work: Path) -> None:
    """Keep every temporary file of Python, the JVM and the workers inside
    the work directory, and let workers import the package."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: Path, cores: int):
    from knetminer_etl_spark.runtime import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{cores}]",
        conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work / 'tmp'}"
            ),
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.sql.shuffle.partitions": str(cores),
            "spark.knetminer.stagingDir": str(work / "staging"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(str(HERE / "fakes" / "neo4j.py"))
    return spark


class Bench:
    def __init__(self, spark, work: Path, wl):
        self.spark, self.work, self.wl = spark, work, wl
        self.n_pass = 0

    def _between_passes(self) -> None:
        from knetminer_etl_spark.runtime.session import release_pinned_rdds

        release_pinned_rdds(self.spark)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def one_pass(self, tracer=None) -> dict:
        """Stage inputs, run one pass under the timer, check it. Only the
        run itself is timed; a crash or a failed check is recorded, never
        raised."""
        from procstat import host_steal_s, reset_peak_rss, tree_cpu_s, tree_peak_rss_bytes
        from spans import CheckpointSpans, NullTracer

        self.n_pass += 1
        pass_dir = self.work / f"pass{self.n_pass}"
        self.wl.stage_inputs(pass_dir)
        self._between_passes()
        traced = tracer is not None
        self.wl.tracer = tracer if traced else NullTracer()
        spy = CheckpointSpans(tracer) if traced else None
        rec: dict = {"errors": [], "traced": traced}
        reset_peak_rss()
        cpu0, steal0 = tree_cpu_s(), host_steal_s()
        t0 = time.perf_counter()
        try:
            if traced:
                with spy, tracer.span("pass") as root:
                    rec["root"] = root
                    rec.update(self.wl.run(pass_dir))
            else:
                rec.update(self.wl.run(pass_dir))
            crashed = False
        except Exception:  # noqa: BLE001 - a crashed pass counts as attempted
            rec["errors"].append(traceback.format_exc(limit=3))
            crashed = True
        rec["run_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        # share of the machine's CPU time the host gave to other guests
        rec["steal_share"] = (host_steal_s() - steal0) / (rec["run_s"] * os.cpu_count())
        rec["peak_rss_mb"] = tree_peak_rss_bytes() / _MB
        self.wl.tracer = NullTracer()
        rec["bytes_written_mb"] = written_bytes(pass_dir) / _MB
        rec["dir_mb"] = {
            p.name: tree_size([p])[1] / _MB for p in pass_dir.iterdir() if p.is_dir()
        }
        if traced:
            rec["ck_files"], ck_bytes = tree_size(p for p in set(spy.saved) if os.path.exists(p))
            rec["ck_mb"] = ck_bytes / _MB
        if not crashed:
            try:
                rec["errors"] += self.wl.check(pass_dir, rec)
            except Exception:  # noqa: BLE001 - unreadable output fails the check
                rec["errors"].append(traceback.format_exc(limit=3))
        shutil.rmtree(pass_dir, ignore_errors=True)
        gc.collect()
        return rec


def run(args) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import knetminer_etl_spark  # noqa: F401
    except ImportError:
        log("the knetminer_etl_spark package is not importable from the repository root")
        return 2
    cores = len(os.sched_getaffinity(0))
    work = HERE / "work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)

    import corpus
    import kg

    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        return _run(args, spark, work, session_s, {
            "kg_build": kg.KgBuild,
            "corpus_dedup": corpus.CorpusDedup,
        }[args.workload])
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:  # the JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spark, work, session_s, wl_cls) -> int:
    from spans import NullTracer, Tracer

    # --- set-up: input generation, then the warm-up passes ------------------
    wl = wl_cls(spark, work / "data", args.seed, NullTracer())
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    bench = Bench(spark, work, wl)
    warm = [bench.one_pass() for _ in range(wl.warmup_passes)]
    setup_s = session_s + gen_s + sum(r["run_s"] for r in warm)
    log(f"setup: session {session_s:.2f}s, inputs {gen_s:.2f}s, "
        f"warm-up {[round(r['run_s'], 2) for r in warm]}")

    # --- measured loop: closed, one pass at a time ----------------------------
    tracer = Tracer(spark, f"{args.workload}-s{args.seed}") if args.trace else None
    want = 2 if args.trace else MIN_PASSES  # per kind of pass
    recs = []
    t_loop = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_loop
        n_traced = sum(r["traced"] for r in recs)
        n_plain = len(recs) - n_traced
        enough = n_plain >= want and (n_traced >= want or not args.trace)
        if (elapsed >= args.seconds and enough) or elapsed > MAX_LOOP_S:
            break
        # the traced mode runs untraced and traced passes in the order
        # U T T U, so pass times still falling after warm-up weigh on both
        # kinds alike and traced - untraced is the tracing overhead
        trace_pass = args.trace and len(recs) % 4 in (1, 2)
        recs.append(bench.one_pass(tracer if trace_pass else None))
    phase = wl.layer_phase(work / "phase", tracer) if args.trace else {}
    wl.finish(warm + recs)  # checks that need one reference computation per run

    failed_phase = [e for r in phase.get("reruns", ()) for e in r["errors"]]
    for r in warm + recs:
        if r["errors"]:
            log(f"pass failed: {r['errors']}")
    if failed_phase:
        log(f"incremental re-run failed: {failed_phase}")
    untraced = [r for r in recs if not r["traced"]]
    traced = [r for r in recs if r["traced"]]
    correct = not failed_phase and not any(r["errors"] for r in warm + recs)
    ok = [not r["errors"] for r in recs]

    if args.trace:
        import layers

        metrics = layers.per_layer(tracer, traced, untraced, phase, session_s)
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{args.workload}-s{args.seed}.json"
        tracer.dump(str(path))
        log(f"spans written to {path}")
    else:
        def med(key):
            return statistics.median(r[key] for r in untraced)

        metrics = {
            "run_s": {"value": med("run_s"), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": med("peak_rss_mb"), "unit": "MB"},
            "cpu_s": {"value": med("cpu_s"), "unit": "s"},
            "bytes_written_mb": {"value": med("bytes_written_mb"), "unit": "MB"},
            "success_rate": {"value": sum(ok) / len(recs), "unit": "ratio"},
        }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "samples": len(untraced),
            "run_s_quartiles": quartiles([r["run_s"] for r in untraced]),
            "passes": [{k: r[k] for k in ("run_s", "cpu_s", "peak_rss_mb", "bytes_written_mb",
                                          "steal_share")} for r in untraced],
            "setup": {"session_s": session_s, "inputs_s": gen_s,
                      "warmup_s": [r["run_s"] for r in warm]},
        }))
    print(json.dumps({
        "correct": correct,
        "attempted": len(recs),
        "failed": len(recs) - sum(ok),
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
