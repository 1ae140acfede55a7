#!/usr/bin/env python3
"""Steadiness self-check: runs the benchmark repeatedly and reports, per
workload and end-to-end metric, the median, quartiles and relative spread
(Q3 - Q1) / median of each set of runs, then an A/A comparison of two sets
run from the same code against each metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload kg_build --runs 10 --sets 2

Each run of a set uses its own seed (sets draw disjoint seeds), so the
spread covers input variation as well as run-to-run noise. Raw results
are appended to ``perfbench/out/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res.update(workload=workload, seed=seed, wall_s=wall, detail=json.loads(lines[-2]))
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2, choices=(1, 2))
    p.add_argument("--seed-base", type=int, default=1000)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    ok = True
    for wl in args.workload:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                r = one_run(wl, args.seed_base + 100 * s + i, spec["run_seconds"])
                with open(out / "steady.jsonl", "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                steal = statistics.median(p["steal_share"] for p in r["detail"]["passes"])
                print(f"{wl} set {s} seed {r['seed']}: correct={r['correct']} wall={r['wall_s']:.1f}s "
                      f"host-steal={steal:.0%} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
                ok &= r["correct"]
                runs.append(r)
            sets.append(runs)
        for name, m in bounds.items():
            meds = []
            for s, runs in enumerate(sets):
                q1, q2, q3, rel = spread([r["metrics"][name]["value"] for r in runs])
                meds.append(q2)
                flag = "" if rel <= m["bound"] / 3 else "  <-- spread > bound/3"
                ok &= rel <= m["bound"]
                print(f"{wl} {name} set {s}: median {q2:.4g} {m['unit']} "
                      f"[q1 {q1:.4g}, q3 {q3:.4g}] spread {rel:.3f} (bound {m['bound']}){flag}")
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                ok &= worse <= m["bound"]
                print(f"{wl} {name} A/A: second median worse by {worse:+.3f} (bound {m['bound']})")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
