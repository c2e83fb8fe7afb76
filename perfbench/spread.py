"""Run one workload over several seeds and report each metric's median,
quartiles and interquartile spread (as a share of the median), plus the
wall time of every run.

    python3 perfbench/spread.py --workload rmat_graph --seeds 1-10 [--seconds 1] [--trace 0]

Run from the repository root; the summary also goes to
``.bench_out/spread-<workload>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=_seeds, required=True)
    p.add_argument("--seconds", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    runs = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": result})
        ok = result is not None and result["correct"]
        print(f"seed {seed}: exit {proc.returncode}  correct {ok}  wall {wall:.1f} s", flush=True)

    good = [r["result"] for r in runs if r["result"] is not None]
    summary = {"workload": args.workload, "trace": args.trace, "runs": runs, "metrics": {}}
    names = sorted({k for g in good for k in g["metrics"]})
    for name in names:
        vals = [g["metrics"][name]["value"] for g in good if name in g["metrics"]]
        q1, q2, q3 = stats.quartiles(vals)
        spread = stats.relative_spread(vals)
        summary["metrics"][name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread}
        print(f"{name:<28} median {q2:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  spread {spread:.4f}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {stats.median(walls):.1f} s  max {max(walls):.1f} s")
    out = os.path.join(ROOT, ".bench_out", f"spread-{args.workload}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
