#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload spans_mixed --seeds 1-10 [--out runs.jsonl]
    python3 perfbench/spread.py --compare parent.jsonl child.jsonl

For every end-to-end metric, ``setup_s`` included: median, quartiles
(``statistics.quantiles``, n=4), the inter-quartile distance as a share
of the median, and whether that spread is within the metric's bound (and
within a third of it, the steadiness target).  ``--compare`` applies the regression rule: the
child's median may not be worse than the parent's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END  # noqa: E402
from perfbench.record import median, quartiles, regressed, spread, worse_by  # noqa: E402


def seeds(text: str):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run(workload: str, seed_list, seconds: float, out_path):
    results = []
    for seed in seed_list:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if out_path:
            with open(out_path + ".log", "a") as fh:
                fh.write(f"== {workload} seed {seed}\n{proc.stderr}")
        lines = proc.stdout.strip().splitlines()
        rec = json.loads(lines[-1]) if lines else {}
        rec.update(workload=workload, seed=seed, rc=proc.returncode,
                   run_s=time.perf_counter() - t0)
        results.append(rec)
        print(json.dumps({k: rec[k] for k in ("seed", "rc", "run_s", "correct")}
                         | {m: v["value"] for m, v in rec.get("metrics", {}).items()}),
              file=sys.stderr, flush=True)
        if out_path:
            with open(out_path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
    return results


def summarize(results) -> int:
    bad = 0
    for name, (unit, _better, bound) in END_TO_END.items():
        values = [r["metrics"][name]["value"] for r in results if name in r.get("metrics", {})]
        if len(values) < 2:
            print(f"{name}: {len(values)} values")
            bad += 1
            continue
        q1, q3 = quartiles(values)
        s = spread(values)
        ok = s <= bound
        steady = s <= bound / 3
        bad += not ok
        print(f"{name:12s} n={len(values)} median={median(values):.6g} {unit} "
              f"q1={q1:.6g} q3={q3:.6g} spread={s:.4f} bound={bound} "
              f"{'ok' if ok else 'TOO WIDE'}{'' if steady else ' (above bound/3)'}")
    return bad


def _load(path: str):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def compare(parent_path: str, child_path: str) -> int:
    parent, child = _load(parent_path), _load(child_path)
    bad = 0
    for workload in sorted({r["workload"] for r in parent}):
        for name, (unit, better, bound) in END_TO_END.items():
            pv = [r["metrics"][name]["value"] for r in parent
                  if r["workload"] == workload and name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in child
                  if r["workload"] == workload and name in r["metrics"]]
            worse = regressed(pv, cv, better, bound)
            bad += worse
            print(f"{workload:12s} {name:12s} parent={median(pv):.6g} child={median(cv):.6g} "
                  f"{unit} worse_by={worse_by(median(pv), median(cv), better):+.4f} "
                  f"bound={bound} {'REGRESSED' if worse else 'ok'}")
    return bad


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=14)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("PARENT", "CHILD"))
    args = p.parse_args(argv)
    if args.compare:
        return 1 if compare(*args.compare) else 0
    results = run(args.workload, seeds(args.seeds), args.seconds, args.out)
    return 1 if summarize(results) else 0


if __name__ == "__main__":
    sys.exit(main())
