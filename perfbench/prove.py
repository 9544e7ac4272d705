"""Repeat the benchmark over several seeds and judge its steadiness.

Usage, from the repository root::

    python3 perfbench/prove.py --workload etl_sf0.01 --seeds 10 \
        [--save runs.json] [--compare earlier.json]

Runs ``perfbench/run.py`` once per seed (1..N), one run at a time, and
prints for every end-to-end metric its median, quartiles and spread
(interquartile distance over the median) next to the bound
``BENCHMARK.json`` fixes. A spread must stay within its bound;
below a third of it is the target. With
``--compare``, the medians are also checked against those of an
earlier saved set: none may be worse by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from core import median, quartiles, regression, spread, within_bound  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run; raises unless it exits 0 with a result line."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    run_s = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"seed {seed}: incorrect result {lines[-2][-2000:]}")
    info = json.loads(lines[-2])["info"]
    result["passes"] = info["passes_untraced_s"], info["passes_untraced_cpu_s"]
    result["run_s"] = run_s
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--save")
    ap.add_argument("--compare")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {name: [] for name in metrics}
    for seed in range(1, args.seeds + 1):
        result = run_once(args.workload, seed, bench["run_seconds"], 0)
        for name in metrics:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(
            f"{n}={v[-1]:.4g}" for n, v in values.items())
            + " pass wall/cpu=" + " ".join(
                f"{w:.2f}/{c:.2f}" for w, c in zip(*result["passes"]))
            + f" run {result['run_s']:.0f} s",
            flush=True)
    if args.save:
        with open(args.save, "w") as fh:
            json.dump({"workload": args.workload, "values": values}, fh)

    earlier = None
    if args.compare:
        with open(args.compare) as fh:
            earlier = json.load(fh)["values"]
    ok = True
    for name, m in metrics.items():
        vals = values[name]
        q1, q3 = quartiles(vals)
        s = spread(vals)
        line = (f"{name:14s} median {median(vals):.4g} q1 {q1:.4g} q3 {q3:.4g} "
                f"spread {s:.3f} bound {m['bound']}")
        if s > m["bound"]:
            ok = False
            line += "  SPREAD OVER BOUND"
        elif s > m["bound"] / 3:
            line += "  spread over a third of the bound"
        if earlier is not None:
            before, now = median(earlier[name]), median(vals)
            line += f"  vs earlier {regression(before, now, m['better']):+.3f}"
            if not within_bound(before, now, m["better"], m["bound"]):
                ok = False
                line += "  WORSE THAN BOUND"
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
