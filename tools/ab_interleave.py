"""Interleaved-worktree A/B bench driver — the standing decision
protocol for optimization rounds (RUNBOOK §5; institutionalized r12).

Runs ``tools/bench_subset.py`` sessions alternately from a BASE tree
(a git worktree at the pre-change commit) and the NEW tree, several
waves, ORDER-BALANCED (wave 1 base-first, wave 2 new-first, ...) so
neither warmup bias nor monotone box drift can fake a ranking (the
r11 lesson: a fixed-order config A/B showed a fake −14%). Compares
per-query MINIMA across all waves of each tree — the quiet-wave
estimate host-load spikes cannot inflate.

Usage::

    python tools/ab_interleave.py --base /root/wt-base \
        --new /root/repo --sf /root/repo/.benchdata/sf1 \
        --waves 2 [--env K=V ...] [--env-new K=V ...] q1 q2 ...

``--env`` applies to both sides (e.g. SPARK_GRAFT_CPUS); ``--env-new``
only to the NEW side — that turns the tool into an order-balanced
CONFIG A/B on a single tree (pass the same dir to --base/--new).
Prints one JSON line: per-query base/new minima and ratios, plus
geomean, and next to them each side's codegen compiles per query: one
``[cold, run 2, run 3]`` list per wave (``bench_subset``'s
``compiles``; ``null`` for a tree whose ``bench_subset`` predates it).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys


def run_subset(tree: str, sf: str, names: list[str], env: dict) -> dict:
    """One ``bench_subset`` session: its JSON record (``queries``,
    ``compiles``, ...). Raises if the session crashed."""
    cmd = [sys.executable, os.path.join(tree, "tools", "bench_subset.py"), sf, *names]
    proc = subprocess.run(
        cmd, cwd=tree, capture_output=True, text=True,
        env={**os.environ, **env},
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench_subset exited {proc.returncode} in {tree}; "
            f"stderr tail:\n{proc.stderr[-2000:]}"
        )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not line:
        print(proc.stdout[-2000:], file=sys.stderr)
        print(proc.stderr[-2000:], file=sys.stderr)
        raise RuntimeError(f"bench_subset produced no JSON in {tree}")
    return json.loads(line[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--new", required=True)
    ap.add_argument("--sf", required=True)
    ap.add_argument("--waves", type=int, default=2)
    ap.add_argument("--env", action="append", default=[])
    ap.add_argument("--env-new", action="append", default=[])
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    env_both = dict(kv.split("=", 1) for kv in args.env)
    env_new = {**env_both, **dict(kv.split("=", 1) for kv in args.env_new)}

    base_min: dict[str, float] = {}
    new_min: dict[str, float] = {}
    base_compiles: dict[str, list] = {q: [] for q in args.queries}
    new_compiles: dict[str, list] = {q: [] for q in args.queries}
    sides = [
        ("base", args.base, env_both, base_min, base_compiles),
        ("new", args.new, env_new, new_min, new_compiles),
    ]
    for wave in range(args.waves):
        order = sides if wave % 2 == 0 else sides[::-1]
        for label, tree, env, acc, comp in order:
            rec = run_subset(tree, args.sf, args.queries, env)
            got = rec["queries"]
            for q, s in got.items():
                acc[q] = min(acc.get(q, float("inf")), s)
            for q in args.queries:
                comp[q].append(rec.get("compiles", {}).get(q))
            print(
                f"wave {wave} {label}: "
                + " ".join(f"{q}={got[q]} (compiles {comp[q][-1]})"
                           for q in args.queries),
                file=sys.stderr,
            )
    ratios = {
        q: round(base_min[q] / new_min[q], 4)
        for q in args.queries
        if new_min.get(q) and base_min.get(q)
    }
    geo = (
        round(
            math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios)),
            4,
        )
        if ratios
        else None
    )
    print(
        json.dumps(
            {
                "sf": args.sf,
                "waves": args.waves,
                "base_min": base_min,
                "new_min": new_min,
                "base_compiles": base_compiles,
                "new_compiles": new_compiles,
                "speedup_base_over_new": ratios,
                "geomean_speedup": geo,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
