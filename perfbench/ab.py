"""Paired comparison of two source trees with the same benchmark code.

    python3 perfbench/ab.py BASE_TREE HEAD_TREE --workload graph_b --pairs 10

Each tree is a checkout of the repository (for example made with
``git archive <commit> | tar -x -C <dir>``).  This script copies its own
``perfbench`` directory and ``BENCHMARK.json`` into both trees, so the two
sides run identical benchmark code, then runs the workload alternately
on each side, swapping which side goes first in every pair, with seeds
1..pairs shared by both sides.  It prints one JSON line per run and, at
the end, for each named metric: both sides' medians and quartiles, and
how many pairs HEAD won (ties count for neither side).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _install(tree: str) -> None:
    dst = os.path.join(tree, "perfbench")
    if os.path.abspath(dst) != HERE:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(HERE, dst, ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tree)


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{tree} seed {seed} failed:\n{p.stderr[-3000:]}")
    detail, result = json.loads(lines[0]), json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"{tree} seed {seed}: wrong output {result}")
    return {k: v for k, v in detail["metrics"].items() if "median" in v}


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--workload", default="graph_b")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    for tree in (args.base, args.head):
        _install(tree)
    runs = {"base": [], "head": []}
    for i in range(args.pairs):
        sides = ["base", "head"] if i % 2 == 0 else ["head", "base"]
        for side in sides:
            m = _run(getattr(args, side), args.workload, i + 1, args.seconds)
            runs[side].append(m)
            print(json.dumps({"pair": i, "side": side, "seed": i + 1,
                              "metrics": {k: v["median"] for k, v in m.items()}}), flush=True)

    summary = {}
    for name, first in runs["head"][0].items():
        b = [r[name]["median"] for r in runs["base"]]
        h = [r[name]["median"] for r in runs["head"]]
        sign = 1 if first["better"] == "lower" else -1
        wins = sum(1 for x, y in zip(b, h) if sign * (x - y) > 0)
        summary[name] = {"base": _quartiles(b), "head": _quartiles(h),
                         "head_wins": wins, "pairs": len(h)}
    print(json.dumps({"workload": args.workload, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
