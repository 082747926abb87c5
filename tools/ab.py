"""Interleaved A/B of two source trees on one benchmark workload.

    python3 tools/ab.py OLD_TREE NEW_TREE --workload W --pairs N [--seed0 S]

Pair ``i`` runs ``python3 perfbench/run.py --workload W --seed S+i
--seconds 12 --trace 0`` once in each tree, each run a fresh process
started in that tree; the old tree goes first in even pairs and the new
tree first in odd ones, so drift in the host's speed falls on both sides.
Each run's end-to-end metrics go to stderr as one JSON line when it ends.
The summary on stdout gives, for every end-to-end metric in NEW_TREE's
``BENCHMARK.json``, each side's median and quartiles, the median gain
(old over new, oriented so that > 1 means the new tree is better), and how
many pairs each side won, and a verdict against the metric's ``bound``
(a fraction of the old median): "worse than bound" when the new median is
worse than the old one by more than the bound, "unresolved" when the old
side's quartile distance is wider than the bound (unless every new run
beats every old run), and "within bound" otherwise. Then it gives each
side's failed and attempted operations. The exit status is 1 if any run
reports a wrong result (``correct`` false or a failed operation), so a
scripted A/B cannot pass over a tree that gives wrong answers.

All measuring is ``perfbench/run.py``'s; this script only runs it and
summarises what it prints.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SECONDS = 12


def run_once(tree: str, workload: str, seed: int) -> dict:
    """One fresh benchmark process in ``tree``; its final JSON line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} in {tree} exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def verdict(old: list[float], new: list[float], direction: str, bound: float) -> str:
    """Reading of one metric against its bound, per the module docstring."""
    sign = 1 if direction == "higher" else -1
    old_med = statistics.median(old)
    if sign * (old_med - statistics.median(new)) > bound * old_med:
        return "worse than bound"
    q1, _, q3 = quartiles(old)
    if q3 - q1 > bound * old_med and not all(sign * (w - o) > 0 for w in new for o in old):
        return "unresolved"
    return "within bound"


def summarise(runs: dict[str, list[dict]], metrics: dict[str, dict]) -> str:
    out = [f"{'metric':<14} {'side':<4} {'median':>10} {'q1':>10} {'q3':>10} {'wins':>5}"]
    n = len(runs["old"])
    for name, metric in metrics.items():
        direction = metric["better"]
        vals = {side: [r["metrics"][name]["value"] for r in runs[side]] for side in runs}
        sign = 1 if direction == "higher" else -1
        wins = {"new": 0, "old": 0}
        for o, w in zip(vals["old"], vals["new"]):
            if sign * (w - o) > 0:
                wins["new"] += 1
            elif sign * (o - w) > 0:
                wins["old"] += 1
        for side in ("old", "new"):
            q1, med, q3 = quartiles(vals[side])
            out.append(f"{name:<14} {side:<4} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                       f"{wins[side]:>2}/{n}")
        old_med, new_med = statistics.median(vals["old"]), statistics.median(vals["new"])
        gain = new_med / old_med if direction == "higher" else old_med / new_med
        out.append(f"{name:<14} gain {gain:>9.3f}x ({direction} is better)")
        out.append(f"{name:<14} verdict: "
                   f"{verdict(vals['old'], vals['new'], direction, metric['bound'])} "
                   f"(bound {metric['bound']:g})")
    for side in ("old", "new"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        out.append(f"{side}: {failed} failed of {attempted} operations")
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old_tree")
    ap.add_argument("new_tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args(argv)

    trees = {"old": os.path.abspath(args.old_tree), "new": os.path.abspath(args.new_tree)}
    with open(os.path.join(trees["new"], "BENCHMARK.json")) as fh:
        metrics = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    runs: dict[str, list[dict]] = {"old": [], "new": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for side in ("old", "new") if i % 2 == 0 else ("new", "old"):
            rec = run_once(trees[side], args.workload, seed)
            runs[side].append(rec)
            values = {k: v["value"] for k, v in rec["metrics"].items()}
            print(json.dumps({"pair": i, "seed": seed, "side": side, "failed": rec["failed"],
                              "attempted": rec["attempted"], **values}),
                  file=sys.stderr, flush=True)
    print(f"{args.workload}: {args.pairs} pairs, seeds {args.seed0}..{args.seed0 + args.pairs - 1}")
    print(summarise(runs, metrics))
    wrong = sum(not r["correct"] or r["failed"] > 0 for side in runs.values() for r in side)
    if wrong:
        print(f"{wrong} run(s) reported wrong results", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
