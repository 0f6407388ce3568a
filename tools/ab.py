"""Paired A/B of the benchmark: a base commit against the working tree.

Exports the base commit's files (``git archive``, default ``HEAD``) into a
temporary directory, then runs ``perfbench/run.py --workload W`` in fresh
processes, alternating which side goes first, for ``PAIRS`` pairs
(seed = pair number, the same seed on both sides of a pair). Per
end-to-end metric of ``BENCHMARK.json`` it prints both medians, how many
pairs the change won, the base runs' interquartile range and a verdict:

- ``better`` / ``worse``: the median gap exceeds the base IQR and the
  change won (lost) at least 9 of every 10 pairs; ``better`` also needs
  the change's failed share of operations to be no higher than the base's;
- ``unresolved``: anything else — in particular a gap within the IQR.

``over bound`` marks a median worse than the base by more than the
metric's bound. Each run lasts ``run_seconds`` of ``BENCHMARK.json``. The
report (the base's commit sha and every run's metrics too) is written to
``AB_<workload>.json`` at the repository root.

Usage: python tools/ab.py WORKLOAD [--base REV]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10


def export(rev: str, dst: str) -> None:
    """The committed files of *rev* under *dst*."""
    tar = os.path.join(dst, "tree.tar")
    subprocess.run(["git", "archive", "--output", tar, rev], cwd=ROOT, check=True)
    with tarfile.open(tar) as f:
        f.extractall(dst, filter="data")
    os.remove(tar)


def run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in a fresh process: its last stdout line."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=tree, check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def verdict(base: list[float], change: list[float], lower: bool,
            fails_more: bool) -> dict:
    q1, _, q3 = statistics.quantiles(base, n=4)
    gap = statistics.median(change) - statistics.median(base)
    wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
    losses = sum((c > b) if lower else (c < b) for b, c in zip(base, change))
    need = math.ceil(0.9 * len(base))
    if abs(gap) <= q3 - q1:
        word = "unresolved"
    elif (gap < 0) == lower and wins >= need and not fails_more:
        word = "better"
    elif (gap > 0) == lower and losses >= need:
        word = "worse"
    else:
        word = "unresolved"
    return {"base_median": statistics.median(base),
            "change_median": statistics.median(change),
            "gap": gap, "wins": wins, "base_iqr": q3 - q1, "verdict": word}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("--base", default="HEAD")
    args = ap.parse_args(argv)
    base_sha = subprocess.run(
        ["git", "rev-parse", "--verify", args.base + "^{commit}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}

    runs: dict[str, list[dict]] = {"base": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="ab-base-") as base_tree:
        export(base_sha, base_tree)
        trees = {"base": base_tree, "change": ROOT}
        for i in range(PAIRS):
            for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                runs[side].append(run(trees[side], args.workload, i + 1, bench["run_seconds"]))
                print(f"pair {i + 1} {side}: "
                      + json.dumps({k: round(v["value"], 3)
                                    for k, v in runs[side][-1]["metrics"].items()}),
                      flush=True)

    failed = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
              for s, rs in runs.items()}
    report = {"workload": args.workload, "base": base_sha, "pairs": PAIRS,
              "failed_share": failed, "metrics": {}, "runs": runs}
    print(f"\n{'metric':14s} {'base':>9s} {'change':>9s} {'gap%':>7s} wins "
          f"{'base IQR':>9s}  verdict")
    for name, m in spec.items():
        b, c = ([r["metrics"][name]["value"] for r in runs[s]] for s in ("base", "change"))
        v = verdict(b, c, m["better"] == "lower", failed["change"] > failed["base"])
        worse = v["gap"] if m["better"] == "lower" else -v["gap"]
        v["over_bound"] = worse > m["bound"] * v["base_median"]
        report["metrics"][name] = v
        print(f"{name:14s} {v['base_median']:9.3f} {v['change_median']:9.3f} "
              f"{100 * v['gap'] / v['base_median']:+6.1f}% {v['wins']:2d}/{PAIRS} "
              f"{v['base_iqr']:9.3f}  {v['verdict']}{'  over bound' if v['over_bound'] else ''}")
    print(f"failed share: base {failed['base']:.3f}, change {failed['change']:.3f}")
    with open(os.path.join(ROOT, f"AB_{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
