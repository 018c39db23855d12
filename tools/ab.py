#!/usr/bin/env python3
"""Interleaved A/B of the product benchmark: a git revision against the
working tree.

The parent arm is `git archive REV`, the change arm a copy of the
working tree's tracked and new files. For each seed both arms run
`perfbench/run.py --trace 0` for BENCHMARK.json's `run_seconds`, the
arm that goes first alternating from seed to seed; then each end-to-end
metric prints each arm's median [q1, q3] and the pairs the change won.
A run that crashed, or reads `correct: false` or `failed > 0`, is kept
out of the medians and the pairs. Last, one `--trace 1` run per arm
prints the per-layer counts (jobs, stages, files, ...) side by side.

Usage: python3 tools/ab.py --workload daily_delta [--rev HEAD] [--seeds 1 2 3]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = ("parent", "change")


def usable(result: dict | None) -> bool:
    return bool(result) and result["correct"] and result["failed"] == 0


def spread(values: list[float]) -> tuple[float, float, float]:
    """(median, q1, q3); the quartiles interpolate between runs."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return med, q1, q3


def summarize(pairs: list[dict], end_to_end: list[dict]) -> dict:
    """Per end-to-end metric: each arm's (median, q1, q3) over its usable
    runs, and how many pairs with both runs usable the change won (ties
    count for neither). `pairs` holds one {"parent": result, "change":
    result} per seed, a result being run.py's parsed last line or None."""
    out = {}
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        vals = {arm: [p[arm]["metrics"][name]["value"] for p in pairs if usable(p[arm])]
                for arm in ARMS}
        both = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs if usable(p["parent"]) and usable(p["change"])]
        won = sum((c < a) if lower else (c > a) for a, c in both)
        out[name] = {arm: spread(v) if v else None for arm, v in vals.items()}
        out[name] |= {"won": won, "pairs": len(both)}
    return out


def run(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """run.py's result line, or None (reported) when the run crashed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        print(f"  run failed (exit {proc.returncode}): {proc.stderr.strip()[-400:]}")
        return None
    return json.loads(lines[-1])


def materialize(rev: str, parent: str, change: str) -> None:
    tar = subprocess.run(["git", "archive", rev], cwd=REPO, capture_output=True, check=True)
    with tarfile.open(fileobj=io.BytesIO(tar.stdout)) as tf:
        tf.extractall(parent, filter="data")
    listed = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=REPO, capture_output=True, check=True, text=True).stdout
    for rel in filter(None, listed.split("\0")):
        if os.path.isfile(os.path.join(REPO, rel)):
            os.makedirs(os.path.dirname(os.path.join(change, rel)), exist_ok=True)
            shutil.copy2(os.path.join(REPO, rel), os.path.join(change, rel))


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args(argv)
    secs = bench["run_seconds"]
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {arm: os.path.join(tmp, arm) for arm in ARMS}
        materialize(args.rev, trees["parent"], trees["change"])
        pairs = []
        for i, seed in enumerate(args.seeds):
            pairs.append({})
            for arm in ARMS if i % 2 == 0 else ARMS[::-1]:
                res = pairs[-1][arm] = run(trees[arm], args.workload, seed, secs, 0)
                vals = {k: round(v["value"], 3) for k, v in (res or {}).get("metrics", {}).items()}
                print(f"seed {seed} {arm:6s} {json.dumps(vals)} "
                      f"{'ok' if usable(res) else 'EXCLUDED'}", flush=True)
        print(f"\n{args.workload} vs {args.rev}: median [q1, q3]")
        for name, s in summarize(pairs, bench["end_to_end"]).items():
            cells = ["n/a" if s[arm] is None else "{:.3f} [{:.3f}, {:.3f}]".format(*s[arm])
                     for arm in ARMS]
            print(f"  {name:14s} parent {cells[0]:26s} change {cells[1]:26s} "
                  f"change won {s['won']}/{s['pairs']}")
        traced = {arm: run(trees[arm], args.workload, args.seeds[0], secs, 1) for arm in ARMS}
    print(f"\ntraced counts (seed {args.seeds[0]}): parent change")
    for name in [m["name"] for m in bench["per_layer"] if m["unit"] == "count"]:
        a, c = ((traced[arm] or {}).get("metrics", {}).get(name, {}).get("value") for arm in ARMS)
        print(f"  {name:30s} {a!s:>8} {c!s:>8}{'' if a == c else '  *'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
