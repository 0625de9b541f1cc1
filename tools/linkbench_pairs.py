#!/usr/bin/env python3
"""Order-alternated linkbench pairs: a parent checkout against the working tree.

    python3 tools/linkbench_pairs.py --parent <dir> [--workload web-local]
        [--seeds 902-907] [--seconds 15]

`--parent` is a checkout of the commit to compare against, for example
`git clone <repo> <dir> && git -C <dir> checkout HEAD~1`. For each
seed the script runs `linkbench/run.py --trace 0` once in the parent and
once in the working tree this script belongs to, one after the other, and
alternates which side goes first from seed to seed, so a slow spell of
the host or a warm file cache does not favour one side. Each side builds
its own engine (in its own `.bench_build`) on its first run.

It prints one line per pair, then for `pass_s` and `setup_s` each side's
median and interquartile range, the pairs in which the working tree is
lower, and whether the median moved by more than the parent's IQR. A
second line gives the median of the per-pair differences (tree minus
parent) and a one-sided sign-test p for "the tree is lower": the chance
of at least that many lower pairs if either side were as likely to be
lower, tied pairs left out. On a host whose speed drifts between runs,
pairs can agree on the sign of a gain smaller than one side's IQR.
Runs that fail are named and left out of the figures. It changes
nothing in either checkout's sources.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
METRICS = ("pass_s", "setup_s")


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(root, workload, seed, seconds):
    """The end-to-end metrics of one linkbench run in `root`, or None."""
    cmd = [sys.executable, "linkbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        tail = "\n".join(out.stderr.splitlines()[-5:])
        print(f"  run failed in {root} (seed {seed}, exit {out.returncode}):\n{tail}", flush=True)
        return None
    result = json.loads(lines[-1])
    if not result.get("correct", False) or result.get("failed", 0):
        print(f"  run in {root} (seed {seed}) reported failed checks", flush=True)
        return None
    return {m: result["metrics"][m]["value"] for m in METRICS}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def sign_test(diffs):
    """One-sided sign-test p that negative differences are as likely as positive ones."""
    lower = sum(d < 0 for d in diffs)
    n = sum(d != 0 for d in diffs)
    return sum(math.comb(n, i) for i in range(lower, n + 1)) / 2 ** n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path, help="checkout of the parent commit")
    ap.add_argument("--workload", default="web-local")
    ap.add_argument("--seeds", default="902-907", type=seed_range, help="first-last, inclusive")
    ap.add_argument("--seconds", default=15, type=float)
    args = ap.parse_args()
    parent = args.parent.resolve()
    if not (parent / "linkbench" / "run.py").is_file():
        raise SystemExit(f"no linkbench/run.py under {parent}")

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = [("parent", parent), ("tree", ROOT)]
        if i % 2:
            order.reverse()
        got = {side: run(root, args.workload, seed, args.seconds) for side, root in order}
        first = order[0][0]
        if None in got.values():
            print(f"seed {seed}: dropped", flush=True)
            continue
        pairs.append(got)
        print(f"seed {seed} ({first} first): " + ", ".join(
            f"{m} {got['parent'][m]:.3f} -> {got['tree'][m]:.3f}" for m in METRICS), flush=True)

    print(f"{args.workload}: {len(pairs)} pairs")
    for m in METRICS:
        before = [p["parent"][m] for p in pairs]
        after = [p["tree"][m] for p in pairs]
        if not pairs:
            continue
        (b1, b3), (a1, a3) = quartiles(before), quartiles(after)
        mb, ma = statistics.median(before), statistics.median(after)
        wins = sum(a < b for a, b in zip(after, before))
        print(f"  {m}: parent median {mb:.3f} (IQR {b3 - b1:.3f}), tree median {ma:.3f} "
              f"(IQR {a3 - a1:.3f}); tree lower in {wins} of {len(pairs)}; "
              f"median moved {ma - mb:+.3f}, {'more' if abs(ma - mb) > b3 - b1 else 'not more'} "
              f"than the parent's IQR")
        diffs = [a - b for a, b in zip(after, before)]
        print(f"    per-pair tree - parent: median {statistics.median(diffs):+.3f}; "
              f"sign test p = {sign_test(diffs):.4f} (one-sided, tree lower)")


if __name__ == "__main__":
    main()
