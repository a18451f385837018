#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, with the gain rule.

Usage, from the root of a checkout:

    python3 tools/perfpairs.py --workload catalog-churn --ref <parent> \
        [--pairs 10] [--seconds 12]

The parent side is the committed tree of `--ref`, extracted with
`git archive` into a temporary directory that is removed at exit; the
change side is this checkout as it stands, committed or not, so name
the change's parent commit explicitly. Pair `i` (from 1) runs
`perfbench/run.py --seed <i> --trace 0` once on each side, the parent
first on odd pairs and the change first on even ones. Both
sides build into this checkout's `.bench_build/` (outputs are keyed by a
digest of their sources, so the parent's build is reused by later runs).

For every end-to-end metric of BENCHMARK.json it prints each side's
median [q1, q3], the change in percent, the change's wins out of the
pairs (ties count for neither), whether the gain rule holds (wins in at
least nine tenths of the pairs and a median gap wider than the parent's
quartile distance) and whether the metric stays within its bound. The
exit code is 2 when any run is incorrect, fails an operation or cannot
finish. Only BENCHMARK.json and perfbench/ are read.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def quartiles(xs):
    """(q1, median, q3), the inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def extract(ref, dest):
    """The committed tree of `ref` into `dest` (no worktree is registered)."""
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", ref],
                             stdout=subprocess.PIPE, check=True).stdout
    with tempfile.TemporaryFile() as f:
        f.write(archive)
        f.seek(0)
        with tarfile.open(fileobj=f) as t:
            t.extractall(dest)


def run_one(checkout, workload, seed, seconds):
    """One perfbench run; returns (result dict or None, problem or None)."""
    env = dict(os.environ, CARGO_TARGET_DIR=str(ROOT / ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL)
    lines = r.stdout.decode(errors="replace").strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit code {r.returncode}, no result line"
    if not res.get("correct", False):
        return res, "incorrect result"
    if res.get("failed", 0):
        return res, f"{res['failed']} of {res.get('attempted')} operations failed"
    if r.returncode != 0:
        return res, f"exit code {r.returncode}"
    return res, None


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--ref", required=True,
                    help="the change's parent commit")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    metrics = bench["end_to_end"]

    runs = {"parent": [], "change": []}
    problems = []
    with tempfile.TemporaryDirectory(prefix="perfpairs-") as tmp:
        parent = Path(tmp) / "parent"
        extract(args.ref, parent)
        sides = {"parent": parent, "change": ROOT}
        for seed in range(1, args.pairs + 1):
            order = (("parent", "change") if seed % 2 else
                     ("change", "parent"))
            for side in order:
                res, problem = run_one(sides[side], args.workload, seed,
                                       args.seconds)
                if problem:
                    problems.append(f"{side} seed {seed}: {problem}")
                runs[side].append(res["metrics"] if res else None)
                print(f"[perfpairs] pair {seed}/{args.pairs} "
                      f"{side}: {problem or 'ok'}", file=sys.stderr, flush=True)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    print(f"{args.workload}: {len(pairs)} pairs, ref {args.ref}, "
          f"--seconds {args.seconds}")
    print(f"{'metric':<12} {'parent median [q1, q3]':>28} "
          f"{'change median [q1, q3]':>28} {'delta':>8} {'wins':>6} "
          f"{'gain':>5} {'bound':>6}")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        lower = m["better"] == "lower"
        both = [(p[name]["value"], c[name]["value"]) for p, c in pairs
                if name in p and name in c]
        if not both:
            continue
        pq1, pmed, pq3 = quartiles([p for p, _ in both])
        cq1, cmed, cq3 = quartiles([c for _, c in both])
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        delta = (cmed - pmed) / pmed if pmed else 0.0
        gap = (pmed - cmed) if lower else (cmed - pmed)
        gain = wins * 10 >= 9 * len(both) and gap > pq3 - pq1
        within = (-delta if not lower else delta) <= bound
        print(f"{name:<12} {pmed:>10.4g} [{pq1:.4g}, {pq3:.4g}]".ljust(41) +
              f"{cmed:>10.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(29) +
              f"{delta * 100:>+7.1f}% {wins:>3}/{len(both):<2} "
              f"{'yes' if gain else 'no':>5} {'ok' if within else 'WORSE':>6}")
    for p in problems:
        print(f"PROBLEM {p}")
    return 2 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
