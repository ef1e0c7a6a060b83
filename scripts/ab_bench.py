#!/usr/bin/env python3
"""A/B the repo's benchmark: a parent commit against the tree under test.

    python3 scripts/ab_bench.py --workload warehouse_etl --seeds 21-30
        --parent <rev> [--parent-dir DIR] [--seconds 10] [--json OUT] [--aa]

Exports the parent commit (`git archive`, so the repository's .git is
not touched) into --parent-dir, or reuses that directory when it
already holds a checkout, then runs one `perfbench/run.py --trace 0`
per side and seed: one pair per seed, alternating which side runs first.
Each side runs from its own checkout, so each builds and caches its own
code and inputs under its own perfbench/.work.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the parent's IQR (Q3 - Q1), the pairs the change
wins (ties count for neither side) and three readings:

  gain        the change wins at least 9/10 of the pairs and the
              medians differ by more than the parent's IQR;
  worse       the change's median is worse than the parent's by more
              than the metric's `bound` (a fraction of the parent's
              median);
  unresolved  the parent's IQR exceeds `bound` times its median, so
              these runs cannot show a regression within the bound,
              unless every change run beats every parent run.

With --aa the "change" side is a second export of the parent (into
DIR_aa), so the table reads an A/A comparison: any `gain` it prints is
a false gain of these seeds and this machine.

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export_parent(rev, dest):
    if os.path.exists(os.path.join(dest, "perfbench", "run.py")):
        return
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"[ab] {tree} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 5,11,12")
    ap.add_argument("--parent", required=True, help="parent revision, e.g. HEAD~1")
    ap.add_argument("--parent-dir", help="parent checkout (default: a new temp dir)")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--json", help="write every run's result here")
    ap.add_argument("--aa", action="store_true",
                    help="run the parent against a second export of itself")
    args = ap.parse_args()

    parent = args.parent_dir or tempfile.mkdtemp(prefix="ab_parent_")
    export_parent(args.parent, parent)
    change = ROOT
    if args.aa:
        change = parent.rstrip("/") + "_aa"
        export_parent(args.parent, change)
    print(f"[ab] parent {args.parent} in {parent}, change {change}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        e2e = json.load(fh)["end_to_end"]

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = [("parent", parent), ("change", change)]
        for side, tree in (order if i % 2 == 0 else order[::-1]):
            r = run_once(tree, args.workload, seed, args.seconds)
            r["seed"] = seed
            runs[side].append(r)
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                            for m in e2e)
            print(f"[ab] pair {i + 1} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']} {vals}", file=sys.stderr, flush=True)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)

    if args.aa:
        print(f"A/A: both sides are {args.parent}")
    report(runs, e2e, args.workload, args.seeds, args.seconds)


def readings(a, b, lower, bound):
    """(wins, gain, worse, unresolved) for parent runs a and change runs b."""
    n = len(a)
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    aq1, aq3 = quartiles(a)
    ma, mb = statistics.median(a), statistics.median(b)
    gain = wins >= 0.9 * n and abs(mb - ma) > aq3 - aq1 and (mb < ma) == lower
    worse = ((mb - ma) if lower else (ma - mb)) > bound * ma
    dominates = max(b) < min(a) if lower else min(b) > max(a)
    unresolved = aq3 - aq1 > bound * ma and not dominates
    return wins, gain, worse, unresolved


def report(runs, e2e, workload, seeds, seconds):
    n = len(runs["parent"])
    print(f"workload {workload}, {n} pairs, seeds {seeds}, --seconds {seconds:g}")
    cols = "{:<12} {:>34} {:>34} {:>11} {:>6}  {:<4} {:<5} {}"
    print(cols.format("metric", "parent median [Q1, Q3]", "change median [Q1, Q3]",
                      "parent IQR", "wins", "gain", "worse", "unresolved"))
    yn = lambda flag: "yes" if flag else "no"
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        a = [r["metrics"][name]["value"] for r in runs["parent"]]
        b = [r["metrics"][name]["value"] for r in runs["change"]]
        wins, gain, worse, unresolved = readings(a, b, lower, m["bound"])
        (aq1, aq3), (bq1, bq3) = quartiles(a), quartiles(b)
        ma, mb = statistics.median(a), statistics.median(b)
        print(cols.format(name, f"{ma:.4g} [{aq1:.4g}, {aq3:.4g}]",
                          f"{mb:.4g} [{bq1:.4g}, {bq3:.4g}]", f"{aq3 - aq1:.4g}",
                          f"{wins}/{n}", yn(gain), yn(worse), yn(unresolved)))
    for side in ("parent", "change"):
        bad = [r["seed"] for r in runs[side] if not r["correct"] or r["failed"]]
        print(f"{side}: failed or incorrect seeds: {bad or 'none'}")


if __name__ == "__main__":
    main()
