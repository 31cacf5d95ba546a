#!/usr/bin/env python3
"""Interleaved A/B of the benchmark on two checkouts: the parent commit and
a change.

    git worktree add /tmp/graft-parent HEAD~1
    python3 tools/perfbench_ab.py --parent /tmp/graft-parent --change . \\
        --workload incremental_commits --pairs 10 --seconds 25 --seed 1000

Each checkout builds and runs its own `perfbench/run.py` (untraced). One
discarded run per side first lets the build and the JVM class-data archive
finish outside the measured runs. Pair i then runs both sides on seed
`--seed + i`, the parent first in even pairs and the change first in odd
ones, with the same `--seconds`. For every end-to-end metric in
BENCHMARK.json the report gives each side's runs, median and quartiles,
the pairs each side won (ties count for neither), the median change
against the metric's regression bound, and the gain rule: the change wins
at least nine tenths of all pairs, and the medians differ by more than the
parent's interquartile range. `--out` keeps every run's record as JSON;
`--report` re-prints the verdict from such a file without running.
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

GAIN_SHARE = 0.9


def load_metrics(benchmark_json):
    with open(benchmark_json) as fh:
        return json.load(fh)["end_to_end"]


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Compare paired runs of one metric. `parent[i]` and `change[i]` come
    from pair i; `better` is "higher" or "lower"; `bound` is the relative
    worsening the benchmark tolerates."""
    assert len(parent) == len(change) and parent, "need equal, non-empty pairs"
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    iqr = p3 - p1
    gain = (wins >= math.ceil(GAIN_SHARE * len(parent))
            and sign * (cm - pm) > iqr)
    rel = (cm - pm) / pm if pm else 0.0
    return {
        "pairs": len(parent), "change_wins": wins, "parent_wins": losses,
        "parent": {"q1": p1, "median": pm, "q3": p3},
        "change": {"q1": c1, "median": cm, "q3": c3},
        "parent_iqr": iqr, "median_delta": cm - pm, "median_rel": rel,
        "gain": gain, "within_bound": -sign * rel <= bound,
    }


def run_side(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        record = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        record = {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                  "error": (proc.stderr or proc.stdout)[-2000:]}
    record["seed"] = seed
    record["exit"] = proc.returncode
    return record


def run_pairs(args):
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for name, path in sides.items():
        print(f"warm-up run ({name}) in {path}", file=sys.stderr)
        run_side(path, args.workload, args.seed - 1, args.seconds)
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for name in order:
            rec = run_side(sides[name], args.workload, args.seed + i, args.seconds)
            runs[name].append(rec)
            print(f"pair {i + 1}/{args.pairs} seed {args.seed + i} {name}: " +
                  ", ".join(f"{k} {v['value']:.4g}" for k, v in rec["metrics"].items()) +
                  f", failed {rec['failed']}/{rec['attempted']}", file=sys.stderr)
    return {"workload": args.workload, "seconds": args.seconds, "runs": runs}


def report(result, metrics):
    runs = result["runs"]
    print(f"workload {result['workload']}, {len(runs['parent'])} pairs, "
          f"--seconds {result['seconds']}, seeds "
          f"{[r['seed'] for r in runs['parent']]}")
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        print(f"  {side}: ops failed {failed} of {attempted}")
    more_failures = (sum(r["failed"] for r in runs["change"])
                     > sum(r["failed"] for r in runs["parent"]))
    verdicts = {}
    for m in metrics:
        name = m["name"]
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            print(f"{name}: no paired runs")
            continue
        parent, change = [p for p, _ in pairs], [c for _, c in pairs]
        v = verdict(parent, change, m["better"], m["bound"])
        verdicts[name] = v
        print(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        for side, xs in (("parent", parent), ("change", change)):
            q = v[side]
            print(f"  {side:6s} runs {', '.join(f'{x:.4g}' for x in xs)}")
            print(f"  {side:6s} median {q['median']:.4g}, quartiles {q['q1']:.4g} .. {q['q3']:.4g}")
        print(f"  pairs won: change {v['change_wins']}, parent {v['parent_wins']}, "
              f"of {v['pairs']}")
        print(f"  median {v['median_rel']:+.1%} ({v['median_delta']:+.4g}); parent IQR "
              f"{v['parent_iqr']:.4g}; {'within' if v['within_bound'] else 'OUTSIDE'} the "
              f"{m['bound']:.0%} bound")
        print(f"  gain (>= {GAIN_SHARE:.0%} of pairs won, |median delta| > parent IQR, "
              f"no more failed ops): {'yes' if v['gain'] and not more_failures else 'no'}")
    return verdicts


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--out", help="write every run's record here (JSON)")
    ap.add_argument("--report", help="print the verdict of a saved --out file")
    args = ap.parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    metrics = load_metrics(os.path.join(root, "BENCHMARK.json"))
    if args.report:
        with open(args.report) as fh:
            result = json.load(fh)
    else:
        if not (args.parent and args.change and args.workload):
            ap.error("--parent, --change and --workload are required to run pairs")
        result = run_pairs(args)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(result, fh, indent=1)
    report(result, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
