#!/usr/bin/env python3
"""A/B two checkouts on one perfbench workload in alternating pairs.

Usage:
  python3 scripts/perf_ab.py PARENT_DIR CHANGE_DIR --workload index_lifecycle \\
      --seeds 1 5 [--pairs 10] [--seconds 10] [--claim METRIC]

Each directory is a full checkout (make them with `git archive`, not
`git worktree`). Each side first runs once untimed, which builds it;
then, per seed, PAIRS pairs run with the side that goes first
alternating. Every run prints one line as it finishes. The summary
gives, per seed and end-to-end metric (from PARENT_DIR/BENCHMARK.json),
each side's median and quartiles, the pairs the change won (ties count
for neither side) and a verdict:
  - the metric named by --claim, if any (none by default), is a GAIN
    when the change wins at least 9/10 of the pairs and the medians
    differ by more than the parent's interquartile range;
  - any other metric, or a claimed one without a gain, is a REGRESSION
    when the change's median is worse than the parent's by more than
    the metric's relative bound, UNRESOLVED when the parent's
    interquartile range is wider than that bound (unless every change
    run beats every parent run), else WITHIN.
Failed runs are counted per side and leave their pair out. Run nothing
else on the machine meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(side, path, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=path, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    metrics = result and {k: v["value"] for k, v in result["metrics"].items()}
    print(f"seed={seed} side={side} "
          + (json.dumps(metrics) if result else f"FAILED rc={proc.returncode}"),
          flush=True)
    return result and dict(result, metrics=metrics)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(seed, pairs, failed, metrics, claim):
    print(f"\n== seed {seed}: {len(pairs)} complete pairs, failed runs "
          f"parent={failed['parent']} change={failed['change']}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for p in pairs]
        chg = [p["change"][name] for p in pairs]
        if not par:
            continue
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
        wins = sum(better(c, p) for c, p in zip(chg, par))
        losses = sum(better(p, c) for c, p in zip(chg, par))
        iqr = pq3 - pq1
        # relative to the parent's median; a zero median (a count that
        # reads 0) makes any worse change a regression and any spread
        # unresolved
        def rel(x):
            return x / pmed if pmed else (float("inf") if x > 0 else 0.0)
        worse_by = rel((cmed - pmed) if lower else (pmed - cmed))
        if worse_by > m["bound"]:
            verdict = "REGRESSION"
        elif rel(iqr) > m["bound"] and not all(better(c, p) for c in chg for p in par):
            verdict = "UNRESOLVED"
        else:
            verdict = "WITHIN"
        if name == claim:
            gain = wins >= 0.9 * len(pairs) and better(cmed, pmed) and abs(cmed - pmed) > iqr
            verdict = "GAIN" if gain else f"no gain, {verdict}"
        print(f"{name:12s} parent {pmed:10.3f} [{pq1:.3f}, {pq3:.3f}]  "
              f"change {cmed:10.3f} [{cq1:.3f}, {cq3:.3f}]  "
              f"delta {100 * rel(cmed - pmed):+6.1f} %  parent IQR {iqr:.3f}  "
              f"wins {wins}/{len(pairs)} (losses {losses}, bound {m['bound']})  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--claim", default=None,
                    help="the metric the change claims to improve (default: none)")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    for side, path in sides.items():
        print(f"building {side} (untimed run, discarded)", flush=True)
        if run_once(side, path, args.workload, args.seeds[0], args.seconds) is None:
            sys.exit(f"{side}: the untimed first run failed")
    results = {}
    for seed in args.seeds:
        pairs, failed = [], {"parent": 0, "change": 0}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for side in order:
                r = run_once(side, sides[side], args.workload, seed, args.seconds)
                if r is None or r.get("failed", 0):
                    failed[side] += 1
                else:
                    pair[side] = r["metrics"]
            if len(pair) == 2:
                pairs.append(pair)
        results[seed] = (pairs, failed)
    for seed, (pairs, failed) in results.items():
        report(seed, pairs, failed, metrics, args.claim)


if __name__ == "__main__":
    main()
