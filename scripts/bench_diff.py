#!/usr/bin/env python3
"""Diff two BENCH_FULL.json files, classifying every timing delta.

Usage: python3 scripts/bench_diff.py OLD.json NEW.json [threshold_sec]
       python3 scripts/bench_diff.py <(git show r4:BENCH_FULL.json) BENCH_FULL.json

For each query present in both files, the delta is labeled:
  PLAN   — the physical-plan fingerprint changed: a real plan diff to
           explain (broadcast lost, exchange added, pushdown dropped ...)
  NOISE  — fingerprint identical: the plan Spark chose is byte-identical,
           so the timing delta is machine load / JIT / GC, not a change
           in the engine.
When both files carry Bench's per-query `jobs` map, a changed Spark job
count is structural signal too: the row shows `jobs OLD->NEW` and is
listed even when its timing delta is under the threshold. Files without
the map (older benches, BENCH_rNN.json wrappers) diff as before.
Queries only in one file are listed as ADDED/REMOVED.
"""
import json
import os
import subprocess
import sys


def resolve_fp_from_git(path):
    """A driver wrapper (BENCH_r0N.json) carries no plan_fp — its stdout
    tail line is size-capped below what 185 fingerprints need. But the
    driver commits the wrapper TOGETHER with the BENCH_FULL.json that the
    same Bench run wrote as a side effect, so the same-commit
    BENCH_FULL.json's plan_fp map is exactly this run's fingerprints.
    Returns (plan_fp dict, describing commit) or (None, reason)."""
    d = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(path)
    try:
        sha = subprocess.run(
            ["git", "-C", d, "rev-list", "-1", "HEAD", "--", base],
            capture_output=True, text=True, timeout=30).stdout.strip()
        if not sha:
            return None, "file not in git history"
        full = subprocess.run(
            ["git", "-C", d, "show", f"{sha}:BENCH_FULL.json"],
            capture_output=True, text=True, timeout=30)
        if full.returncode != 0:
            return None, f"no BENCH_FULL.json at commit {sha[:10]}"
        fp = json.loads(full.stdout).get("plan_fp")
        if not isinstance(fp, dict):
            return None, f"BENCH_FULL.json at {sha[:10]} has no plan_fp"
        return fp, sha[:10]
    except Exception as e:  # git absent, timeout, bad JSON ...
        return None, str(e)


def load(path):
    """Load a bench artifact: either Bench's own JSON line (BENCH_FULL.json)
    or the driver wrapper (BENCH_r0N.json), which nests it under 'parsed'.
    Wrappers without plan_fp get it joined in from the same-commit
    BENCH_FULL.json (see resolve_fp_from_git)."""
    try:
        d = json.load(open(path))
    except (json.JSONDecodeError, UnicodeDecodeError) as e:
        sys.exit(f"{path}: not JSON ({e})")
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    if not isinstance(d.get("queries"), dict):
        sys.exit(f"{path}: no 'queries' map found — not a bench artifact "
                 f"(keys: {sorted(d)[:8]})")
    if "plan_fp" not in d:
        fp, how = resolve_fp_from_git(path)
        if fp is not None:
            d["plan_fp"] = fp
            print(f"NOTE: {path} carries no plan_fp — joined "
                  f"{len(fp)} fingerprints from BENCH_FULL.json at "
                  f"commit {how}")
        else:
            print(f"NOTE: {path} carries no plan_fp and git resolution "
                  f"failed ({how}) — its deltas will label as '??'")
    return d


def main(old_path, new_path, threshold=0.25):
    old = load(old_path)
    new = load(new_path)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    ofp, nfp = old.get("plan_fp", {}), new.get("plan_fp", {})

    # Rebaseline detection: if the HASH differs on nearly every common
    # query while the structural suffix (x/s/pf/rc) is identical, the
    # fingerprint algorithm changed between the two files (round 6 did
    # this once), not the plans — classify those rows by structure.
    def struct(fp):
        return fp.split(":", 1)[1] if ":" in fp else fp
    common_fp = [k for k in set(oq) & set(nq) if k in ofp and k in nfp]
    hash_only = [k for k in common_fp
                 if ofp[k] != nfp[k] and struct(ofp[k]) == struct(nfp[k])]
    rebaseline = len(common_fp) > 10 and len(hash_only) > 0.9 * len(common_fp)
    if rebaseline:
        print(f"NOTE: {len(hash_only)}/{len(common_fp)} queries changed hash "
              "with identical x/s/pf/rc structure — fingerprint-algorithm "
              "rebaseline detected; classifying by structural fields only\n")

    # per-query noise bar: Bench (round 11+) records min AND median over
    # its n runs; a large median-min spread marks a query whose timing
    # is dominated by contention/JIT, so its delta carries a '~' marker
    omed, nmed = old.get("queries_median", {}), new.get("queries_median", {})
    ojobs, njobs = old.get("jobs", {}), new.get("jobs", {})

    rows = []
    for k in sorted(set(oq) & set(nq)):
        d = nq[k] - oq[k]
        jobs_changed = k in ojobs and k in njobs and ojobs[k] != njobs[k]
        if abs(d) < threshold and not jobs_changed:
            continue
        fp_known = k in ofp and k in nfp
        fp_changed = fp_known and (
            struct(ofp[k]) != struct(nfp[k]) if rebaseline else ofp[k] != nfp[k])
        label = "PLAN " if fp_changed else ("NOISE" if fp_known else "??   ")
        spread = max(omed.get(k, oq[k]) - oq[k], nmed.get(k, nq[k]) - nq[k])
        noisy = "~" if spread > max(threshold, 0.3 * abs(d)) else " "
        jobs = f"jobs {ojobs[k]}->{njobs[k]}" if jobs_changed else ""
        rows.append((abs(d), label, noisy, k, oq[k], nq[k], d, jobs,
                     f"{ofp.get(k,'-')} -> {nfp.get(k,'-')}" if fp_changed else ""))
    rows.sort(reverse=True)
    for _, label, noisy, k, o, n, d, jobs, fp in rows:
        print(f"{label}{noisy} {k:36s} {o:7.2f} -> {n:7.2f}  ({d:+.2f} s)  "
              f"{jobs:14s} {fp}".rstrip())

    for k in sorted(set(nq) - set(oq)):
        print(f"ADDED {k:36s}            {nq[k]:7.2f}")
    for k in sorted(set(oq) - set(nq)):
        print(f"REMOVED {k:34s} {oq[k]:7.2f}")

    ot, nt = old.get("value"), new.get("value")
    totals = (f"total: {ot:.1f} -> {nt:.1f} s"
              if isinstance(ot, (int, float)) and isinstance(nt, (int, float))
              else "total: n/a (missing 'value' in one file)")
    common_jobs = [k for k in set(oq) & set(nq) if k in ojobs and k in njobs]
    if common_jobs:
        n_changed = sum(ojobs[k] != njobs[k] for k in common_jobs)
        print(f"\njobs: {n_changed}/{len(common_jobs)} queries changed Spark "
              f"job count")
    print(f"\n{totals} "
          f"(loadavg {old.get('loadavg','?')} -> {new.get('loadavg','?')}); "
          f"deltas >= {threshold}s shown; PLAN = fingerprint changed, "
          f"NOISE = identical plan (machine variance); a '~' marks a "
          f"query whose own min-vs-median run spread exceeds the delta "
          f"scale (contention-dominated timing)")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         float(sys.argv[3]) if len(sys.argv) > 3 else 0.25)
