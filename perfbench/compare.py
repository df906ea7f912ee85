#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

Usage:

    python3 perfbench/compare.py <before-dir> <after-dir>

Each directory holds result records as run.py writes them to
`.bench_work/results/` (copy them aside between commits). For every
workload and end-to-end metric it prints each side's median, quartiles
and run count, and the after/before ratio of the medians. It refuses to
compare records taken at different core counts or on different data.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("provenance", {}).get("trace") == 0:
            recs.append(r)
    if not recs:
        raise SystemExit(f"no untraced result records in {d}")
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(before_dir, after_dir):
    before, after = load(before_dir), load(after_dir)
    for key in ("nproc", "data_dir"):
        seen = {r["provenance"][key] for r in before + after}
        if len(seen) > 1:
            raise SystemExit(f"refusing to compare: results differ in {key} ({sorted(map(str, seen))})")
    workloads = sorted({r["provenance"]["workload"] for r in before + after})
    print(f"nproc={before[0]['provenance']['nproc']} data={before[0]['provenance']['data_dir']}")
    for w in workloads:
        b = [r for r in before if r["provenance"]["workload"] == w]
        a = [r for r in after if r["provenance"]["workload"] == w]
        if not a or not b:
            print(f"{w}: only one side has results")
            continue
        for m in b[0]["end_to_end"]:
            bv = [r["end_to_end"][m] for r in b]
            av = [r["end_to_end"][m] for r in a]
            bm, am = statistics.median(bv), statistics.median(av)
            (b1, b3), (a1, a3) = quartiles(bv), quartiles(av)
            print(f"{w:16s} {m:12s} before {bm:10.4f} [{b1:.4f}, {b3:.4f}] n={len(bv):2d}"
                  f"  after {am:10.4f} [{a1:.4f}, {a3:.4f}] n={len(av):2d}  ratio {am / bm:.4f}")
        for side, rs in (("before", b), ("after", a)):
            failed = sum(len(r["failures"]) for r in rs)
            if failed:
                print(f"{w:16s} {side}: {failed} failed operations")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
