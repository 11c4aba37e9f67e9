#!/usr/bin/env python3
"""Compare two sets of benchmark records (written by run.py under
`.bench_build/results/`), workload by workload and metric by metric.

    python3 perfbench/compare.py <before.json ...> -- <after.json ...>

Each side's median and quartiles are printed per end-to-end metric, with
the change of the median relative to the first side. Records made on
machines with different core counts are refused: their timings do not
compare.
"""

import json
import statistics
import sys


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    before, after = load(argv[:cut]), load(argv[cut + 1:])
    if not before or not after:
        sys.exit(__doc__)
    cores = {(r["env"]["cores"], r["env"]["nproc"]) for r in before + after}
    if len(cores) != 1:
        sys.exit(f"refusing to compare: records come from machines with different core counts {sorted(cores)}")
    for w in sorted({r["workload"] for r in before} & {r["workload"] for r in after}):
        b = [r for r in before if r["workload"] == w]
        a = [r for r in after if r["workload"] == w]
        for m in b[0]["end_to_end"]:
            qb = quartiles([r["end_to_end"][m] for r in b])
            qa = quartiles([r["end_to_end"][m] for r in a])
            change = (qa[1] - qb[1]) / qb[1] if qb[1] else float("nan")
            print(f"{w:10s} {m:10s} before {qb[1]:.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(b)}  "
                  f"after {qa[1]:.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(a)}  change {change:+.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
