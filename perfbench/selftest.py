#!/usr/bin/env python3
"""Self-test of the benchmark's attribution.

    python3 perfbench/selftest.py [--seed N]

Injects a fixed delay into the benchmark's own wrapper at one layer
boundary (every `sources.sink` span: the text sink of the mapreduce jobs)
and runs each workload with and without it. The delay must show up in
that layer's self time and in the time of mapreduce's first measured pass,
and must leave the first measured pass of dedup and lake unchanged (within
half the injected time). The first measured pass is compared because it
sits at the same point of the JIT warm-up in both runs, while `job_s` (the
median pass) depends on how many passes fit. Exits 1 when any of that
fails. Takes a few minutes.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LAYER = "sources.sink"
DELAY_MS = 2000
SINKS_PER_PASS = 2  # the wc and ii jobs


def run(workload, seed, trace, inject):
    env = dict(os.environ, PERFBENCH_INJECT=f"{LAYER}:{DELAY_MS}" if inject else "")
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "8", "--trace", str(trace)],
                       env=env, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"selftest: {workload} run failed")
    with open(os.path.join(".bench_build", "results", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def first_pass(record):
    return record["passes"][0]["job_s"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    delay = DELAY_MS / 1000 * SINKS_PER_PASS
    ok = True

    def expect(cond, msg):
        nonlocal ok
        print(("ok   " if cond else "FAIL ") + msg)
        ok = ok and cond

    base, hit = run("mapreduce", seed, 1, False), run("mapreduce", seed, 1, True)
    d_self = hit["per_layer"][f"{LAYER}_s"] - base["per_layer"][f"{LAYER}_s"]
    d_job = first_pass(hit) - first_pass(base)
    expect(abs(d_self - delay) < delay / 4, f"mapreduce {LAYER}_s moved {d_self:+.3f} s, injected {delay:.3f} s")
    expect(abs(d_job - delay) < delay / 4, f"mapreduce first pass moved {d_job:+.3f} s, injected {delay:.3f} s")
    for w in ("dedup", "lake"):
        b, h = run(w, seed, 0, False), run(w, seed, 0, True)
        d = first_pass(h) - first_pass(b)
        expect(abs(d) < delay / 2, f"{w} first pass moved {d:+.3f} s with no {LAYER} span (limit ±{delay / 2:.3f} s)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
