#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

    python3 perfbench/run.py --workload <mapreduce|dedup|lake> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the harness with sbt into `.bench_build/` (later runs reuse the build while
the sources are unchanged). Each run generates the workload's inputs from
the seed, runs the workload as a single-caller closed loop on one
`GraftSession.build` session sized to the machine's cores, checks every
output, and prints the metrics. The last line of standard output is one JSON
object: with `--trace 0` the end-to-end metrics, with `--trace 1` the
per-layer metrics of a traced run. The lines before it print every metric
by name and unit. A full record of the run, with the machine it ran on, is
written under `.bench_build/results/`; `compare.py` compares two records.

See perfbench/README.md for the workloads, the metrics and what each layer
metric should move.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output

import gen  # noqa: E402

WORKLOADS = ("mapreduce", "dedup", "lake")
JVM_HEAP = "3g"
RUN_LIMIT_S = 170          # the whole run, build excluded
BUILD_LIMIT_S = 850

END_TO_END = {"job_s": "s", "setup_s": "s"}

# Untraced per-workload metrics: printed by every run, and part of the
# traced run's per-layer record (0 where the workload has no such step).
WORKLOAD_METRICS = {
    "job_cpu_s": "s", "wc_s": "s", "ii_s": "s", "wc_tokens_per_s": "tokens/s",
    "neardup_s": "s", "suffix_s": "s", "ann_s": "s",
    "neardup_recall": "ratio", "ann_recall": "ratio",
    "commit_ms.p50": "ms", "commit_ms.tail": "ms", "commit_ms.n": "count",
    "read_ms.p50": "ms", "read_ms.tail": "ms", "read_ms.n": "count",
    "stream_batch_ms.p50": "ms", "write_amp": "ratio", "error_rate": "ratio",
}

# Self time of each layer, seconds per pass. With other_s they add up to
# trace.job_s.
SELF_LAYERS = [
    "sources.scan", "text.tokenize", "core.mapreduce", "sources.sink",
    "functions.shingle", "dedup.candidates", "dedup.verify", "dedup.cluster",
    "suffix.ranks", "suffix.spans", "ann.train", "ann.search", "lake.append",
    "lake.merge_cow", "lake.merge_mor", "lake.compact", "lake.read_mor", "lake.read_compacted", "stream.pass",
]

LAYER_METRICS = dict(
    [(f"{n}_s", "s") for n in SELF_LAYERS] + [
        ("other_s", "s"), ("trace.job_s", "s"), ("trace.overhead_s", "s"),
        ("trace.probe_s", "s"), ("core.reduce_id_s", "s"), ("apps.postings_s", "s"),
        ("ann.exact_s", "s"),
        ("sources.input_mb", "MB"), ("sources.sink_mb", "MB"), ("text.tokens", "count"),
        ("core.pinned_mb", "MB"), ("core.pins", "count"),
        ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
        ("exec.spill_mb", "MB"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.task_s.sum", "s"), ("exec.task_skew", "ratio"),
        ("exec.gc_s", "s"), ("dedup.candidates", "count"), ("dedup.pairs", "count"),
        ("dedup.verify_ratio", "ratio"), ("suffix.jobs", "count"),
        ("lake.snapshot_ms", "ms"), ("lake.log_versions", "count"),
        ("lake.append_ms", "ms"), ("lake.merge_cow_ms", "ms"), ("lake.merge_mor_ms", "ms"),
        ("lake.compact_ms", "ms"), ("lake.read_mor_ms", "ms"), ("lake.read_compacted_ms", "ms"),
        ("lake.live_files", "count"), ("lake.dv_files", "count"),
        ("lake.bytes_written_mb", "MB"), ("lake.bytes_live_mb", "MB"),
        ("stream.batches", "count"), ("stream.add_batch_ms", "ms"),
        ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
        ("stream.latest_offset_ms", "ms"),
    ]) | WORKLOAD_METRICS

COMMIT_OPS = ("append", "merge_cow", "merge_mor")
READ_OPS = ("read_agg", "read_sel")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    md = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for f in sorted(files):
        md.update(f.encode())
        with open(os.path.join(root, f), "rb") as h:
            md.update(h.read())
    return md.hexdigest()


def sbt_env(bb):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.boot.lock=false", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={bb}/sbt-global", f"-Dsbt.ivy.home={bb}/ivy",
            f"-Djava.io.tmpdir={bb}/tmp", f"-Djna.tmpdir={bb}/tmp",
            "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # resolver overrides for an offline sbt
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, bb):
    launch = os.path.join(bb, "launch.txt")
    stamp_file = os.path.join(bb, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return launch
    os.makedirs(os.path.join(bb, "tmp"), exist_ok=True)
    log = os.path.join(bb, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                         cwd=os.path.join(root, "perfbench"), env=sbt_env(bb),
                         stdout=out, limit=BUILD_LIMIT_S)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}), see {log}", 1)
    shutil.copy(os.path.join(root, "perfbench", "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def run_bounded(cmd, cwd, env, stdout, limit):
    """Run cmd in its own process group; kill the group after `limit` s, or
    when this process is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(limit, 1))
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would sit under
    the median, so the maximum is reported instead."""
    xs = sorted(xs)
    if not xs:
        return 0.0, 0.0
    if len(xs) < 21:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


# ---------------------------------------------------------------- metrics

def workload_metrics(res, props, attempted, failed):
    measured = {p["pass"] for p in res["passes"] if not p["traced"]}
    ops = [o for o in res["ops"] if o["pass"] in measured]

    def op_s(name):
        return median([o["s"] for o in ops if o["op"] == name])

    def vals(name):
        return [v["v"] for v in res["values"] if v["pass"] in measured and v["name"] == name]

    commits = [o["s"] * 1000 for o in ops if o["op"] in COMMIT_OPS]
    reads = [o["s"] * 1000 for o in ops if o["op"] in READ_OPS]
    m = {k: 0.0 for k in WORKLOAD_METRICS}
    untraced = [p for p in res["passes"] if not p["traced"]]
    m.update({"job_cpu_s": median([p["cpu_s"] for p in untraced]),
              "wc_s": op_s("wc"), "ii_s": op_s("ii"), "neardup_s": op_s("neardup"),
              "suffix_s": op_s("suffix"), "ann_s": op_s("ann"),
              "neardup_recall": median(vals("neardup_recall")),
              "ann_recall": median(vals("ann_recall")),
              "commit_ms.p50": median(commits), "commit_ms.tail": tail(commits)[0],
              "commit_ms.n": len(commits),
              "read_ms.p50": median(reads), "read_ms.tail": tail(reads)[0], "read_ms.n": len(reads),
              "stream_batch_ms.p50": median(vals("stream_batch_ms")),
              "write_amp": median(vals("write_amp")),
              "error_rate": failed / attempted})
    if m["wc_s"]:
        m["wc_tokens_per_s"] = int(props["tokens"]) / m["wc_s"]
    notes = {"commit_ms.tail": f"p{tail(commits)[1]:.0f} of {len(commits)} commits",
             "read_ms.tail": f"p{tail(reads)[1]:.0f} of {len(reads)} reads",
             "wc_tokens_per_s": "reference compute-only rate: ~5.7k tokens/s (BASELINE.md)"}
    return m, notes


def layer_metrics(res, spans, props, workload):
    """Per-layer metrics of the traced passes (means over passes)."""
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}

    def self_s(s):
        return dur[s["id"]] - dur.get(s["base"], 0.0)

    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    untraced_job = mean([p["job_s"] for p in res["passes"] if not p["traced"]])
    per_pass = []
    for p in traced:
        ss = [s for s in spans if s["pass"] == p]
        pass_span = next(s for s in ss if s["kind"] == "pass")
        work = [s for s in ss if s["kind"] == "op"]
        extra = [s for s in ss if s["kind"] in ("probe", "side", "check") and s["parent"] == pass_span["id"]]
        m = {f"{n}_s": 0.0 for n in SELF_LAYERS}
        for s in ss:
            if s["kind"] in ("op", "probe"):
                m[f"{s['name']}_s"] += self_s(s)
        job = dur[pass_span["id"]] - sum(dur[s["id"]] for s in extra)
        m["trace.job_s"] = job
        m["other_s"] = job - sum(m[f"{n}_s"] for n in SELF_LAYERS)
        m["trace.probe_s"] = sum(dur[s["id"]] for s in extra if s["kind"] != "check")
        m["core.reduce_id_s"] = sum(self_s(s) for s in ss if s["name"] == "core.mapreduce" and s["op"] == "ii")
        for side in ("apps.postings", "ann.exact"):
            m[f"{side}_s"] = sum(dur[s["id"]] for s in ss if s["name"] == side)

        def c(key, sel=work):
            return sum(s["counters"].get(key, 0.0) for s in sel)

        m["sources.input_mb"] = c("input_b") / 1e6
        m["sources.sink_mb"] = c("output_b", [s for s in work if s["name"] == "sources.sink"]) / 1e6
        m["core.pinned_mb"] = c("pinned_b") / 1e6
        m["core.pins"] = c("pins")
        m["exec.shuffle_write_mb"] = c("shuffle_write_b") / 1e6
        m["exec.shuffle_read_mb"] = c("shuffle_read_b") / 1e6
        m["exec.spill_mb"] = c("spill_b") / 1e6
        m["exec.jobs"] = c("jobs")
        m["exec.stages"] = c("stages")
        m["exec.tasks"] = c("tasks")
        m["exec.task_s.sum"] = c("task_s")
        m["exec.task_skew"] = c("skew_num") / c("skew_den") if c("skew_den") else 0.0
        m["exec.gc_s"] = c("gc_s")
        m["suffix.jobs"] = c("jobs", [s for s in work if s["name"] == "suffix.spans"])
        stream = [s for s in work if s["name"] == "stream.pass"]
        batches = c("stream.batches", stream)
        m["stream.batches"] = batches
        for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                          ("walCommit", "wal_commit"), ("latestOffset", "latest_offset")):
            m[f"stream.{name}_ms"] = c(f"stream.{key}", stream) / batches if batches else 0.0
        for layer in ("lake.append", "lake.merge_cow", "lake.merge_mor", "lake.compact",
                      "lake.read_mor", "lake.read_compacted", "lake.snapshot"):
            m[f"{layer}_ms"] = 1000 * median([dur[s["id"]] for s in ss if s["name"] == layer])
        per_pass.append(m)

    out = {k: mean([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
    out["trace.overhead_s"] = out.get("trace.job_s", 0.0) - untraced_job

    def traced_vals(name):
        return [v["v"] for v in res["values"] if v["pass"] in traced and v["name"] == name]

    for name in ("dedup.candidates", "dedup.pairs", "lake.log_versions", "lake.live_files",
                 "lake.dv_files", "lake.bytes_written_mb", "lake.bytes_live_mb"):
        out[name] = mean(traced_vals(name))
    out["dedup.verify_ratio"] = out["dedup.pairs"] / out["dedup.candidates"] if out["dedup.candidates"] else 0.0
    out["text.tokens"] = 2 * int(props["tokens"]) if workload == "mapreduce" else 0
    return out


# ---------------------------------------------------------------- checks made here

def check_ii_sink(path, extra):
    """The last inverted-index sink, line by line, against the generator's postings."""
    want = extra["postings"]
    lines = []
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f), encoding="utf-8") as h:
                lines += h.read().splitlines()
    words = []
    for line in lines:
        word, sep, rest = line.partition(" - [")
        if not sep or not rest.endswith("]") or json.loads(rest[:-1]) != want.get(word):
            return False, f"line {line[:80]!r} does not match the expected postings"
        words.append(word)
    if words != sorted(want):
        return False, f"{len(words)} words in sink, {len(want)} expected, or out of order"
    return True, ""


# ---------------------------------------------------------------- main

def environment(root, res):
    sha = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        sha = r.stdout.strip() or sha
    return dict(res["env"], nproc=os.cpu_count(), git_sha=sha,
                source_stamp=source_stamp(root), session_conf=res["conf"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a stop request unwinds through run_bounded, which kills the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft source checkout (build.sbt and src/main/scala/graft)")
    bb = os.path.join(root, ".bench_build")
    launch = build(root, bb)
    with open(launch) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]

    started = time.monotonic()
    work = os.path.join(bb, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp, jw, tmp = (os.path.join(work, d) for d in ("input", "work", "tmp"))
    for d in (jw, tmp):
        os.makedirs(d)
    try:
        props, extra = gen.generate(a.workload, a.seed, inp)
        result, spans_path = os.path.join(work, "result.json"), os.path.join(work, "spans.jsonl")
        inject = os.environ.get("PERFBENCH_INJECT", "")
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
                "-Dspark.ui.enabled=false", "-Dspark.driver.host=127.0.0.1",
                "-Dspark.driver.bindAddress=127.0.0.1",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                f"-Dperfbench.inject={inject}"]
               + jvm_opts + ["-cp", classpath, "perfbench.Main",
                             "--workload", a.workload, "--input", inp, "--work", jw,
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--out", result, "--spans", spans_path])
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            rc = run_bounded(cmd, cwd=root, env=dict(os.environ), stdout=out,
                             limit=RUN_LIMIT_S - (time.monotonic() - started))
        if rc != 0 or not os.path.exists(result):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness exited with {rc}", 1)
        with open(result) as f:
            res = json.load(f)
        with open(spans_path) as f:
            spans = [json.loads(x) for x in f if x.strip()]

        # run-level checks (pass -100) count as attempted operations
        checks = [c for c in res["checks"] if not c["ok"]]
        attempted = len(res["ops"]) + sum(1 for c in res["checks"] if c["pass"] == -100)
        failed = sum(1 for o in res["ops"] if not o["ok"]) + sum(1 for c in checks if c["pass"] == -100)
        if a.workload == "mapreduce":
            ok, detail = check_ii_sink(os.path.join(jw, "sink_ii"), extra)
            attempted += 1
            if not ok:
                failed += 1
                checks.append({"pass": None, "name": "ii.postings", "ok": False, "detail": detail})
        for c in checks[:10]:
            print(f"check failed: {c['name']} (pass {c['pass']}): {c['detail']}", file=sys.stderr)
        for o in [o for o in res["ops"] if not o["ok"]][:10]:
            print(f"op failed: {o['op']} (pass {o['pass']}): {o['error']}", file=sys.stderr)

        untraced = [p["job_s"] for p in res["passes"] if not p["traced"]]
        e2e = {"job_s": median(untraced), "setup_s": median(res["build_s"]) + res["warmup_s"]}
        wm, notes = workload_metrics(res, props, attempted, failed)
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "env": environment(root, res), "end_to_end": e2e, "workload_metrics": wm,
                  "passes": res["passes"], "ops": res["ops"], "build_s": res["build_s"], "warmup_s": res["warmup_s"],
                  "attempted": attempted, "failed": failed}
        print(f"# {a.workload} seed={a.seed}: {len(untraced)} untraced passes, "
              f"{len(res['build_s'])} session builds, cores={res['env']['cores']}")
        for k, v in e2e.items():
            print(f"{a.workload:10s} {k:22s} {v:14.4f} {END_TO_END[k]}")
        for k, v in wm.items():
            note = f"  ({notes[k]})" if k in notes and v else ""
            print(f"{a.workload:10s} {k:22s} {v:14.4f} {WORKLOAD_METRICS[k]}{note}")
        if a.trace:
            lm = layer_metrics(res, spans, props, a.workload) | wm
            record["per_layer"] = lm
            for k in LAYER_METRICS:
                if k not in WORKLOAD_METRICS:
                    print(f"{a.workload:10s} {k:22s} {lm[k]:14.4f} {LAYER_METRICS[k]}")
            metrics = {k: {"value": lm[k], "unit": u} for k, u in LAYER_METRICS.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

        results = os.path.join(bb, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        if a.trace:
            run_id = f"{a.workload}-seed{a.seed}-{os.getpid()}"
            with open(stem + ".spans.jsonl", "w") as f:
                for sp in spans:
                    f.write(json.dumps(dict(sp, run=run_id)) + "\n")

        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
