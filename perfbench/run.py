#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload marts|daily --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (the classpath is cached in `.bench_build/`
and rebuilt when a source or build file changes). Each run generates its
inputs from the seed, starts one JVM at local[nproc], times a fixed amount of
work (longer than the `--seconds` it is given, so every run attempts the same
operations), checks every output and prints one JSON line: `correct`,
`attempted`, `failed` and the metrics (end-to-end with `--trace 0`,
per-layer with `--trace 1`).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared_metrics(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds graft and the benchmark if their sources changed; returns the
    runtime classpath."""
    stamp = build_inputs()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        die(f"build failed, see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, run_dir, t0):
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--trace", str(args.trace), "--run-dir", run_dir, "--t0", repr(t0)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"benchmark JVM failed ({rc})", 4)
    with open(log) as f:  # the JVM's progress lines: one per timed operation
        sys.stderr.writelines(ln for ln in f if ln.startswith("perfbench: "))
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# Per-layer values taken from the work of one kind of operation. A traced run
# reports none of them when an operation of that kind failed, so a failed
# operation never gives a time. (`api.*` medians are taken over passing pages
# only, and `ops.row.*` times are dropped per row.)
LAYER_OPS = {
    "refresh": ["quality.report_s", "pipeline.files_written"],
    "cycle": ["streaming.trigger_ms", "streaming.add_batch_ms", "streaming.latest_offset_ms",
              "streaming.wal_commit_ms", "streaming.query_planning_ms",
              "streaming.jobs_per_cycle", "streaming.tasks_per_cycle"],
}


def times(ops, kind):
    return [o["ms"] for o in ops if o["kind"] == kind and o["ok"]]


def end_to_end(workload, ops, values, setup_s):
    """The end-to-end metrics from the operation records; None when every
    operation of a kind failed."""
    if workload == "marts":
        build, op = times(ops, "refresh"), times(ops, "page")
    else:
        build, op = times(ops, "bootstrap"), times(ops, "cycle")
    if not build or not op:
        return None
    return {"setup_s": setup_s, "build_s": statistics.median(build) / 1000,
            "op_ms": statistics.median(op), "store_mb": values.get("store_mb")}


def layer_values(ops, values):
    """The per-layer values, without those of failed operations."""
    v = dict(values)
    for o in ops:
        if not o["ok"]:
            for k in LAYER_OPS.get(o["kind"], []):
                v[k] = None
            if o["kind"] == "row":
                v["ops.row." + o["id"][len("row-"):] + "_s"] = None
    return v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["marts", "daily"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (no build.sbt or src/main/scala/graft)", 2)

    units = declared_metrics(args.trace)
    cp = classpath()
    t0 = time.time()  # set-up is timed from here: a cached build costs nothing
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(args.workload, args.seed, os.path.join(run_dir, "data"), args.trace)
        res = run_jvm(cp, args, run_dir, t0)
        ops = res["ops"]
        checks.run_all(res, os.path.join(run_dir, "data"), args.seed, ops)
        if args.trace:
            # spans and counters, plus the end-to-end figures of the traced
            # work: their difference from an untraced run is the overhead
            with open(os.path.join(run_dir, "trace.json")) as f:
                trace = json.load(f)
            trace["end_to_end"] = {w: end_to_end(w, ops, res["values"], res["setup_s"])
                                   for w in ("marts", "daily")}
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(trace, f)
            metrics = layer_values(ops, res["values"])
        else:
            metrics = end_to_end(args.workload, ops, res["values"], res["setup_s"])
            if metrics is None:
                die("every timed operation failed", 5)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(1 for o in ops if not o["ok"])
    # a check that found a wrong answer makes the run incorrect; an
    # operation that threw is only counted as failed
    wrong = sum(1 for o in ops if o["why"].startswith("check: "))
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['id']}: {o['why']}", file=sys.stderr)
    print(json.dumps({
        "correct": wrong == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
