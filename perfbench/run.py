#!/usr/bin/env python3
"""Benchmark of the graft engine: connector scans and the CQL front
door, end to end and layer by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload <scan_merge|cql_mixed> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark program
from source
with sbt (offline); later runs reuse the build while the sources are
unchanged. Each run starts one JVM at local[nproc], builds the workload's
inputs from the seed, runs the workload's closed loop (one client) for
the given seconds and checks every output. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run's spans are
written to perfbench/out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORKLOADS = ("scan_merge", "cql_mixed")
# A run must end within 180 s once built; the JVM is stopped at this.
RUN_LIMIT_S = 165
HEAP = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Builds the engine and the benchmark program with sbt; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state stays in the build directory of this checkout.
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines()
             if "classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode}); see {log_path}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def class_gmean(kinds):
    """Geometric mean over request kinds (the op name: a scan shape, a
    CQL statement class on one table) of each kind's median
    latency, in ms; `kinds` maps a kind to its latencies. Every kind
    weighs the same whatever its share of the mix, so the figure does
    not move with the mix a seed draws."""
    if not kinds:
        return 0.0
    return math.exp(sum(math.log(statistics.median(v))
                        for v in kinds.values()) / len(kinds))


def run_jvm(args, cp, work, deadline):
    """Runs the benchmark JVM; returns (set-up end time, result dict)."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap, and JIT thresholds at a tenth of the default so that
    # the compiled code settles during the warm-up instead of getting
    # faster all through the window (at the default, pass times still
    # fall by a third after a minute).
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.cell.snapshots={os.path.join(work, 'cell-snapshots')}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out,
           "--cpus", str(len(os.sched_getaffinity(0)))]
    log_path = os.path.join(work, "jvm.log")
    ready = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=log, text=True, start_new_session=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()),
                                lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in p.stdout:
                if line.strip() == "PERFBENCH_READY" and ready is None:
                    ready = time.monotonic()
                else:
                    sys.stderr.write(line)
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or ready is None or not os.path.exists(out):
        with open(log_path) as f:
            lines = f.read().splitlines()
        errors = [ln for ln in lines if "Exception" in ln or "Error" in ln]
        sys.stderr.write("\n".join(errors[:20] + lines[-40:]) + "\n")
        fail(f"benchmark JVM failed (exit {rc})", 1)
    with open(out) as f:
        return ready, json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources (build.sbt, src/main/scala/graft) not found")
    cp = build()
    built = time.monotonic()

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        ready, res = run_jvm(args, cp, work, built + RUN_LIMIT_S)
        print(f"timeline: build {built - started:.1f} s, launch to ready "
              f"{ready - t0:.1f} s, measure+exit {time.monotonic() - ready:.1f} s",
              file=sys.stderr)
        if args.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            shutil.copy(os.path.join(work, "result.json.spans.json"),
                        os.path.join(HERE, "out",
                                     f"{args.workload}-{args.seed}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    for o in ops:
        if o["pass"] == 0:
            print(f"set-up op {o['name']}: {o['ms']:.0f} ms", file=sys.stderr)
    for o in failed:
        print(f"failed op {o['name']} (pass {o['pass']}): {o['err']}",
              file=sys.stderr)
    measured = [o for o in ops if o["pass"] > 0]
    ok = [o for o in measured if o["request"] and o["ok"]]
    kinds = {}
    for o in ok:
        kinds.setdefault(o["name"], []).append(o["ms"])
    for k, v in sorted(kinds.items()):
        print(f"op {k}: n={len(v)} median {statistics.median(v):.1f} ms",
              file=sys.stderr)
    passes = {}
    for o in measured:
        passes.setdefault(o["pass"], []).append(o)
    pass_s = [sum(o["ms"] for o in p) / 1000.0 for p in passes.values()
              if all(o["ok"] for o in p)]
    print("pass times: " + " ".join(f"{t:.3f}" for t in pass_s) + " s",
          file=sys.stderr)
    e2e = {
        "setup_s": statistics.median(res["setup_runs_s"]),
        "pass_s": statistics.median(pass_s) if pass_s else 0.0,
        "op_gmean_ms": class_gmean(kinds),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    extra = {k: (v["value"], v["unit"]) for k, v in res["extra"].items()}
    extra["failed_frac"] = (len(failed) / len(ops), "ratio")
    extra["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    extra["live_heap_mb"] = (res["live_heap_mb"], "MB")
    extra["launch_to_ready_s"] = (ready - t0, "s")
    for k, (v, u) in sorted(extra.items()):
        print(json.dumps({"metric": k, "value": v, "unit": u}))

    if args.trace:
        # the traced run's op_gmean_ms: set beside the untraced runs'
        # figure, the difference is the tracing overhead
        res["layers"]["trace.op_gmean_ms"] = e2e["op_gmean_ms"]
        chosen = {m["name"]: res["layers"].get(m["name"], 0.0)
                  for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": (v if v is not None else 0.0),
                        "unit": units[k]} for k, v in chosen.items()},
    }))


if __name__ == "__main__":
    main()
