#!/usr/bin/env python3
"""The repository benchmark: seeded closed-loop workloads over the DDF API.

    python3 ddfbench/run.py --workload analyst_session --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the library and the
benchmark's JVM program with sbt (ddfbench/build.sbt) and writes the input
tables; later runs reuse both. Everything the run writes stays under .bench_build/.

--trace 0 prints the end-to-end metrics. --trace 1 runs one untraced and
two traced cycles, prints a per-op and per-module report of jobs, shuffle
bytes and idle time, names the counts that differ between the two traced
cycles, and prints the per-layer metrics. The last line of stdout is
always the JSON result. See ddfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import digest, stats, trace  # noqa: E402

WORKLOADS = ("analyst_session", "curation_build", "scan_x10")
WORK = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# what sbt reads: the library build and sources, and the benchmark's
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "ddfbench/build.sbt", "ddfbench/project/build.properties",
                "ddfbench/src")

# Spark on JDK 17 outside spark-submit (the root build's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[ddfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def inputs_hash():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The JVM program's runtime classpath, building first when a source changed."""
    stamp = os.path.join(WORK, "build.json")
    want = inputs_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got["inputs"] == want:
            return got["classpath"]
    log("building with sbt (first run in this checkout)")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"inputs": want, "classpath": cp}, fh)
    return cp


def java(cp, main_args, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # the heap ceiling keeps the JVM small; memory is measured as live
    # memory (LiveMemory.scala), so it does not follow the heap size
    # UTC: timestamps in driver-side results print the same everywhere
    cmd = [exe, *ADD_OPENS, "-Xmx3g",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "ddfbench.Main", *main_args]
    try:
        # the JVM's own output (Spark logs) goes to stderr
        return subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=max(10, timeout)).returncode
    except subprocess.TimeoutExpired:
        fail("the JVM did not finish in time")


def prepare_inputs(cp, kind):
    """Writes the input tables (base, or base and the tenfold corpus) on
    the first run in a checkout that needs them."""
    stamp = os.path.join(WORK, f"inputs-{kind}.json")
    want = inputs_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh)["inputs"] == want:
                return
    log(f"writing the {kind} input tables (first run in this checkout)")
    if java(cp, ["prepare", WORK, kind], BUILD_LIMIT_S) != 0:
        fail("writing the input tables failed")
    with open(stamp, "w") as fh:
        json.dump({"inputs": want}, fh)


def run_jvm(cp, args, deadline):
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    code = java(cp, [args.workload, str(args.seed), str(args.seconds), str(args.trace),
                     WORK, out], deadline - time.time())
    if code != 0 or not os.path.exists(out):
        fail(f"the JVM exited with {code}")
    with open(out) as fh:
        raw = json.load(fh)
    # kept for inspection: every op's latency and output, and the trace
    os.replace(out, os.path.join(WORK, f"last-{args.workload}.json"))
    return raw


def load_expected(workload):
    path = os.path.join(EXPECTED, f"{workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def check_outputs(ops, expected):
    """Marks each op record bad when it threw, when its digest differs from
    the expected one, or (for a seed without expected digests) when two runs
    of the same op in this run disagree. Returns the digests seen."""
    seen = {}
    for op in ops:
        if not op["ok"]:
            op["bad"] = f"threw: {op['error']}"
            continue
        d = digest.op_digest(op["out"])
        want = expected.get(op["name"], seen.get(op["name"]))
        seen.setdefault(op["name"], d)
        op["bad"] = None if want is None or want == d else f"digest {d} != {want}"
    return seen


def end_to_end(raw, ops, timed):
    good = [op for op in ops if not op["bad"]]
    if raw["peak_live_mb"] is None:
        fail("no garbage collection ran in the measured cycles: peak_live_mb is unknown")
    return {
        "setup_s": (raw["setup_s"], "s"),
        "ops_per_s": (len(good) / timed["elapsed_s"], "1/s"),
        "cpu_s": (timed["cpu_s"] / timed["cycles"], "s"),
        "peak_live_mb": (raw["peak_live_mb"], "MB"),
        "ok_rate": (len(good) / len(ops), "ratio"),
    }


def per_layer(raw):
    """Metrics of the first traced pass, and the report lines: per op, per
    module, the counts that did not repeat in the second pass, and the
    kcore item against the registry query."""
    (a, b) = raw["passes"]
    mods_a, mods_b = trace.by_module(a["trace"]), trace.by_module(b["trace"])
    wall_ms = a["timed"]["elapsed_s"] * 1000.0
    untraced = raw["untraced"]
    metrics = {}
    for m in trace.MODULES:
        for k in trace.LAYER_KEYS:
            unit = "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count"
            metrics[f"{m}.{k}"] = (mods_a[m][k], unit)
    metrics["spark.busy_ratio"] = (trace.busy_ratio(a["trace"], wall_ms), "ratio")
    metrics["spark.jobs"] = (len(a["trace"]["jobs"]), "count")
    metrics["spark.failed_tasks"] = (a["trace"]["failed_tasks"], "count")
    metrics["jvm.gc_ms"] = (a["timed"]["gc_ms"], "ms")
    ops_per_s = len(a["timed"]["ops"]) / a["timed"]["elapsed_s"]
    base = len(untraced["ops"]) / untraced["elapsed_s"]
    metrics["trace.overhead_ratio"] = (ops_per_s / base, "ratio")
    # latency percentiles of the untraced cycle; a run has too few ops for
    # them to repeat within the end-to-end bounds (see README)
    lat = [op["ms"] for op in untraced["ops"]]
    metrics["op.p50_ms"] = (stats.median(lat), "ms")
    metrics["op.p90_ms"] = (stats.percentile(lat, 90.0), "ms")
    lines = ["per op (first traced pass):",
             f"  {'op':24s} {'wall_ms':>9s} {'jobs':>5s} {'shuffle_bytes':>14s} "
             f"{'idle_ms':>9s}  jobs by module"]
    for op in trace.by_op(a["trace"]):
        lines.append(f"  {op['name']:24s} {op['wall_ms']:9.1f} {op['jobs']:5d} "
                     f"{op['shuffle_bytes']:14d} {op['idle_ms']:9.1f}  "
                     + " ".join(f"{k}={v}" for k, v in sorted(op["jobs_by_module"].items())))
    lines.append("per module:")
    lines.append(f"  {'module':10s} {'calls':>5s} {'self_ms':>9s} {'idle_ms':>9s} "
                 f"{'plan_ms':>8s} {'jobs':>5s} {'tasks':>6s} {'task_cpu_ms':>11s} "
                 f"{'shuffle_w':>11s} {'shuffle_r':>11s} {'input':>11s} {'output':>10s}")
    for m in trace.MODULES:
        r = mods_a[m]
        lines.append(f"  {m:10s} {r['calls']:5d} {r['self_ms']:9.1f} {r['idle_ms']:9.1f} "
                     f"{r['plan_ms']:8.1f} {r['jobs']:5d} {r['tasks']:6d} "
                     f"{r['task_cpu_ms']:11d} {r['shuffle_write_bytes']:11d} "
                     f"{r['shuffle_read_bytes']:11d} {r['input_bytes']:11d} "
                     f"{r['output_bytes']:10d}")
    reg = raw.get("registry_g05")
    if reg:
        kcore = next(o for o in trace.by_op(a["trace"]) if o["name"] == "kcore")
        item_jobs = kcore["jobs_by_module"].get("operators", 0)
        reg_jobs = trace.by_op(reg)[0]["jobs_by_module"].get("registry", 0)
        lines.append(f"kcore item operators.jobs = {item_jobs}; registry g05_kcore jobs = "
                     f"{reg_jobs}{'' if item_jobs == reg_jobs else '  MISMATCH'}")
    diffs = trace.count_diffs(mods_a, mods_b)
    lines.append("exact repeat: " + ("every count repeated in the second traced cycle"
                                     if not diffs else "these counts did NOT repeat: "
                                     + "; ".join(diffs)))
    lines.append(f"tracing overhead: traced/untraced ops_per_s = "
                 f"{metrics['trace.overhead_ratio'][0]:.3f}")
    return metrics, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from a checkout of the repository: the library sources are missing")

    cp = classpath()
    prepare_inputs(cp, "x10" if args.workload == "scan_x10" else "base")
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)
    raw = run_jvm(cp, args, deadline)

    ops = raw["timed"]["ops"] if args.trace == 0 else (
        raw["untraced"]["ops"] + [o for p in raw["passes"] for o in p["timed"]["ops"]])
    expected = load_expected(args.workload).get(str(args.seed), {})
    seen = check_outputs(ops, expected)
    problems = [f"{op['name']} (cycle {op['cycle']}): {op['bad']}" for op in ops if op["bad"]]
    if not expected:
        # no committed digests for this seed: print them for comparison
        print("digests " + json.dumps(seen, sort_keys=True))

    if args.trace == 0:
        metrics = end_to_end(raw, ops, raw["timed"])
        n = len(ops)
        tail = stats.tail_percentile(n)
        log(f"{n} ops in {raw['timed']['cycles']} cycles; the highest percentile with "
            f"ten samples beyond it is {'none' if tail is None else 'p%g' % tail}")
    else:
        metrics, lines = per_layer(raw)
        print("\n".join(lines))
    for p in problems:
        log("FAIL " + p)
    failed = sum(1 for op in ops if op["bad"])
    correct = not problems
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
