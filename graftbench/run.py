#!/usr/bin/env python3
"""graftbench: the engine's benchmark.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --steadiness N --workload W [--seconds S]

A run builds the engine and this harness when their sources changed
(sbt, offline), prepares the seeded inputs of (workload, seed) in a
separate untimed step, starts the benchmark JVM, checks every op's
output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The line before it stamps the run's environment. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import gen, metrics, oracle, stats  # noqa: E402

WORKLOADS = {"history_load": 1, "interactive": 2, "corpus_dedup": 2}  # clients
HEAP = "2g"
YOUNG = "512m"
# Spark task threads: one core is left to the driver's threads (clients,
# scheduler, JIT compiler, GC), so no task waits for a core they hold
CORES = max(1, min(4, (os.cpu_count() or 1) - 1))
WORK = os.path.join(HERE, ".work")
BUILDS = os.path.join(WORK, "build")  # one snapshot, named by source digest
KEEP_INPUTS = 2            # prepared input sets kept per workload
JVM_TIMEOUT_S = 150

# what spark-submit would add on JDK 17 (as the engine's build.sbt does)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the runtime classpath is compiled from: the
    engine's and this harness's build definitions and main sources."""
    h = hashlib.sha256()
    for root in (REPO, HERE):
        files = [os.path.join(root, "build.sbt")]
        for sub in ("project", os.path.join("src", "main")):
            for d, dirs, names in os.walk(os.path.join(root, sub)):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, REPO).encode() + b"\0")
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness. The compiled class
    directories are copied to a snapshot named by the source digest, so
    a cached classpath always holds the classes of the sources as they
    are now; any source change makes a new snapshot (sbt's incremental
    compile keeps that cheap)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"engine sources not found ({need} next to {os.path.basename(HERE)}/)")
    digest = source_digest()
    snap = os.path.join(BUILDS, digest)
    cached = os.path.join(snap, "classpath.txt")
    if os.path.exists(cached):
        return open(cached).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export graftbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=840)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(out.stdout)
    lines = [ln for ln in out.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    if digest != source_digest():
        fail("sources changed during the build; run again")
    shutil.rmtree(BUILDS, ignore_errors=True)
    tmp = snap + ".tmp"
    os.makedirs(tmp)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):  # a build's class directory; jars stay put
            shutil.copytree(entry, os.path.join(tmp, str(i)))
            entry = os.path.join(snap, str(i))
        entries.append(entry)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(os.pathsep.join(entries))
    os.rename(tmp, snap)
    return os.pathsep.join(entries)


def prepare(workload, seed):
    """The untimed prepare step: seeded inputs, cached per (workload, seed)."""
    root = os.path.join(WORK, "inputs")
    path = os.path.join(root, f"{workload}-{seed}")
    if not os.path.exists(path):
        os.makedirs(root, exist_ok=True)
        old = sorted((d for d in os.listdir(root)
                      if d.startswith(workload + "-") and not d.endswith(".tmp")),
                     key=lambda d: os.path.getmtime(os.path.join(root, d)))
        for d in old[:max(0, len(old) - KEEP_INPUTS + 1)]:
            shutil.rmtree(os.path.join(root, d))
        gen.prepare(workload, seed, path)
    return path


def run_jvm(cp, workload, seed, seconds, trace, data, run_dir):
    out = os.path.join(run_dir, "raw.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # fixed heap and young generation, not touched ahead: resident memory
    # is the young generation once it has cycled plus what the program
    # keeps (old generation, metaspace, code, native buffers), and does
    # not follow G1's adaptive sizing from run to run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=32"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", workload, "--data", data, "--work", run_dir,
              "--out", out, "--seconds", str(seconds), "--trace", str(trace),
              "--clients", str(WORKLOADS[workload]),
              "--cores", str(CORES), "--seed", str(seed)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        launch = time.time_ns()
        proc = subprocess.Popen(cmd + ["--launch-ns", str(launch)], cwd=run_dir,
                                # few malloc arenas: native memory of the
                                # many JVM threads does not scatter
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"benchmark JVM failed ({code}):\n{tail}", 1)
    return json.load(open(out))


def check_history(raw, data):
    """Column sums of each written table against the generator's record
    of its source (first columns by position; the audit columns follow)."""
    specs = {t["name"]: t for t in json.load(open(os.path.join(data, "tables.json")))}
    for s in raw["samples"]:
        if s["output"] and not s["mismatch"]:
            want = specs[s["label"]]["checksum"]
            table = pq.read_table(s["output"])
            got = gen.checksum(table.select(list(range((len(want) - 1) // 2))))
            if got != want:
                s["mismatch"] = f"{s['label']}: written column sums differ from the source"
                s["quality"] = False


def measure(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cp = build()
    t0 = time.monotonic()
    data = prepare(args.workload, args.seed)
    t1 = time.monotonic()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        raw = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, data, run_dir)
        bad_queries = {}
        if args.workload == "history_load":
            check_history(raw, data)
        if args.workload == "interactive":
            verdicts = oracle.check(os.path.join(run_dir, "reference"), data)
            bad_queries = {q: why for q, why in verdicts.items() if why}
            for s in raw["samples"]:
                if s["label"] in bad_queries:
                    s["quality"] = False
        t2 = time.monotonic()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = raw["samples"]
    passed = sum(1 for s in samples if s["quality"])

    by_label = {}
    for s in samples:
        by_label.setdefault(s["label"], []).append((s["end_ns"] - s["start_ns"]) / 1e6)
    env = dict(raw["env"])
    env.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "prepare_s": round(t1 - t0, 3), "run_s": round(t2 - t1, 3),
        "window_s": raw["window_s"], "check_s": raw["check_s"], "ops": len(samples),
        "op_tail": metrics.tail(raw),
        "errors": sorted({s["error"] for s in samples if s["error"]})[:5],
        "mismatches": sorted({s["mismatch"] for s in samples
                              if s["ok"] and s["mismatch"]})[:5],
        "oracle_mismatches": bad_queries,
        "label_p50_ms": {lb: round(stats.median(xs), 1) for lb, xs in sorted(by_label.items())},
    })
    print(json.dumps({"stamp": env}))
    if args.trace:
        values = metrics.per_layer(raw)
        names = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(raw)
        names = metrics.END_TO_END
    result = {
        "correct": passed == len(samples) and not bad_queries,
        "attempted": len(samples),
        "failed": len(samples) - passed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }
    print(json.dumps(result))


def steadiness(args):
    """Run a workload N times with seeds 1..N; print each metric's
    median, quartiles, min/max and spread (IQR over median)."""
    runs = []
    for seed in range(1, args.steadiness + 1):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            fail(f"seed {seed} failed", 1)
        lines = out.stdout.strip().splitlines()
        runs.append((json.loads(lines[-2])["stamp"], json.loads(lines[-1])))
        stamp = runs[-1][0]
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.5g}" for k, v in runs[-1][1]["metrics"].items())
            + f" | ops={stamp['ops']} load={stamp['load_avg_start']:.2f}"
            f"->{stamp['load_avg_end']:.2f}", flush=True)
    bounds = {}
    bench = os.path.join(REPO, "BENCHMARK.json")
    if os.path.exists(bench):
        bounds = {m["name"]: m.get("bound") for m in json.load(open(bench))["end_to_end"]}
    report = {"workload": args.workload, "runs": len(runs),
              "hot_runs": sum(1 for st, _ in runs if st["hot_start"]),
              "all_correct": all(r["correct"] for _, r in runs), "metrics": {}}
    for name in runs[0][1]["metrics"]:
        xs = [r["metrics"][name]["value"] for _, r in runs]
        q1, q2, q3 = stats.quartiles(xs)
        report["metrics"][name] = {
            "median": q2, "q1": q1, "q3": q3, "min": min(xs), "max": max(xs),
            "spread": stats.spread(xs), "bound": bounds.get(name)}
    print(json.dumps(report, indent=1))


def main():
    # a terminated run unwinds through the `finally` blocks that stop its
    # child processes and remove its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, metavar="N")
    args = ap.parse_args()
    if args.steadiness:
        steadiness(args)
    elif args.workload:
        measure(args)
    else:
        fail("--workload is required")


if __name__ == "__main__":
    main()
