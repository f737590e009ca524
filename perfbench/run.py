#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source on first use (under
`.bench_build/`), generates the workload's inputs from the seed, runs the
harness in a fresh JVM on a fresh warehouse under a per-run directory,
checks outputs (served queries against their DuckDB oracle), and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ledger. A fuller record of the run (raw samples, host
load, core count, seed, spans) goes to `.bench_build/last-<workload>.json`.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Input size per workload (documents per copy, copies, lifecycle rounds).
# Chosen so one run, set-up included, fits in about a minute on 4 cores.
INPUTS = {
    "migrate": dict(copies=2, docs=300, orphans=True, null_column=True),
    "lifecycle": dict(copies=1, docs=500, rounds=12),
}
# Rounds every run makes (round 0 is the warm-up), passes of the served
# mix after each migrate, and micro-batches each lifecycle batch is
# probed in.
SHAPE = {
    "migrate": dict(rounds=3, passes=4, micro_batches=1),
    "lifecycle": dict(rounds=3, passes=1, micro_batches=4),
}
# How one operation's timed executions become its figure. A migrate
# round repeats the same migrate of the same source and serves the same
# queries over the same corpus: its executions are repeats, and their
# median is the steadiest figure. A lifecycle round is a new batch on a
# grown index, and the JIT is still warming over the few rounds a run
# has: each operation's fastest round is its figure, as host contention
# only ever adds time.
STAT = {"migrate": statistics.median, "lifecycle": min}
# Operation kinds the harness records, split into reads and writes.
READ_KINDS = {"query", "probe"}
WRITE_KINDS = {"migrate", "append", "takedown", "relevel"}
# Tables each workload reads, for stored_bytes_ratio.
READS = {"migrate": [t for t in gen.TABLES
                    if t not in ("events", "embeddings")],
         "lifecycle": ["documents"]}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "project", "build.properties"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt, offline; return the classpath."""
    digest = source_digest()
    marker = os.path.join(BUILD, "classpath.json")
    if os.path.exists(marker):
        with open(marker) as f:
            m = json.load(f)
        if m.get("digest") == digest and all(
                os.path.exists(e) for e in m["classpath"].split(os.pathsep)):
            return m["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    log(f"built in {time.time() - t0:.0f}s")
    with open(marker, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def inputs(workload, seed):
    spec = INPUTS[workload]
    key = "-".join(f"{k}{v}" for k, v in sorted(spec.items()))
    out = os.path.join(BUILD, "data", f"{workload}-seed{seed}-{key}")
    gen.ensure(seed, out=out, **spec)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cores():
    """Spark's task slots: half the cores, so the driver thread, the JIT
    compilers and the collector run beside the tasks instead of taking
    turns with them."""
    return max(1, cores() // 2)


def run_jvm(cp, workload, data, run_dir, seconds, trace, plant):
    out = os.path.join(run_dir, "samples.json")
    for d in ["tmp", "local", "results"]:
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # A fixed-size heap under the throughput collector: heap growth
    # policy then does not depend on pause timing, which keeps
    # peak_rss_mb steady from run to run.
    cmd = (["java", "-Xms2500m", "-Xmx2500m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--data", data, "--run-dir", run_dir, "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--cores", str(spark_cores()),
              "--out", out]
           + [a for k, v in SHAPE[workload].items()
              for a in ("--" + k.replace("_", "-"), str(v))]
           + (["--plant", ",".join(plant)] if plant else []))
    # Spark's scratch space stays in the run directory even where the
    # environment names another
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("harness timed out")
    finally:  # on a timeout or a signal, the JVM goes down with us
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def reduce(workload, data, s, oracle_fail, trace):
    """The printed result from the harness's raw samples."""
    ops = s["ops"]
    for o in ops:
        query = o["name"].split("#")[0]
        if o["kind"] == "query" and query in oracle_fail:
            o["ok"] = False
            o["error"] = oracle_fail[query]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    if trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in s["layers"].items()}
    else:
        # Round 0 is warm-up: checked and counted, never timed. read_s
        # and write_s sum, over the operations of that kind, one figure
        # per operation from its executions in the later rounds (STAT).
        # A failed execution enters no timing.
        stat = STAT[workload]

        def per_round(kinds):
            by_name = {}
            for o in ops:
                if o["round"] >= 1 and o["kind"] in kinds and o["ok"]:
                    by_name.setdefault(o["name"], []).append(o["s"])
            return sum(stat(v) for v in by_name.values()) \
                if by_name else float("nan")
        tables = READS.get(workload, gen.TABLES)
        in_bytes = sum(os.path.getsize(os.path.join(data, t + ".parquet"))
                       for t in tables)
        metrics = {
            "setup_s": {"value": median(s["setup_s"]), "unit": "s"},
            "read_s": {"value": per_round(READ_KINDS), "unit": "s"},
            "write_s": {"value": per_round(WRITE_KINDS), "unit": "s"},
            "peak_rss_mb": {"value": s["info"]["peak_rss_kb"] / 1024.0,
                            "unit": "MB"},
            "stored_bytes_ratio": {
                "value": s["info"]["stored_bytes"] / in_bytes, "unit": "B/B"},
        }
    for m in metrics.values():  # JSON has no NaN: a missing value is null
        if isinstance(m["value"], float) and math.isnan(m["value"]):
            m["value"] = None
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def commit_id():
    head = os.path.join(ROOT, ".git")
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return "unknown" if os.path.isdir(head) else "checkout:" + source_digest()[:16]


def main(argv):
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="etlalchemyspark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", default="",
                    help="self-test only: comma list of planted faults "
                         "(throw, wrong) added to the served mix")
    a = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("program sources not found next to perfbench/: "
                         "run from the root of a full checkout")
    cp = build()
    data = inputs(a.workload, a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        s = run_jvm(cp, a.workload, data, run_dir, a.seconds, bool(a.trace),
                    [p for p in a.plant.split(",") if p])
        oracle_fail = {}
        if a.workload == "migrate":
            oracle_fail = oracle.check(os.path.join(run_dir, "results"),
                                       os.path.join(run_dir, "migrated"))
            for q, why in sorted(oracle_fail.items()):
                log(f"oracle mismatch {q}: {why}")
        result = reduce(a.workload, data, s, oracle_fail, bool(a.trace))
        # the end-to-end reduction of a traced run's own timings: traced
        # minus untraced is the tracing overhead
        timings = reduce(a.workload, data, s, oracle_fail, False)["metrics"]
        record = dict(result, timings=timings, workload=a.workload, seed=a.seed,
                      seconds=a.seconds, trace=a.trace, commit=commit_id(),
                      cores=cores(), spark_cores=s["info"]["cores"],
                      ext_load_cores=s["info"]["ext_load_cores"],
                      rounds=s["info"]["rounds"], wall_s=time.time() - t0,
                      setup_s=s["setup_s"], ops=s["ops"], spans=s["spans"])
        with open(os.path.join(BUILD, f"last-{a.workload}.json"), "w") as f:
            json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
