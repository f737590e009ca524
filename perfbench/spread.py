#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1 over the median, from
`statistics.quantiles(values, n=4)`), next to the bound in
BENCHMARK.json. Run from the root of a checkout:

    python3 perfbench/spread.py --workload migrate --seeds 1-10 [--out FILE]

Runs are sequential: concurrent runs would contend for the same cores.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"], r["wall_s"] = seed, time.time() - t0
        with open(os.path.join(ROOT, ".bench_build",
                               f"last-{a.workload}.json")) as f:
            full = json.load(f)
        for k in ["commit", "cores", "ext_load_cores", "rounds", "timings"]:
            r[k] = full[k]
        runs.append(r)
        vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {seed} {r['wall_s']:.0f}s correct={r['correct']} "
              f"{vals}", flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        summary[name] = {"median": med, "q1": q[0], "q3": q[2],
                         "spread": spread, "bound": bounds.get(name)}
        b = bounds.get(name)
        flag = "" if b is None else (" ok" if spread < b / 3 else
                                     " WIDE" if spread > b else " >b/3")
        print(f"{name:24s} median {med:12.4f} spread {spread:7.4f}"
              f" bound {b}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace,
                       "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
