#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. The generator is deterministic: the same seed writes byte-identical
   inputs, and a different seed writes different ones.
2. Planted failures are counted and never timed: a migrate run with a
   query that throws and a query whose result disagrees with its oracle
   added to the mix reports every execution of both as failed, and its
   read_s equals the one recomputed from the real query alone.

Exits non-zero on the first failed check.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "selftest")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


def check_generator():
    shutil.rmtree(WORK, ignore_errors=True)
    spec = dict(copies=2, docs=60, orphans=True, null_column=True, rounds=2)
    runs = {name: os.path.join(WORK, name) for name in ["a", "b", "c"]}
    gen.generate(5, out=runs["a"], **spec)
    gen.generate(5, out=runs["b"], **spec)
    gen.generate(6, out=runs["c"], **spec)
    assert same_tree(runs["a"], runs["b"]), "same seed, different inputs"
    assert not same_tree(runs["a"], runs["c"]), "different seed, same inputs"
    shutil.rmtree(WORK, ignore_errors=True)
    print("ok generator: same seed identical, other seed different")


def check_planted():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "migrate",
         "--seed", "1", "--seconds", "1", "--trace", "0",
         "--plant", "throw,wrong"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"run.py exited {p.returncode}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_build", "last-migrate.json")) as f:
        rec = json.load(f)
    ops = rec["ops"]
    planted = [o for o in ops if o["name"].startswith("planted_")]
    served = [o for o in ops if o["kind"] == "query" and o not in planted]
    # each pass serves the real query once and each planted query once
    assert served and len(planted) == 2 * len(served), planted
    assert all(not o["ok"] for o in planted), planted
    real_failed = [o for o in ops if not o["ok"] and o not in planted]
    assert not real_failed, real_failed
    assert result["failed"] == len(planted), result
    assert result["correct"] is False, result
    # read_s from the real queries alone: the planted ones add nothing
    by_name = {}
    for o in ops:
        if o["round"] >= 1 and o["kind"] == "query" and o["ok"]:
            by_name.setdefault(o["name"], []).append(o["s"])
    assert not any(n.startswith("planted_") for n in by_name), by_name
    want = sum(run.STAT["migrate"](v) for v in by_name.values())
    got = result["metrics"]["read_s"]["value"]
    assert abs(got - want) < 1e-9, (got, want)
    print(f"ok planted: {len(planted)} planted executions failed "
          f"of {result['attempted']}, none timed")


if __name__ == "__main__":
    check_generator()
    check_planted()
