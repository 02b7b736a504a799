#!/usr/bin/env python3
"""Tests of the benchmark itself. From the repository root:

    python3 perfbench/selftest.py

1. The store timer forwards every store member (perfbench.SelfTest).
2. Each workload passes its correctness checks, and reports every check
   as failed when its expected values are wrong (--wrong-expected 1).
3. A traced and an untraced run of one seed, with the same number of
   ops, leave identical table and view hashes.
Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["refresh", "read"]


def bench(workload, *extra):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", "5", "--seconds", "1", "--ops", "4", *extra],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"selftest: {workload} {extra} failed (rc={out.returncode})")
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    detail = next(l for l in lines if "detail" in l)
    return detail, lines[-1]


def main():
    root = os.getcwd()
    classes = run.build(root)
    tmp = run.fresh_tmp(root)
    rc, out = run.run_java(root, classes, "perfbench.SelfTest", [], tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    print(out.strip())
    if rc != 0:
        sys.exit("selftest: store timer checks failed")
    for w in WORKLOADS:
        detail, res = bench(w, "--trace", "0")
        assert res["correct"] and res["failed"] == 0, (w, res)
        n_checks = len(detail["checks"])
        _, bad = bench(w, "--trace", "0", "--wrong-expected", "1")
        assert not bad["correct"] and bad["failed"] >= n_checks > 0, (w, bad)
        traced, tres = bench(w, "--trace", "1")
        assert tres["correct"], (w, tres)
        assert traced["notes"]["tables"] == detail["notes"]["tables"], \
            (w, traced["notes"], detail["notes"])
        print(f"selftest: {w}: {n_checks} checks pass, all fail on wrong expected values, "
              "traced and untraced hashes agree")


if __name__ == "__main__":
    main()
