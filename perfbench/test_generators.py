#!/usr/bin/env python3
"""The benchmark's own test: its generators are pure functions of the
seed. For each workload, the same seed twice gives byte-identical
inputs and request streams, and another seed gives different ones.

Usage (from the repository root): python3 perfbench/test_generators.py
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def digest(workload, seed, tmp):
    out = os.path.join(tmp, f"{workload}-{seed}-{len(os.listdir(tmp))}.json")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--gen-only", out],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)["digest"]


def main():
    failures = []
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work")) as tmp:
        for w in ["curate", "serve"]:
            a, b, c = digest(w, 5, tmp), digest(w, 5, tmp), digest(w, 6, tmp)
            same, differ = a == b, a != c
            print(f"{w}: same seed identical={same}, other seed differs={differ}")
            if not (same and differ):
                failures.append(w)
    if failures:
        sys.exit(f"generator test failed for {failures}")
    print("generator test passed")


if __name__ == "__main__":
    main()
