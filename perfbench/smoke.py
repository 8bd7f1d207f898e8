"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--size smoke`` (a 40-
participant rulebook, a 4-submission burst), untraced and traced, and
checks that each run exits 0 with a correct result that carries exactly
the metrics BENCHMARK.json names. Then it runs the command in a directory
holding only BENCHMARK.json and the benchmark's files: without the
package it must fail without printing a result. Takes about five minutes
on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, spec: dict, workload: str, trace: int) -> tuple[int, str]:
    p = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", "7",
                           "--seconds", "1", "--trace", str(trace),
                           "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run(ROOT, spec, w["name"], trace)
            lines = out.strip().splitlines()
            print(f"{w['name']} trace={trace}: exit {rc}")
            for line in lines[:-1]:
                print("   ", line)
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{w['name']} trace={trace}: no result")
                continue
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if rc != 0 or not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} trace={trace}: incorrect")
            if got != want:
                problems.append(f"{w['name']} trace={trace}: metrics "
                                f"{sorted(got)} != {sorted(want)}")
            if kind == "end_to_end" and not all(
                    v["value"] > 0 for v in res["metrics"].values()):
                problems.append(f"{w['name']}: an end-to-end metric is 0")

    # without the package the command must fail and print no result
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run(bare, spec, spec["workloads"][0]["name"], 0)
        print(f"bare directory: exit {rc}")
        if rc == 0 or '"metrics"' in out:
            problems.append("bare directory: the command did not fail")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("PROBLEM:", p)
    print("smoke", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
