"""Toy-size smoke test of the benchmark through its real code path.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--size toy`` untraced and
traced, and checks that each run exits 0 with a correct result carrying
exactly the metric names BENCHMARK.json declares (the traced run also
writes its report). Then checks that the benchmark fails, without a
result line, in a directory holding only BENCHMARK.json and the
benchmark's own files. Takes a few minutes; exits non-zero on the first
failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return subprocess.run(spec["command"] + list(args), cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            p = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--size", "toy")
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                print(p.stdout[-3000:], p.stderr[-3000:])
                raise SystemExit(f"FAIL {tag}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or res["failed"] or got != want[trace]:
                raise SystemExit(f"FAIL {tag}: {res} != {want[trace]}")
            if trace and not os.path.exists(
                    os.path.join(HERE, "reports", f"{w}-seed7.json")):
                raise SystemExit(f"FAIL {tag}: no report")
            print(f"ok {tag}: {res['attempted']} ops", flush=True)

    # without the program next to it the benchmark must fail cleanly
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "reports"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(bare, "--workload", "web", "--seed", "1", "--seconds", "1",
                "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # a benchmark run is using it
    if p.returncode == 0 or '"metrics"' in p.stdout:
        raise SystemExit("FAIL bare directory: benchmark did not fail")
    print("ok bare directory fails with exit", p.returncode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
