"""KG construction benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload web --seed 1 --seconds 5 --trace 0

Workloads (inputs generated from --seed by perfbench/gen.py):

- ``web``: the historical bench corpus shape, synth_pages over a seeded
  documents table shaped like sf0.1's. Few surface forms, no fuzzy
  work, every size gate on its broadcast / driver side; cost is per-job
  latency and extraction.
- ``wide_vocab``: a seeded corpus with many distinct surface forms,
  alias forms from a large mostly-unused alias dictionary, hyphen
  variants and stop-entity endpoints beside near-miss registry names.
  Pass 3 (linking, components, resolve) does the most work, the resolve
  joins run past the broadcast gate and the fuzzy stage links real call
  sites.

Each run starts one Spark session with ``get_spark`` defaults at
local[<cores>], makes its inputs and warms up with one untimed build.
``--trace 0`` then measures a fresh build for ``--seconds`` (at least
once). ``--trace 1`` does the same, then in a second session with the
Spark event log on runs one build, five resumes, a query round, the
layout pass and the non-KG operator heads, and derives the per-layer
metrics from that log. Every build, resume, query, layout
pass and head is checked. perfbench/README.md has the details.

All scratch data (inputs, warehouses, event logs, Spark local dirs,
temp files) lives under .perfbench_work/ in the checkout and is removed
when the run ends. The last stdout line is the result JSON; the exit
status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

#: per-workload sizes; ``toy`` is the smoke-test size
SIZES = {
    "web": {"full": {"docs": 5_000}, "toy": {"docs": 120}},
    "wide_vocab": {
        "full": {"docs": 400, "triples": 10, "vocab": 6_000,
                 "aliases": 20_000, "gate_div": 256},
        "toy": {"docs": 200, "triples": 8, "vocab": 2_000,
                "aliases": 3_000, "gate_div": 4096},
    },
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM Spark starts (launcher and driver) keeps its temp files
    # and perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [ROOT, HERE]
    try:
        from harness import Bench  # noqa: E402 (needs the paths above)

        result = Bench(args, work, SIZES[args.workload][args.size]).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"fail_frac={result['failed'] / result['attempted']:.4f}",
          flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
