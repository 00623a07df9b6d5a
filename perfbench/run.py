"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_assign --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout: starts Spark at
``local[$(nproc)]``, generates the inputs from ``--seed``, warms up, measures
for ``--seconds``, checks the outputs, and prints every metric by name and
unit. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("tile_assign", "query_mix")


def _process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started = _process_start()

    if not (ROOT / "asf_tools_spark").is_dir():
        print("perfbench: no asf_tools_spark package next to perfbench/", file=sys.stderr)
        return 2
    out_dir = ROOT / "perfbench" / "out" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True)
    sys.path.insert(0, str(ROOT))
    # Python workers import the engine (and unpickle traced wrappers) by path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    # temporary files of Python, Spark and the JVM stay inside the run directory
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)

    import importlib

    from perfbench.harness import Bench, stop_jvm

    module = importlib.import_module(f"perfbench.w_{args.workload}")
    bench = Bench(args.seed, args.seconds, bool(args.trace), str(out_dir), started)
    try:
        result = bench.run(module.Workload(bench))
    finally:
        stop_jvm()
    for entry in out_dir.iterdir():  # keep only the trace file
        if entry.name != "trace.json":
            shutil.rmtree(entry) if entry.is_dir() else entry.unlink()
    if not any(out_dir.iterdir()):
        out_dir.rmdir()

    for name, (value, unit) in sorted(result["metrics"].items()):
        print(f"{args.workload:>12} {name:<44} {value:>16.6g} {unit}")
    for line in result.get("notes", []):
        print(f"{args.workload:>12} # {line}")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
