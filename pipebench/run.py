"""Pipeline benchmark: ingest of new export months, end to end and per layer.

    python3 pipebench/run.py --workload incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads and metrics are listed in
BENCHMARK.json and explained in pipebench/README.md. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Everything the run writes
lives under ``.bench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "spotify_streaming_etl_pipeline_spark"


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (PACKAGE / "pipeline.py").is_file():
        print(f"error: the engine package is not in this checkout ({PACKAGE})", file=sys.stderr)
        return 2
    # Import the engine and the benchmark from this checkout only.
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != ROOT / "pipebench"]

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'}",
        }
    )
    from pipebench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = workloads.execute(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # .bench_work, once no other run uses it
        except OSError:
            pass
    declared = declared_metrics(bool(args.trace))
    missing = declared.keys() - result["metrics"].keys()
    if missing:
        print(f"error: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 3
    result["metrics"] = {
        name: {"value": result["metrics"][name], "unit": unit} for name, unit in declared.items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
