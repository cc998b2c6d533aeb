"""Benchmark entry point.

    python3 perfbench/run.py --workload skew_join_zipf --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Builds the workload's
inputs from ``--seed``, starts a Spark session through the package's own
``get_spark``, warms up, runs jobs for ``--seconds`` seconds and prints
one JSON object as the last line of standard output: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Launch hygiene (the session is configured through the environment only,
never through program code): the checkout is put on ``PYTHONPATH`` so
Python workers can import the package, ``SPARK_LOCAL_DIRS`` and the
working directory point into a scratch directory of the checkout (so
warehouse and spill tables never land in the repository's own
``spark-warehouse/``), and the traced run switches the Spark event log
on through ``PYSPARK_SUBMIT_ARGS``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="full", help="input size: full, or tiny for smoke tests")
    return p.parse_args(argv)


def launch_env(work: str, trace: bool) -> str | None:
    """Set the environment the Spark JVM and its Python workers start
    with; returns the event log directory of a traced run."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    if not trace:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        return None
    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{events} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    return events


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_skew_join_spark", "__init__.py")):
        print(f"perfbench: no spark_skew_join_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.scale not in gen.SCALES:
        print(f"perfbench: unknown scale {args.scale!r}; one of {sorted(gen.SCALES)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    event_dir = launch_env(work, bool(args.trace))
    cwd = os.getcwd()
    os.chdir(work)
    try:
        import harness

        wl = WORKLOADS[args.workload](args.workload, data, args.seed, gen.SCALES[args.scale])
        result, tracer = harness.run(wl, args.seconds, bool(args.trace), os.cpu_count() or 4, event_dir)
        if args.trace:
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.jsonl"))
        print(f"[perfbench] facts: {json.dumps(wl.facts)}", file=sys.stderr)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
