"""Job benchmark for preprocessor_spark.

    python3 jobbench/run.py --workload build|refresh --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` under
``.jobbench_work/`` (removed at the end), the jobs run on Spark
``local[nproc]`` in this one process, every output is checked against a
DuckDB recomputation, and the last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
UNITS = {"setup_s": "s", "job_s": "s", "points_per_s": "rows/s",
         "store_bytes_per_point": "B/row"}
DRIVER_MEM = "4g"


def main() -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "preprocessor_spark")):
        print("run from the repository root: preprocessor_spark/ not found",
              file=sys.stderr)
        return 2
    threads = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".jobbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if args.trace:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false"]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(threads),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        "TMPDIR": tmp,
    })
    sys.path[:0] = [HERE, root]

    import jobs

    bench = jobs.Bench(os.path.join(work, args.workload), args.seed, args.seconds,
                       t_start, threads, bool(args.trace))
    try:
        run = jobs.WORKLOADS[args.workload](bench)
        if not run.ops:
            print(f"no unit of {args.workload} succeeded", file=sys.stderr)
            return 1
        if args.trace:
            bench.stop()  # the event log is complete once the session stops
            import layers
            from spans import read_event_log

            metrics = layers.per_layer(bench.tracer, run, read_event_log(events))
            units = {k: layers.unit_of(k) for k in metrics}
        else:
            metrics = jobs.end_to_end(run)
            units = UNITS
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    bench.log("done")
    for problem in run.problems:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
