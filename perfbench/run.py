"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {registry,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Every file the run writes lives under
``.perfbench_run/`` (removed at exit) or, for traced runs, the span dump
under ``.perfbench_out/``. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics, read from outside the
program: timed calls into its public functions, Spark's status tracker,
the Spark event log and each query's ``StreamingQueryProgress``. See
``perfbench/NOTES.md`` for the workloads, metrics and the layer each
metric belongs to.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry", "ingest")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(run_dir: str, trace: bool) -> None:
    """Fresh temp, Spark-local and event-log dirs inside the checkout,
    and the core count from the CPUs this process may use (``nproc``).
    Must run before the JVM starts."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM, the spark-submit launcher's too: temp files in the run
    # dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = []
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    args = _args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        _environment(run_dir, bool(args.trace))
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        try:
            import workloads
        except ImportError as exc:
            print(f"cannot import the program under test: {exc}", file=sys.stderr)
            return 2
        out = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run's directory is still there
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(trace_dir, exist_ok=True)
        out["tracer"].dump(os.path.join(
            trace_dir, f"spans-{args.workload}-{args.seed}.json"))
    # the sample count of each metric, then the result as the last line
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
