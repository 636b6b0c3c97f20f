"""Measure every registry entry and compare the benchmark's slice with
the whole registry.

    python3 perfbench/registry_costs.py [--sweeps 3]

Runs all 154 entries over the benchmark's generated fixtures in one
fresh session, ``--sweeps`` times (the first cold), counting each
entry's Spark jobs through its job group. Writes every entry's cold
and warm seconds and job count to ``.perfbench_out/registry_costs.json``
and prints the share of jobs and warm time that ``REGISTRY_ENTRIES``
holds, and the ext entries' share of both in the slice and in the whole
registry. Run it again when the registry or the slice changes; the
slice should keep the whole registry's ext shares (NOTES.md). Takes
about five minutes on 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def shares(costs: dict[str, dict], names) -> dict:
    names = list(names)
    jobs = sum(costs[n]["jobs"] for n in names)
    warm = sum(costs[n]["warm_s"] for n in names)
    ext = [n for n in names if n.startswith("ext_")]
    return {
        "entries": len(names), "jobs": jobs, "warm_s": round(warm, 2),
        "ext_share_of_jobs": round(sum(costs[n]["jobs"] for n in ext) / jobs, 3),
        "ext_share_of_warm_s": round(sum(costs[n]["warm_s"] for n in ext) / warm, 3),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sweeps", type=int, default=3)
    args = ap.parse_args(argv)
    if args.sweeps < 2:
        ap.error("--sweeps must be at least 2 (one cold, one warm)")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import run
    import workloads
    from measure import median

    run_dir = os.path.join(ROOT, ".perfbench_run", f"costs-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        run._environment(run_dir, False)
        from sparkstreaming_gmall_demo_spark.plans import REGISTRY
        from sparkstreaming_gmall_demo_spark.session import get_spark

        fx = os.path.join(run_dir, "fixtures")
        gen.write_fixtures(fx, workloads.REGISTRY_SCALE, workloads.DATA_SEED)
        spark = get_spark("perfbench-costs")
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        times: dict[str, list[float]] = {n: [] for n in REGISTRY}
        jobs: dict[str, int] = {}
        for sweep in range(args.sweeps):
            for name, spec in REGISTRY.items():
                gid = f"{sweep}:{name}"
                sc.setJobGroup(gid, gid)
                t0 = time.perf_counter()
                (spec.bench_build or spec.build)(spark, fx).collect()
                times[name].append(time.perf_counter() - t0)
                jobs[name] = len(sc.statusTracker().getJobIdsForGroup(gid))
            print(f"sweep {sweep}: {sum(t[-1] for t in times.values()):.1f} s", file=sys.stderr)
        spark.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run's directory is still there
    costs = {n: {"cold_s": round(t[0], 3), "warm_s": round(median(t[1:]), 3), "jobs": jobs[n]}
             for n, t in times.items()}
    out = {"registry": shares(costs, costs),
           "slice": shares(costs, workloads.REGISTRY_ENTRIES),
           "entries": costs}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "registry_costs.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("registry", "slice")}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
