"""Per-layer metrics of a traced run, by module of the program.

``live`` runs while the session is up (probes, status tracker, sink and
txn directories, the single-core drain); ``from_event_log`` runs after
the session stops and the event log is complete. Every workload reports
every metric; a layer the workload does not run reads 0 (see NOTES.md).
"""

from __future__ import annotations

import os
import time

import gen
import streams
from measure import median, read_event_log

PIPELINE_METRICS = ("rows_per_s", "batch_ms_p50", "jobs_per_batch", "add_batch_ms",
                    "planning_ms", "offsets_ms", "wal_ms")
STATEFUL = ("dau", "alert", "sale_detail")
TXN_TABLES = {"neardup_sigs": ("neardup_gate", "index_sigs"),
              "neardup_bands": ("neardup_gate", "index_bands"),
              "quality_counts": ("quality_gate", "counts")}


def names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    out = [("session.start_ms", "ms"), ("session.jvm_gc_ms", "ms"),
           ("session.peak_rss_mb", "MB"),
           ("sources.load_table_ms", "ms"), ("sources.load_table_jobs", "count"),
           ("plans.jobs", "count"), ("plans.stages", "count"), ("plans.tasks", "count"),
           ("plans.build_ms", "ms"), ("plans.build_jobs", "count"), ("plans.action_ms", "ms"),
           ("operators.task_run_ms", "ms"), ("operators.task_cpu_ms", "ms"),
           ("operators.cpu_busy_share", "ratio"), ("operators.shuffle_read_bytes", "B"),
           ("operators.shuffle_write_bytes", "B"), ("operators.spill_bytes", "B")]
    units = {"rows_per_s": "rows/s", "jobs_per_batch": "count"}
    for p in streams.PIPELINES:
        out += [(f"pipelines.{p}.{m}", units.get(m, "ms")) for m in PIPELINE_METRICS]
        if p in STATEFUL:
            out += [(f"pipelines.{p}.state_rows", "count"),
                    (f"pipelines.{p}.state_commit_ms", "ms")]
        out.append((f"pipelines.{p}.rows_per_s_1core", "rows/s"))
    for t in streams.SERVING_TABLES:
        out += [(f"sinks.{t}.files", "count"), (f"sinks.{t}.bytes", "B")]
    for t in TXN_TABLES:
        out += [(f"txn.{t}.versions", "count"), (f"txn.{t}.files", "count")]
    for e in streams.ENDPOINTS:
        out += [(f"serving.{e}.ms_p50", "ms"), (f"serving.{e}.jobs_per_request", "count"),
                (f"serving.{e}.tasks_per_request", "count")]
    out.append(("trace.pass_s", "s"))
    return out


def _sources_probe(ctx) -> None:
    """Time one ``load_table`` call per fixture table."""
    from sparkstreaming_gmall_demo_spark.schemas import FIXTURE_TABLES
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

    fx = os.path.join(ctx.run_dir, "fixtures")
    if not os.path.isdir(fx):
        gen.write_fixtures(fx, 0.001, 42)
    gid = "probe:sources"
    ctx.group(gid)
    with ctx.tracer.span("load_table", "probe", group=gid):
        t0 = time.perf_counter()
        for t in FIXTURE_TABLES:
            load_table(ctx.spark, fx, t)
        ms = (time.perf_counter() - t0) * 1e3
    ctx.put("sources.load_table_ms", ms / len(FIXTURE_TABLES), "ms")
    ctx.put("sources.load_table_jobs", ctx.jobs_in(gid) / len(FIXTURE_TABLES), "count")


def _pipelines(ctx, result: dict, suffix: str = "") -> None:
    for name, r in result.items():
        prog = r["prog"]
        pre = f"pipelines.{name}."
        ctx.put(pre + "rows_per_s" + suffix,
                sum(p["rows"] for p in prog) / streams.drain_wall_s(prog), "rows/s")
        if suffix:
            continue

        def med(key, prog=prog):
            return median([p["durations"].get(key, 0.0) for p in prog])

        ctx.put(pre + "batch_ms_p50", med("triggerExecution"), "ms")
        ctx.put(pre + "add_batch_ms", med("addBatch"), "ms")
        ctx.put(pre + "planning_ms", med("queryPlanning"), "ms")
        ctx.put(pre + "offsets_ms", median([p["durations"].get("latestOffset", 0.0)
                                            + p["durations"].get("getBatch", 0.0)
                                            for p in prog]), "ms")
        ctx.put(pre + "wal_ms", med("walCommit"), "ms")
        if name in STATEFUL:
            ctx.put(pre + "state_rows", sum(s["rows"] for s in prog[-1]["state"]), "count")
            ctx.put(pre + "state_commit_ms",
                    median([sum(s["commit_ms"] for s in p["state"]) for p in prog]), "ms")


def _single_core(ctx) -> None:
    """Drain every pipeline once more in a 1-core session, for the
    core-scaling baseline beside the nproc-core rows/s."""
    from sparkstreaming_gmall_demo_spark.session import get_spark
    from sparkstreaming_gmall_demo_spark.streaming import pipelines
    from workloads import check_sinks, drain

    cores = os.environ["SPARK_GRAFT_CPUS"]
    pipelines.clear_dim_cache()  # its snapshot belongs to the session being stopped
    ctx.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        ctx.spark = get_spark("perfbench-1core")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        with ctx.tracer.span("single_core", "pass"):
            result = drain(ctx, ctx.dirs, ctx.order, "1core")
        check_sinks(ctx, ctx.dirs, result)
        for r in result.values():
            streams.remove(r["out"])
        _pipelines(ctx, {n: r for n, r in result.items() if "prog" in r}, "_1core")
    finally:
        pipelines.clear_dim_cache()
        os.environ["SPARK_GRAFT_CPUS"] = cores


def live(ctx) -> None:
    _sources_probe(ctx)
    if ctx.workload != "ingest":
        return
    result, endpoints = ctx.trace["result"], ctx.trace["endpoints"]
    _pipelines(ctx, {n: r for n, r in result.items() if "prog" in r})
    for t in streams.SERVING_TABLES:
        files, size = streams.table_files(os.path.join(result[t]["out"], "table"))
        ctx.put(f"sinks.{t}.files", files, "count")
        ctx.put(f"sinks.{t}.bytes", size, "B")
    for t, (pipe, sub) in TXN_TABLES.items():
        versions, files = streams.txn_stats(os.path.join(result[pipe]["out"], sub))
        ctx.put(f"txn.{t}.versions", versions, "count")
        ctx.put(f"txn.{t}.files", files, "count")
    for e, reqs in endpoints.items():
        ctx.put(f"serving.{e}.ms_p50", median([ms for ms, _g in reqs]), "ms")
        ctx.put(f"serving.{e}.jobs_per_request",
                sum(ctx.jobs_in(g) for _ms, g in reqs) / len(reqs), "count")
    for r in result.values():
        streams.remove(r["out"])
    _single_core(ctx)


def from_event_log(ctx, paths) -> None:
    jobs, tasks, stage_job = read_event_log(paths)
    group = {j.id: j.props.get("spark.jobGroup.id", "") for j in jobs}
    ctx.put("session.jvm_gc_ms", sum(t.gc_ms for t in tasks), "ms")
    w0, w1 = (x * 1e3 for x in ctx.window)
    in_window = [t for t in tasks if w0 <= t.launch_ms <= w1]
    n = ctx.passes
    ctx.put("operators.task_run_ms", sum(t.run_ms for t in in_window) / n, "ms")
    ctx.put("operators.task_cpu_ms", sum(t.cpu_ms for t in in_window) / n, "ms")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    ctx.put("operators.cpu_busy_share",
            sum(t.cpu_ms for t in in_window) / ((w1 - w0) * cores), "ratio")
    ctx.put("operators.shuffle_read_bytes", sum(t.shuffle_read for t in in_window) / n, "B")
    ctx.put("operators.shuffle_write_bytes", sum(t.shuffle_write for t in in_window) / n, "B")
    ctx.put("operators.spill_bytes", sum(t.spill for t in in_window) / n, "B")
    if ctx.workload == "registry":
        per_pass = []
        for i in range(n):
            ids = {j for j, g in group.items() if g.startswith(f"p{i}:")}
            ts = [t for t in tasks if stage_job.get(t.stage) in ids]
            per_pass.append((len(ids), len({t.stage for t in ts}), len(ts)))
        ctx.put("plans.jobs", median([p[0] for p in per_pass]), "count")
        ctx.put("plans.stages", median([p[1] for p in per_pass]), "count")
        ctx.put("plans.tasks", median([p[2] for p in per_pass]), "count")
    else:
        by_query: dict[str, int] = {}
        for j in jobs:
            qid = j.props.get("sql.streaming.queryId")
            if qid:
                by_query[qid] = by_query.get(qid, 0) + 1
        for name, r in ctx.trace["result"].items():
            if "prog" in r:
                ctx.put(f"pipelines.{name}.jobs_per_batch",
                        by_query.get(r["prog"][0]["query_id"], 0) / len(r["prog"]), "count")
        task_count: dict[str, int] = {}
        for t in tasks:
            g = group.get(stage_job.get(t.stage), "")
            task_count[g] = task_count.get(g, 0) + 1
        for e, reqs in ctx.trace["endpoints"].items():
            ctx.put(f"serving.{e}.tasks_per_request",
                    sum(task_count.get(g, 0) for _ms, g in reqs) / len(reqs), "count")
    for name, unit in names():
        ctx.layer.setdefault(name, (0.0, unit))
