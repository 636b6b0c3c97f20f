"""The two workloads and the metrics read from them.

Each run starts a fresh Spark session, sets up (inputs, a warm-up),
then measures a fixed number of passes, each a fixed amount of work:

- ``registry``: every entry of ``REGISTRY_ENTRIES`` once, in an order
  drawn from the seed, timing ``bench_build or build`` plus ``collect``;
  each result's digest is checked after the pass;
- ``ingest``: a drain of every pipeline in ``streams.PIPELINES`` over
  topics generated from the seed, in an order drawn from the seed, then
  one request of each shape in ``streams.REQUEST_SHAPES`` from one
  waiting client against the serving tables the drain wrote; after the
  pass every sink and every response is checked against DuckDB.

An operation is an entry, a micro-batch (its ``triggerExecution``) or
a request. Operations are grouped into components (an entry, one
pipeline's batches, one endpoint's requests) and the latency metrics
weight every component the same (``measure.op_latency``).
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import math
import os
import random
import time

import numpy as np

import gen
import layers
import measure
import streams
from measure import Tracer, median, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))

# Registry inputs are fixed (the seed orders the entries), so expected
# result digests are computed once from each entry's DuckDB oracle by
# make_digests.py and stored in digests.json.
REGISTRY_SCALE = 0.01
DATA_SEED = 42
# A fixed slice of the registry: the full 154-entry sweep takes about
# 75 s warm and 135 s cold at this scale on 4 cores, more than a whole
# run may take. The slice is stratified on a warm sweep of all 154
# entries over these fixtures (NOTES.md): the two entries with the most
# Spark jobs (pagerank, 33; the connected-components histogram, 27),
# six further ext entries and four core entries drawn evenly from each
# group ranked by job count, and the prefix-filtered containment pair
# kernel. It holds about a tenth of the sweep's jobs and warm time, with
# the same ext share of both (jobs 0.84 against 0.82, time 0.86 against
# 0.84).
REGISTRY_ENTRIES = (
    "ext_nation_pagerank",
    "ext_dup_cluster_histogram",
    "ext_kcenter_coreset",
    "ext_bpe_train",
    "ext_training_shards",
    "ext_deterministic_sample",
    "ext_scd2_history",
    "ext_decode_stub",
    "ext_containment_pairs_filtered",
    "q16_brand_revenue",
    "q29_topk_per_type",
    "q24_corpus_cube",
    "q9_keyword_search",
)
# Set-up runs the slice this many times before measuring. The first
# (cold) pass compiles every plan and takes about 2.5 times as long as
# a warm one; the first measured pass is still about 10% slower than
# later ones, the same share on both commits of a comparison, and a
# second warm-up pass would not fit the run's time budget.
REGISTRY_WARM_PASSES = 1
STREAM_SCALE = 0.01
DAYS = [str(d) for d in np.datetime64(gen.STREAM_START, "D") + np.arange(gen.STREAM_DAYS)]
# Nominal warm pass length; a run measures round(seconds / nominal)
# passes, at least MIN_PASSES, so the sample count (and with it the
# reported tail percentile) is fixed for a given --seconds.
NOMINAL_PASS_S = {"registry": 7.5, "ingest": 30.0}
MIN_PASSES = {"registry": 2, "ingest": 1}


class Context:
    """One run: seed, tracer, scratch dir, session and tallies."""

    def __init__(self, workload, seed, seconds, traced, run_dir):
        self.workload, self.seed, self.traced, self.run_dir = workload, seed, traced, run_dir
        self.passes = max(MIN_PASSES[workload], round(seconds / NOMINAL_PASS_S[workload]))
        self.tracer = Tracer(traced)
        self.rng = random.Random(seed)
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, tuple[float, str]] = {}

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(msg[:300])

    def put(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def group(self, gid: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def jobs_in(self, gid: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))


def _start_session(ctx: Context) -> float:
    from sparkstreaming_gmall_demo_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session", "session"):
        ctx.spark = get_spark("perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.spark.range(1).collect()
    return time.perf_counter() - t0


def _stop_session(ctx: Context) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _peak_rss_mb(ctx: Context) -> float:
    jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


# -- registry ---------------------------------------------------------------------

def _registry(ctx: Context) -> dict:
    from sparkstreaming_gmall_demo_spark.plans import REGISTRY
    from tests.oracle_harness import canon_rows

    fx = os.path.join(ctx.run_dir, "fixtures")
    with ctx.tracer.span("inputs", "setup"):
        gen.write_fixtures(fx, REGISTRY_SCALE, DATA_SEED)
    with open(os.path.join(HERE, "digests.json")) as f:
        expected = json.load(f)["entries"]
    specs = [(n, REGISTRY[n]) for n in REGISTRY_ENTRIES]
    with ctx.tracer.span("warmup", "setup"):
        for _ in range(REGISTRY_WARM_PASSES):
            for _name, spec in specs:
                (spec.bench_build or spec.build)(ctx.spark, fx).collect()
    ctx.setup_end = time.perf_counter()
    stats = {"build_ms": 0.0, "action_ms": 0.0, "build_jobs": 0}

    def entry(name, fn, gid, timed: bool = True):
        """Build and collect one entry; returns its milliseconds and
        its result (columns, rows), None if it failed."""
        ctx.group(gid)
        ctx.attempted += 1
        with ctx.tracer.span(name, "entry", group=gid):
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("build", "build"):
                    df = fn(ctx.spark, fx)
                t1 = time.perf_counter()
                build_jobs = ctx.jobs_in(gid) if ctx.traced else 0
                with ctx.tracer.span("action", "action"):
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failing entry is counted
                ctx.fail(f"{name}: {type(exc).__name__}: {exc}")
                return (time.perf_counter() - t0) * 1e3, None
        if timed:
            stats["build_ms"] += (t1 - t0) * 1e3
            stats["action_ms"] += (t2 - t1) * 1e3
            stats["build_jobs"] += build_jobs
        return (t2 - t0) * 1e3, (df.columns, rows)

    def check(name, out) -> None:
        if out is not None and measure.digest_rows(*out, canon_rows) != expected[name]:
            ctx.fail(f"{name}: result digest differs from the oracle's")

    passes, ops = [], {name: [] for name, _spec in specs}
    ctx.window = (time.time(), None)
    for i in range(ctx.passes):
        order = list(specs)
        ctx.rng.shuffle(order)
        results = []
        with ctx.tracer.span(f"pass{i}", "pass"):
            t0 = time.perf_counter()
            for name, spec in order:
                ms, out = entry(name, spec.bench_build or spec.build, f"p{i}:{name}")
                ops[name].append(ms)
                if spec.bench_build is None:
                    results.append((name, out))
            passes.append(time.perf_counter() - t0)
        for name, out in results:
            check(name, out)
    ctx.window = (ctx.window[0], time.time())
    # entries timed through bench_build: their declared build, once, untimed
    for name, spec in specs:
        if spec.bench_build is not None:
            check(name, entry(name, spec.build, f"check:{name}", timed=False)[1])
    if ctx.traced:
        ctx.put("plans.build_ms", stats["build_ms"] / ctx.passes, "ms")
        ctx.put("plans.action_ms", stats["action_ms"] / ctx.passes, "ms")
        ctx.put("plans.build_jobs", stats["build_jobs"] / ctx.passes, "count")
    return {"passes": passes, "ops": ops}


# -- ingest ---------------------------------------------------------------------

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets")


def drain(ctx: Context, dirs, order, tag: str, warmup: bool = False) -> dict[str, dict]:
    """Drain every pipeline into ``out/<tag>-<name>``, one after another
    (all at once for the warm-up, which is not measured), and count each
    micro-batch as an operation. Returns the drain of each pipeline: its
    ``out`` dir and, unless it failed, its progress ``prog``."""
    outs = {n: os.path.join(ctx.run_dir, "out", f"{tag}-{n}") for n in order}
    result = streams.drain_all(ctx.spark, order, dirs, outs, together=warmup)
    for name, r in result.items():
        r["out"] = outs[name]
        if "error" in r:
            ctx.attempted += 1
            ctx.fail(f"{name}: {r['error']}")
        else:
            ctx.attempted += len(r["prog"])
    return result


def check_sinks(ctx: Context, dirs, result: dict[str, dict]) -> None:
    """Check every drained sink against DuckDB; a wrong sink fails all
    of its micro-batches."""
    for name, r in result.items():
        bad = streams.check(name, dirs, r["out"]) if "prog" in r else None
        if bad:
            ctx.fail(bad, len(r["prog"]))


def _progress_start(p: dict) -> float:
    """A progress event's start on the perf_counter clock."""
    wall = _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return wall - (time.time() - time.perf_counter())


def _batch_spans(ctx: Context, parent, prog) -> None:
    """Micro-batch spans with their progress phases as children."""
    for p in prog:
        t = _progress_start(p)
        d = p["durations"]
        batch = ctx.tracer.add(f"batch{p['batch']}", "batch", t,
                               t + d.get("triggerExecution", 0) / 1e3, parent)
        for ph in PHASES:
            if ph in d:
                ctx.tracer.add(ph, "phase", t, t + d[ph] / 1e3, batch)
                t += d[ph] / 1e3


def _serve(ctx: Context, tables: dict[str, str], requests: list[tuple]) -> list[tuple]:
    """Closed-loop requests over the serving tables, one after another.
    Returns each answered request with its answer, milliseconds and job
    group."""
    frames = {t: ctx.spark.read.parquet(p) for t, p in tables.items()}
    answered = []
    for i, req in enumerate(requests):
        gid = f"{tables['dau']}:{i}"
        ctx.group(gid)
        ctx.attempted += 1
        with ctx.tracer.span(req[0], "request", group=gid):
            t0 = time.perf_counter()
            try:
                resp = streams.serve(frames, req)
            except Exception as exc:  # noqa: BLE001 - a failed request is counted
                ctx.fail(f"{req}: {type(exc).__name__}: {exc}")
                continue
            ms = (time.perf_counter() - t0) * 1e3
        answered.append((req, streams.observed(req, resp), ms, gid))
    return answered


def check_answers(ctx: Context, tables: dict[str, str], answered) -> None:
    """Compare each answer with DuckDB's over the same files."""
    oracle = streams.ServeOracle(tables)
    try:
        for req, got, _ms, _gid in answered:
            want = oracle.expected(req)
            if got != want:
                ctx.fail(f"{req}: got {got!r:.100} want {want!r:.100}")
    finally:
        oracle.close()


def _ingest_pass(ctx: Context, dirs, order, tag: str, req_rng) -> tuple[float, dict]:
    """One timed drain plus requests, then their checks; returns the
    pass's wall seconds and the latencies of its operations by component."""
    t0 = time.perf_counter()
    with ctx.tracer.span("drain", "drain") as sp:
        result = drain(ctx, dirs, order, tag)
    tables = {t: os.path.join(result[t]["out"], "table") for t in streams.SERVING_TABLES}
    with ctx.tracer.span("serve", "serve"):
        answered = _serve(ctx, tables, streams.make_requests(
            req_rng, DAYS, gen.n_skus(STREAM_SCALE)))
    wall = time.perf_counter() - t0
    check_sinks(ctx, dirs, result)
    check_answers(ctx, tables, answered)
    ops = {name: [p["durations"].get("triggerExecution", 0.0) for p in r["prog"]]
           for name, r in result.items() if "prog" in r}
    for req, _got, ms, _gid in answered:
        ops.setdefault(f"serving.{req[0]}", []).append(ms)
    if ctx.traced:
        for name, r in result.items():
            if "prog" in r:
                start = _progress_start(r["prog"][0])
                parent = ctx.tracer.add(name, "pipeline", start,
                                        start + streams.drain_wall_s(r["prog"]), sp)
                _batch_spans(ctx, parent, r["prog"])
        endpoints = {}
        for req, _got, ms, gid in answered:
            endpoints.setdefault(req[0], []).append((ms, gid))
        ctx.trace = {"result": result, "endpoints": endpoints}
    else:
        for r in result.values():
            streams.remove(r["out"])
    return wall, ops


def _ingest(ctx: Context) -> dict:
    with ctx.tracer.span("inputs", "setup"):
        dirs = streams.stage(gen.topics(STREAM_SCALE, ctx.seed),
                             os.path.join(ctx.run_dir, "topics"))
        warm = streams.stage(gen.topics(STREAM_SCALE / 10, ctx.seed + 1),
                             os.path.join(ctx.run_dir, "warm"), chunks=1)
    order = list(streams.PIPELINES)
    ctx.rng.shuffle(order)
    with ctx.tracer.span("warmup", "setup"):
        # every pipeline's first (compiling) batches, then a few requests
        # over the tables they wrote
        result = drain(ctx, warm, order, "warm", warmup=True)
        tables = {t: os.path.join(result[t]["out"], "table") for t in streams.SERVING_TABLES}
        _serve(ctx, tables, streams.warmup_requests(DAYS))
    ctx.setup_end = time.perf_counter()
    req_rng = np.random.default_rng(ctx.seed)
    passes, ops = [], {}
    ctx.window = (time.time(), None)
    for i in range(ctx.passes):
        with ctx.tracer.span(f"pass{i}", "pass"):
            wall, pass_ops = _ingest_pass(ctx, dirs, order, f"p{i}", req_rng)
        passes.append(wall)
        for c, v in pass_ops.items():
            ops.setdefault(c, []).extend(v)
    ctx.window = (ctx.window[0], time.time())
    ctx.dirs, ctx.order = dirs, order
    return {"passes": passes, "ops": ops}


RUNNERS = {"registry": _registry, "ingest": _ingest}


def run(workload: str, seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    """Run one workload; return the result object (and spans if traced)."""
    ctx = Context(workload, seed, seconds, traced, run_dir)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("run", "run"):
            start_s = _start_session(ctx)
            with ctx.tracer.span(workload, "workload"):
                res = RUNNERS[workload](ctx)
            peak = _peak_rss_mb(ctx)
            if traced:
                layers.live(ctx)
    finally:
        _stop_session(ctx)
    n_ops = sum(len(v) for v in res["ops"].values())
    tail = tail_percentile(n_ops)
    if tail is None:
        raise ValueError(f"{n_ops} operations are too few for a tail percentile")
    op_p50, op_tail = measure.op_latency(res["ops"], tail)
    if traced:
        ctx.put("session.start_ms", start_s * 1e3, "ms")
        ctx.put("session.peak_rss_mb", peak, "MB")
        ctx.put("trace.pass_s", median(res["passes"]), "s")
        # Spark 4 writes each application's log as a directory of
        # rolled ``events_*`` files beside an ``appstatus_*`` marker
        logs = sorted(glob.glob(os.path.join(run_dir, "events", "*", "events_*")))
        layers.from_event_log(ctx, logs)
        metrics = {n: ctx.layer[n] for n, _unit in layers.names()}
        samples = {"self_ms_by_span_kind": {
            k: round(v, 1) for k, v in ctx.tracer.self_ms_by_kind().items()}}
    else:
        metrics = {
            "setup_s": (ctx.setup_end - t0, "s"),
            "pass_s": (median(res["passes"]), "s"),
            "op_ms_p50": (op_p50, "ms"),
            "op_ms_tail": (op_tail, "ms"),
        }
        samples = {"setup_s": 1, "pass_s": len(res["passes"]), "op_ms_p50": n_ops,
                   "op_ms_tail": n_ops, "components": len(res["ops"])}
    if any(math.isnan(v) for v, _u in metrics.values()):
        ctx.fail("a metric could not be measured")
    return {
        "result": {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
        "detail": {"samples": samples, "tail_percentile": tail,
                   "pass_s": [round(p, 3) for p in res["passes"]],
                   "component_ms_p50": {c: round(median(v), 1)
                                        for c, v in res["ops"].items() if v},
                   "errors": ctx.errors},
        "tracer": ctx.tracer,
    }
