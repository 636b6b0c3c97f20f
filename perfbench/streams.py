"""The ingest and serve workloads: staged topics, pipeline drains,
serving requests, and DuckDB checks of what they produce.

Every topic is staged as time-ordered parquet files read with
``maxFilesPerTrigger=1``, so a drain with ``availableNow`` runs one
micro-batch per file (plus the no-data batch a stateful query runs to
advance its watermark). Each drain writes into fresh directories, so no
state carries between passes.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkstreaming_gmall_demo_spark import serving
from sparkstreaming_gmall_demo_spark.streaming import pipelines, txn

# Topic schemas as the file sources read them.
SCHEMAS = {
    "events": "mid string, uid string, evid string, itemid string, event_ts timestamp",
    "sale_orders": "id string, user_id string, total_amount double, create_time string, "
                   "event_ts timestamp",
    "orders": "id string, user_id string, total_amount double, create_time string, "
              "event_ts timestamp",
    "details": "id string, order_id string, sku_id string, sku_name string, "
               "order_price double, sku_num long, event_ts timestamp",
    "docs": "doc_id long, text string, lang string, source string, n_chars long",
}
PIPELINES = ("dau", "gmv", "alert", "sale_detail", "quality_gate", "neardup_gate")
SERVING_TABLES = ("dau", "gmv", "sale_detail")


# Micro-batches per drain: one staged file per trigger, plus the
# no-data batch a stateful query (dau, alert, sale_detail) ends with.
# The latency metrics take each pipeline's median, so every pipeline
# needs only a few batches; the expensive ones get the fewest. A pass
# has 20: dau 4, alert 4, gmv 5, sale_detail 3, quality_gate 2,
# neardup_gate 2.
CHUNKS = {"events": 3, "orders": 5, "sale_orders": 2, "docs": 2}


def _cast_ts(table: pa.Table) -> pa.Table:
    if "event_ts" not in table.column_names:
        return table
    i = table.column_names.index("event_ts")
    return table.set_column(
        i, "event_ts", table.column("event_ts").cast(pa.timestamp("us", "UTC"))
    )


def _write_chunks(table: pa.Table, d: str, cut: list[int], now: float) -> None:
    os.makedirs(d)
    n = len(cut) - 1
    for c in range(n):
        p = os.path.join(d, f"chunk_{c:03d}.parquet")
        pq.write_table(table.slice(cut[c], cut[c + 1] - cut[c]), p)
        os.utime(p, (now - n + c, now - n + c))


def _even_cuts(rows: int, n: int) -> list[int]:
    step = -(-rows // n)
    return [min(c * step, rows) for c in range(n + 1)]


def stage(topics: dict[str, pa.Table], root: str, chunks: int | None = None) -> dict[str, str]:
    """Write each stream topic as ``CHUNKS[topic]`` time-ordered files
    (``chunks`` overrides every count) with increasing mtimes, and the
    user dimension as one file; returns the directory of each.
    ``orders`` is staged twice: for ``gmv``, and as ``sale_orders``
    beside ``details`` cut at the same order ids, so that a detail lands
    in the same micro-batch as its order (order ids are row numbers, see
    gen.topics)."""
    now = time.time()
    dirs = {name: os.path.join(root, name) for name in
            ("events", "orders", "sale_orders", "details", "docs", "users")}
    n = {k: chunks or v for k, v in CHUNKS.items()}
    t = {k: _cast_ts(v) for k, v in topics.items()}
    for name in ("events", "orders", "docs"):
        _write_chunks(t[name], dirs[name], _even_cuts(t[name].num_rows, n[name]), now)
    cut = _even_cuts(t["orders"].num_rows, n["sale_orders"])
    _write_chunks(t["orders"], dirs["sale_orders"], cut, now)
    order_ids = t["details"].column("order_id").to_numpy(zero_copy_only=False).astype(np.int64)
    _write_chunks(t["details"], dirs["details"],
                  [int(x) for x in np.searchsorted(order_ids, cut)], now)
    os.makedirs(dirs["users"])
    pq.write_table(t["users"], os.path.join(dirs["users"], "users.parquet"))
    return dirs


def _source(spark, dirs, topic):
    return (
        spark.readStream.schema(SCHEMAS[topic])
        .option("maxFilesPerTrigger", 1)
        .parquet(dirs[topic])
    )


def start(spark, name: str, dirs: dict[str, str], out: str):
    """Start pipeline ``name`` over the staged topics, writing under
    ``out``; returns the running query."""
    sink, ckpt = os.path.join(out, "table"), os.path.join(out, "ckpt")
    trig = {"availableNow": True}
    if name == "dau":
        return pipelines.dau_pipeline(_source(spark, dirs, "events"), sink, ckpt, trigger=trig)
    if name == "alert":
        return pipelines.alert_pipeline(_source(spark, dirs, "events"), sink, ckpt, trigger=trig)
    if name == "gmv":
        return pipelines.gmv_pipeline(_source(spark, dirs, "orders"), sink, ckpt, trigger=trig)
    if name == "sale_detail":
        return pipelines.sale_detail_pipeline(
            spark, _source(spark, dirs, "sale_orders"), _source(spark, dirs, "details"),
            os.path.join(dirs["users"], "users.parquet"), sink, ckpt, trigger=trig,
        )
    if name == "quality_gate":
        return pipelines.quality_gate_pipeline(
            _source(spark, dirs, "docs"), sink, os.path.join(out, "counts"), ckpt,
            trigger=trig,
        )
    if name == "neardup_gate":
        return pipelines.neardup_gate_pipeline(
            _source(spark, dirs, "docs"), os.path.join(out, "index"), sink, ckpt,
            trigger=trig,
        )
    raise ValueError(f"unknown pipeline {name!r}")


def drain_all(spark, names, dirs: dict[str, str], outs: dict[str, str],
              together: bool = False) -> dict[str, dict]:
    """Drain the pipelines one after another in the given order, or all
    at once when ``together``. Returns for each pipeline either
    ``{"prog": [...]}`` (every micro-batch's progress as a plain dict)
    or ``{"error": str}``."""
    queries, out = {}, {}
    for name in names:
        try:
            queries[name] = start(spark, name, dirs, outs[name])
        except Exception as exc:  # noqa: BLE001 - reported per pipeline
            out[name] = {"error": f"{type(exc).__name__}: {exc}"}
            continue
        if not together:
            out[name] = _finish(queries.pop(name))
    for name, q in queries.items():
        out[name] = _finish(q)
    return out


def _finish(q) -> dict:
    try:
        q.awaitTermination()
    except Exception:  # noqa: BLE001 - the query's exception is read below
        pass
    err = q.exception()
    if err is not None:
        return {"error": str(err)}
    return {"prog": [_progress_dict(p) for p in q.recentProgress]}


def drain_wall_s(prog: list[dict]) -> float:
    """Seconds from the first micro-batch's start to the last one's end."""
    def t(p):
        return _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    last = prog[-1]
    return t(last) + last["durations"].get("triggerExecution", 0) / 1e3 - t(prog[0])


def _progress_dict(p) -> dict:
    return {
        "query_id": str(p.id),
        "batch": p.batchId,
        "rows": p.numInputRows,
        "timestamp": p.timestamp,
        "durations": dict(p.durationMs),
        "state": [
            {"rows": s.numRowsTotal, "commit_ms": s.commitTimeMs} for s in p.stateOperators
        ],
    }


def table_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        if os.sep + "_" in root[len(path):]:
            continue
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def txn_stats(table: str) -> tuple[int, int]:
    """(committed versions, files in the current snapshot) of a txn table."""
    _version, files, _meta = txn.snapshot_info(table)
    return len(txn.list_versions(table)), len(files)


# -- DuckDB checks ------------------------------------------------------------

def _duck():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


def _glob(d: str) -> str:
    return f"read_parquet('{d}/*.parquet')"


def _sink(d: str) -> str:
    return f"read_parquet('{d}/**/*.parquet', hive_partitioning = true)"


def check(name: str, dirs: dict[str, str], out: str) -> str | None:
    """Compare a drained pipeline's sink with DuckDB over the same
    staged files; return a description of the first mismatch, or None."""
    sink = os.path.join(out, "table")
    con = _duck()
    try:
        if name == "dau":
            # first sighting of each device per day, at its earliest hour
            want = _rows(con, f"""
                SELECT mid, CAST(min(event_ts) AS DATE)::VARCHAR, hour(min(event_ts))
                FROM {_glob(dirs['events'])} GROUP BY mid, CAST(event_ts AS DATE)""")
            got = _rows(con, f"""
                SELECT mid, log_date::VARCHAR, CAST(log_hour AS INT) FROM {_sink(sink)}""")
        elif name == "gmv":
            want = _rows(con, f"""
                SELECT id, CAST(create_time AS TIMESTAMP)::DATE::VARCHAR,
                       hour(CAST(create_time AS TIMESTAMP)), total_amount
                FROM {_glob(dirs['orders'])}""")
            got = _rows(con, f"""
                SELECT id, create_date::VARCHAR, create_hour, total_amount
                FROM {_sink(sink)}""")
        elif name == "alert":
            # 5-minute windows closed by the final watermark (max event
            # time - 10 s) with >= 3 distinct coupon users and no click
            want = _rows(con, f"""
                WITH e AS (SELECT *, time_bucket(INTERVAL 5 MINUTE, event_ts) AS w
                           FROM {_glob(dirs['events'])}),
                     lim AS (SELECT max(event_ts) - INTERVAL 10 SECOND AS wm FROM e)
                SELECT CAST(w AS TIMESTAMP)::VARCHAR, mid FROM e, lim
                GROUP BY w, mid, wm
                HAVING count(DISTINCT CASE WHEN evid = 'coupon' THEN uid END) >= 3
                   AND max(CASE WHEN evid = 'clickItem' THEN 1 ELSE 0 END) = 0
                   AND w + INTERVAL 5 MINUTE <= wm""")
            got = _rows(con, f"SELECT CAST(window_start AS TIMESTAMP)::VARCHAR, mid FROM {_sink(sink)}")
            if not want:
                return "alert: the staged events close no alert window"
        elif name == "sale_detail":
            # one row per distinct detail id (ids repeat in real feeds;
            # the sink keys on them)
            want = _rows(con, f"SELECT DISTINCT id FROM {_glob(dirs['details'])}")
            got = _rows(con, f"""
                SELECT sale_detail_id FROM {_sink(sink)}
                WHERE sale_detail_id NOT LIKE 'order:%'""")
        elif name in ("quality_gate", "neardup_gate"):
            want = _rows(con, f"SELECT doc_id FROM {_glob(dirs['docs'])}")
            got = _rows(con, f"SELECT doc_id FROM {_sink(sink)}")
            if name == "neardup_gate":
                # admitted ids are distinct input ids, and not every
                # planted copy is admitted
                copies = set(_rows(con, f"""
                    SELECT doc_id FROM {_glob(dirs['docs'])} WHERE text LIKE '% dup'"""))
                if (len(set(got)) != len(got) or not set(got) <= set(want)
                        or not got or not copies or copies <= set(got)):
                    return f"neardup_gate: {len(got)} admitted of {len(want)}"
                return None
        else:
            raise ValueError(name)
    finally:
        con.close()
    if got != want:
        return f"{name}: {len(got)} sink rows vs {len(want)} expected"
    return None


# -- serving -------------------------------------------------------------------

ENDPOINTS = ("realtime_total", "realtime_hours", "sale_detail")


# The request shapes of one pass, four to an endpoint: every shape whose
# cost differs (the hours series of dau or of order amount; a selective
# or broad keyword, ordered by id or by score) appears once per pass, so
# an endpoint's median latency does not depend on which shapes the seed
# happened to draw.
REQUEST_SHAPES = (
    ("realtime_total",), ("realtime_total",), ("realtime_total",), ("realtime_total",),
    ("realtime_hours", "dau"), ("realtime_hours", "order_amount"),
    ("realtime_hours", "dau"), ("realtime_hours", "order_amount"),
    ("sale_detail", "selective", "id"), ("sale_detail", "selective", "score"),
    ("sale_detail", "broad", "id"), ("sale_detail", "broad", "score"),
)


def make_requests(rng, days: list[str], n_sku: int) -> list[tuple]:
    """One pass's dashboard requests: every shape of ``REQUEST_SHAPES``
    once, in seeded order, each with a seeded date; sale_detail with a
    seeded ``sku N`` keyword when selective (``sku`` when broad), page 1-3
    of size 5, 10 or 20."""
    out = []
    for i in rng.permutation(len(REQUEST_SHAPES)):
        shape = REQUEST_SHAPES[i]
        date = days[int(rng.integers(0, len(days)))]
        if shape[0] == "sale_detail":
            kw = f"sku {int(rng.integers(0, n_sku))}" if shape[1] == "selective" else "sku"
            out.append(("sale_detail", date, kw, int(rng.integers(1, 4)),
                        int(rng.choice([5, 10, 20])), shape[2]))
        else:
            out.append((shape[0], date) + shape[1:])
    return out


def warmup_requests(days: list[str]) -> list[tuple]:
    """One request down each code path of the serving layer, for set-up."""
    d = days[-1]
    return [("realtime_total", d), ("realtime_hours", d, "dau"),
            ("sale_detail", d, "sku 1", 1, 10, "id"), ("sale_detail", d, "sku", 1, 10, "score")]


def serve(tables: dict, req: tuple):
    """Answer one request from the serving frames."""
    if req[0] == "realtime_total":
        return serving.realtime_total(tables["dau"], tables["gmv"], req[1])
    if req[0] == "realtime_hours":
        return serving.realtime_hours(tables["dau"], tables["gmv"], req[2], req[1])
    _, date, kw, page, size, order = req
    return serving.sale_detail(tables["sale_detail"], date, kw, page, size, order=order)


class ServeOracle:
    """DuckDB answers to serving requests, over the serving tables'
    own files."""

    def __init__(self, paths: dict[str, str]):
        self.con = _duck()
        for t, p in paths.items():
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_sink(p)}")

    def close(self):
        self.con.close()

    def expected(self, req: tuple):
        c = self.con
        date = req[1]
        if req[0] == "realtime_total":
            dau = c.execute("SELECT count(*) FROM dau WHERE log_date = ?::DATE", [date]).fetchone()[0]
            amt = c.execute(
                "SELECT coalesce(sum(total_amount), 0) FROM gmv WHERE create_date = ?::DATE",
                [date]).fetchone()[0]
            return (dau, round(float(amt), 2))
        if req[0] == "realtime_hours":
            src, dcol, hcol, val = (
                ("dau", "log_date", "log_hour", "count(*)") if req[2] == "dau"
                else ("gmv", "create_date", "create_hour", "sum(total_amount)")
            )
            rows = c.execute(f"""
                SELECT CASE WHEN {dcol} = ?::DATE THEN 'today' ELSE 'yesterday' END,
                       lpad(CAST({hcol} AS VARCHAR), 2, '0'), {val}
                FROM {src}
                WHERE {dcol} = ?::DATE OR {dcol} = ?::DATE - INTERVAL 1 DAY
                GROUP BY ALL""", [date, date, date]).fetchall()
            return sorted((d, h, round(float(v), 2)) for d, h, v in rows)
        _, date, kw, page, size, order = req
        toks = kw.split()
        cond = " AND ".join(f"list_contains(toks, '{t}')" for t in toks)
        base = f"""
            WITH day AS (SELECT *, regexp_split_to_array(lower(sku_name), '[^a-z0-9]+') AS toks
                         FROM sale_detail WHERE dt = ?::DATE)"""
        if order == "id":
            sql = f"""{base} SELECT sale_detail_id FROM day WHERE {cond}
                      ORDER BY sale_detail_id LIMIT {size} OFFSET {(page - 1) * size}"""
        else:
            dfs = ", ".join(
                f"(SELECT count(*) FROM day WHERE list_contains(toks, '{t}')) AS df{i}"
                for i, t in enumerate(toks))
            score = " + ".join(
                f"len(list_filter(toks, x -> x = '{t}')) * (1000000 // df{i})"
                for i, t in enumerate(toks))
            sql = f"""{base} SELECT sale_detail_id FROM (
                          SELECT sale_detail_id, {score} AS s FROM day, (SELECT {dfs})
                          WHERE {cond})
                      ORDER BY s DESC, sale_detail_id LIMIT {size} OFFSET {(page - 1) * size}"""
        page_ids = [r[0] for r in c.execute(sql, [date]).fetchall()]
        total = c.execute(f"{base} SELECT count(*) FROM day WHERE {cond}", [date]).fetchone()[0]
        return (total, page_ids)


def observed(req: tuple, resp) -> tuple:
    """The part of an endpoint response the oracle recomputes."""
    if req[0] == "realtime_total":
        return (resp[0]["value"], round(float(resp[2]["value"]), 2))
    if req[0] == "realtime_hours":
        return sorted(
            (d, h, round(float(v), 2)) for d, m in resp.items() for h, v in m.items()
        )
    return (resp["total"], [r["sale_detail_id"] for r in resp["detail"]])


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
