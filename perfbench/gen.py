"""Deterministic fixture generator for the benchmark.

Writes the ten batch tables the registry reads (``region`` ...
``embeddings``) as one parquet file each, with the column names, types
and value shapes FIXTURES.md section B describes: uniform TPC-H-ish dimensions, orders over 1995-01-01 ..
2001-08-01, events over 2024-01-01 .. 2024-01-30, a 30-word document
vocabulary with 5% near-duplicate copies, and unit-norm 64-d
embeddings. The benchmark runs in a checkout that holds no fixtures,
so it makes its own; the same ``seed`` and ``scale`` always give the
same bytes of data.

``scale`` follows the fixtures' scale factor: 0.01 gives 60,000
lineitem rows, 15,000 orders and 10,000 events.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
ORDERS_START = _dt.datetime(1995, 1, 1)
ORDERS_DAYS = 2404  # last order date 2001-08-01
SHIP_START = _dt.datetime(1995, 1, 2)
SHIP_DAYS = 2498
EVENTS_START = _dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 10**6


def _days(start: _dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Documents over the 30-word vocabulary; every 20th from the 20th
    on is an earlier document plus " dup", half of those in the
    original's language so that same-language near-duplicate pairs
    exist."""
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if i % 20 == 19:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            langs.append(langs[j] if rng.random() < 0.5 else lang)
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
            langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables at ``scale``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_orders
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _days(ORDERS_START, rng.integers(0, ORDERS_DAYS + 1, n_orders)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(SHIP_START, rng.integers(0, SHIP_DAYS + 1, n_line)),
    })
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64(EVENTS_START, "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write_fixtures(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


STREAM_START = _dt.datetime(2024, 1, 1)
STREAM_DAYS = 4
EVIDS = ["coupon", "clickItem", "addCart", "addFavor", "view"]


def n_orders(scale: float) -> int:
    return max(500, int(150_000 * scale))


def n_skus(scale: float) -> int:
    return max(100, n_orders(scale) // 10)


def topics(scale: float, seed: int) -> dict[str, pa.Table]:
    """The stream topics the ingest workload replays, in the
    parsed shapes the pipelines take (FIXTURES.md section A), every row
    stamped ``event_ts`` over ``STREAM_DAYS`` days so that all topics
    share their dates:

    - ``events``: device events (mid, uid, evid, itemid) feeding ``dau``
      and ``alert``, with planted coupon bursts of 3-4 distinct users on
      one device, half of them vetoed by a clickItem;
    - ``orders`` and ``details``: order_info and order_detail, 1-4
      details per order sharing its event time; ``sku_name`` is
      ``sku-<n>`` so a keyword ``sku <n>`` is selective and ``sku`` is
      broad;
    - ``users``: the user dimension, covering every order's user;
    - ``docs``: documents as in :func:`tables`, 5% near-dup copies.
    """
    rng = np.random.default_rng(seed)
    span_us = STREAM_DAYS * 86_400 * 10**6
    base = np.datetime64(STREAM_START, "us")
    n_ev = max(2_000, int(1_000_000 * scale))
    n_mid = max(50, n_ev // 20)
    n_users = max(50, n_ev // 10)
    ev_ts = rng.integers(0, span_us, n_ev)
    mids = rng.integers(0, n_mid, n_ev)
    uids = rng.integers(0, n_users, n_ev)
    evid = rng.integers(0, len(EVIDS), n_ev)
    n_burst = max(20, n_ev // 100)
    b_ts, b_mid, b_uid, b_evid = [], [], [], []
    for i in range(n_burst):
        t0 = int(rng.integers(0, span_us - 600 * 10**6))
        m = int(rng.integers(0, n_mid))
        users = rng.choice(n_users, int(rng.integers(3, 5)), replace=False)
        for u in users:
            b_ts.append(t0 + int(rng.integers(0, 60 * 10**6)))
            b_mid.append(m)
            b_uid.append(int(u))
            b_evid.append(0)
        if i % 2:
            b_ts.append(t0 + int(rng.integers(0, 60 * 10**6)))
            b_mid.append(m)
            b_uid.append(int(users[0]))
            b_evid.append(1)
    ev_ts = np.concatenate([ev_ts, np.array(b_ts, np.int64)])
    order = np.argsort(ev_ts, kind="stable")
    mids = np.concatenate([mids, np.array(b_mid, np.int64)])[order]
    uids = np.concatenate([uids, np.array(b_uid, np.int64)])[order]
    evid = np.concatenate([evid, np.array(b_evid, np.int64)])[order]
    ev_ts = ev_ts[order]
    out: dict[str, pa.Table] = {}
    out["events"] = pa.table({
        "mid": [f"mid_{m}" for m in mids],
        "uid": [str(u) for u in uids],
        "evid": [EVIDS[e] for e in evid],
        "itemid": [str(i) for i in rng.integers(0, 500, len(ev_ts))],
        "event_ts": pa.array(base + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
    })

    n_ord = n_orders(scale)
    n_sku = n_skus(scale)
    o_ts = np.sort(rng.integers(0, span_us // 10**6, n_ord)) * 10**6
    o_time = base + o_ts.astype("timedelta64[us]")
    o_user = rng.integers(0, n_users, n_ord)
    out["orders"] = pa.table({
        "id": [str(i) for i in range(n_ord)],
        "user_id": [str(u) for u in o_user],
        "total_amount": np.round(rng.uniform(10.0, 5_000.0, n_ord), 2),
        "create_time": [str(t).replace("T", " ")[:19] for t in o_time.astype("datetime64[s]")],
        "event_ts": pa.array(o_time, pa.timestamp("us")),
    })
    per = rng.integers(1, 5, n_ord)
    d_order = np.repeat(np.arange(n_ord), per)
    d_line = np.concatenate([np.arange(1, k + 1) for k in per])
    d_sku = rng.integers(0, n_sku, len(d_order))
    d_num = rng.integers(1, 6, len(d_order))
    out["details"] = pa.table({
        "id": [f"{o}-{ln}" for o, ln in zip(d_order, d_line)],
        "order_id": [str(o) for o in d_order],
        "sku_id": [str(s) for s in d_sku],
        "sku_name": [f"sku-{s}" for s in d_sku],
        "order_price": np.round(rng.uniform(1.0, 1_000.0, len(d_order)), 2),
        "sku_num": pa.array(d_num, pa.int64()),
        "event_ts": pa.array(o_time[d_order], pa.timestamp("us")),
    })
    birth_year = rng.integers(1960, 2012, n_users)
    out["users"] = pa.table({
        "id": [str(i) for i in range(n_users)],
        "gender": [("M", "F")[g] for g in rng.integers(0, 2, n_users)],
        "user_level": [str(v) for v in rng.integers(1, 4, n_users)],
        "birthday": [f"{y}-03-20" for y in birth_year],
    })
    out["docs"] = _documents(rng, max(60, int(6_000 * scale)))
    return out
