"""Seeded input generator for the three workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical parquet files. Inputs are cached per seed under
the work directory, so the cost of generating them never lands in a
timed region or in ``setup_s``. Each cache directory carries an
``inputs.json`` that records the input properties the workload's
behaviour depends on and the reason the workload exists.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated inputs change shape, so stale caches are
#: never reused
GEN_VERSION = 11

UTC = dt.timezone.utc
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# ingest: two phases of micro-batches, one input file per batch. A
# micro-batch costs 0.5-1.5 s at local[4], mostly per-batch overhead,
# so a phase has 10 batches: one drain pair fills a 20 s run. The sinks'
# default compaction cadence (COMPACT_EVERY = 16 committed batches) does
# not fire inside a drain, and lowering it below 10 would show in the
# batch latency
INGEST_BATCHES = 10
DAU_EVENTS_PER_BATCH = 10_000
DAU_MIDS = 20_000
DAU_ZIPF_A = 1.3
DAU_ENTRY_SHARE = 1 / 3
DAU_LATE_SHARE = 0.01
ORDERS_PER_BATCH = 1_000
ORDER_ORPHAN_SHARE = 0.02
WARM_ROWS = 500
#: first batch that may carry marked-late events. Spark filters late
#: rows with the watermark as of two batches back (max event time of
#: batches < b-1, minus 25 h); from here on it sits >= 1 h past the
#: late events' 0-2 h stamps
LATE_FROM = next(
    b for b in range(INGEST_BATCHES)
    if (b - 1) * 2 * 86_400 / INGEST_BATCHES >= (25 + 2 + 1) * 3_600
)
N_CUSTOMERS = 15_000  # sf0.1 dim sizes
N_PARTS = 20_000
PART_ZIPF_A = 1.2

# serve: stores bootstrapped before timing, then the writer commits one
# batch to each store at each WRITE_AT share of the run's seconds while
# Poisson requests arrive
SERVE_DAYS = ["2024-01-13", "2024-01-14", "2024-01-15"]
SERVE_BOOT_BATCHES = 1
#: late in the run, so at most a quarter of the requests queue behind
#: the folds that follow a commit; the backlog shows in the run's wall
#: time (the throughput) and in the p99
WRITE_AT = (0.75,)
SERVE_DAU_ROWS_PER_BATCH = 2_000
SERVE_ITEM_ROWS_PER_BATCH = 4_000
#: offered request rate; see README.md for the measured capacity it
#: sits below
SERVE_RATE_PER_S = 200.0
SERVE_MAX_SECONDS = 60
SERVE_DAU_SHARE = 0.3
TERM_ZIPF_A = 1.5
SERVE_TERMS = 2

# analytics: a small warehouse in the table layout the registry
# queries read (``sf_dir/<table>.parquet``)
WH_EVENTS = 10_000
WH_USERS = 1_500
WH_CUSTOMERS = 1_500
WH_SUPPLIERS = 100
WH_PARTS = 1_500
WH_ORDERS = 7_500
WH_LINEITEMS = 30_000
WH_VECTORS = 500
EMB_DIM = 64

WHY = {
    "ingest": (
        "closed-loop AvailableNow drains through the DAU dedup and the "
        "order-wide join: stream state, sinks and store commits do the "
        "work, serving and the registry plans do none"
    ),
    "serve": (
        "open-loop Poisson requests against the store-backed endpoints "
        "while a writer commits micro-batches: cache hits, store folds "
        "after each commit, and queueing behind them"
    ),
    "analytics": (
        "one noop-sink pass over 13 registry queries: plan building and "
        "Spark execution, mixing launch-bound, build-bound and "
        "shuffle-bound queries, no HTTP"
    ),
}


def _write(table: pa.Table, path: str, mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


#: the file source orders a backlog by modification time: stamp batch
#: files a second apart so the arrival order is the file order
_MTIME0 = 1_700_000_000


def _zipf_index(rng: np.random.Generator, a: float, n: int, size: int) -> np.ndarray:
    """Zipf-distributed indexes in [0, n): rank r has weight 1/r^a; a
    seeded permutation decouples popularity from id order."""
    w = 1.0 / np.arange(1, n + 1) ** a
    ranks = rng.choice(n, size=size, p=w / w.sum())
    return rng.permutation(n)[ranks]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = int(base.timestamp() * 1e6) + np.round(seconds * 1e6).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def _money(rng: np.random.Generator, lo: int, hi: int, size: int) -> np.ndarray:
    """2-decimal amounts drawn as whole cents, so ``round(x * 100)``
    recovers the cents exactly in every engine."""
    return rng.integers(lo, hi, size=size) / 100.0


def _part_names(rng: np.random.Generator, n: int) -> list[str]:
    return [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": _money(rng, -99_999, 1_000_000, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def part_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": _part_names(rng, n),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [["ECONOMY", "LARGE", "SMALL", "STANDARD"][i] for i in rng.integers(0, 4, n)],
        "p_size": pa.array(rng.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })


def gen_ingest(root: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    day0 = dt.datetime(2024, 3, 1, tzinfo=UTC)
    span = 2 * 86_400 / INGEST_BATCHES  # event-time seconds per batch
    n_late = 0
    eid = 0
    for b in range(INGEST_BATCHES):
        n = DAU_EVENTS_PER_BATCH
        mids = _zipf_index(rng, DAU_ZIPF_A, DAU_MIDS, n)
        secs = b * span + rng.uniform(0, span, n)
        entry = rng.random(n) < DAU_ENTRY_SHARE
        # marked-late events: session entries stamped in the first two
        # hours of day 1, shipped only in batches whose late-event
        # watermark is already past them
        late = np.zeros(n, dtype=bool)
        if b >= LATE_FROM:
            late = rng.random(n) < DAU_LATE_SHARE * INGEST_BATCHES / (INGEST_BATCHES - LATE_FROM)
            secs = np.where(late, rng.uniform(0, 7_200, n), secs)
            entry |= late
            n_late += int(late.sum())
        order = np.argsort(secs, kind="stable")
        last_page = [None if e else f"page_{p}" for e, p in zip(entry, rng.integers(0, 10, n))]
        tbl = pa.table({
            "event_id": np.arange(eid, eid + n, dtype=np.int64),
            "mid": [f"mid_{m}" for m in mids],
            "last_page_id": pa.array(last_page, type=pa.string()),
            "page_id": [f"page_{p}" for p in rng.integers(0, 10, n)],
            "event_time": _ts(day0, secs),
            "late": late,
        }).take(pa.array(order))
        eid += n
        _write(tbl.drop_columns(["late"]), os.path.join(root, "dau", f"part-{b:05d}.parquet"), _MTIME0 + b)
        _write(tbl.filter(tbl["late"]).select(["event_id"]), os.path.join(root, "dau_late", f"part-{b:05d}.parquet"))

    _write(customer_table(rng, N_CUSTOMERS), os.path.join(root, "customer.parquet"))
    _write(part_table(rng, N_PARTS), os.path.join(root, "part.parquet"))
    n_orders = ORDERS_PER_BATCH * INGEST_BATCHES
    o_secs = np.sort(rng.uniform(0, 2 * 86_400 - 4 * 3_600, n_orders))
    o_ids = np.arange(n_orders, dtype=np.int64)
    n_lines = rng.integers(1, 5, n_orders)
    d_order = np.repeat(o_ids, n_lines)
    n_det = len(d_order)
    orphan = rng.random(n_det) < ORDER_ORPHAN_SHARE
    d_order = np.where(orphan, d_order + 10 * n_orders, d_order)
    d_secs = np.repeat(o_secs, n_lines) + rng.uniform(0, 3 * 3_600, n_det)
    info = pa.table({
        "id": o_ids,
        "user_id": _zipf_index(rng, 1.1, N_CUSTOMERS, n_orders).astype(np.int64),
        "order_status": [str(1001 + i) for i in rng.integers(0, 6, n_orders)],
        "total_amount": _money(rng, 100, 5_000_000, n_orders),
        "event_time": _ts(day0, o_secs),
    })
    detail = pa.table({
        "id": np.arange(n_det, dtype=np.int64),
        "order_id": d_order,
        "sku_id": _zipf_index(rng, PART_ZIPF_A, N_PARTS, n_det).astype(np.int64),
        "sku_num": rng.integers(1, 6, n_det),
        "split_total_amount": _money(rng, 100, 1_000_000, n_det),
        "event_time": _ts(day0, d_secs),
    })
    # one file per batch per side, cut on event time so files arrive in
    # event-time order and details trail their orders by up to 3 h
    for name, tbl, secs in (("order_info", info, o_secs), ("order_detail", detail, d_secs)):
        idx = np.minimum((secs // span).astype(int), INGEST_BATCHES - 1)
        order = np.argsort(secs, kind="stable")
        tbl, idx = tbl.take(pa.array(order)), idx[order]
        for b in range(INGEST_BATCHES):
            part = tbl.filter(pa.array(idx == b))
            _write(part, os.path.join(root, name, f"part-{b:05d}.parquet"), _MTIME0 + b)
    # a small slice of the first batch of each stream for the set-up
    # step's warm-up drains
    for name in ("dau", "order_info", "order_detail"):
        first = pq.read_table(os.path.join(root, name, "part-00000.parquet"))
        _write(first.slice(0, WARM_ROWS), os.path.join(root, "warm", name, "part-00000.parquet"))

    n_dau = INGEST_BATCHES * DAU_EVENTS_PER_BATCH
    return {
        "batches_per_phase": INGEST_BATCHES,
        "max_files_per_trigger": 1,
        "dau": {
            "events": n_dau,
            "events_per_batch": DAU_EVENTS_PER_BATCH,
            "mids": DAU_MIDS,
            "mid_zipf_a": DAU_ZIPF_A,
            "session_entry_share": DAU_ENTRY_SHARE,
            "late_events": n_late,
            "late_share": round(n_late / n_dau, 5),
            "event_time_span_h": 48,
            "watermark": "25 hours",
        },
        "order": {
            "order_info_rows": n_orders,
            "order_detail_rows": n_det,
            "orphan_detail_share": ORDER_ORPHAN_SHARE,
            "detail_lag_h_max": 3,
            "part_zipf_a": PART_ZIPF_A,
            "customers": N_CUSTOMERS,
            "parts": N_PARTS,
        },
        "events_total": n_dau + n_orders + n_det,
    }


def gen_serve(root: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    cust = customer_table(rng, N_CUSTOMERS)
    parts = part_table(rng, N_PARTS)
    p_names = parts["p_name"].to_pylist()
    acct = cust["c_acctbal"].to_numpy()
    segs = cust["c_mktsegment"].to_pylist()
    n_batches = SERVE_BOOT_BATCHES + len(WRITE_AT)
    # DAU rows are already deduped (the store holds one row per
    # (mid, dt)): each day draws its mids without replacement
    pools = {d: rng.permutation(10 * SERVE_DAU_ROWS_PER_BATCH * n_batches) for d in SERVE_DAYS}
    used = {d: 0 for d in SERVE_DAYS}
    for b in range(n_batches):
        days = rng.integers(0, len(SERVE_DAYS), SERVE_DAU_ROWS_PER_BATCH)
        mids, dts, secs = [], [], []
        for i, d in enumerate(SERVE_DAYS):
            k = int((days == i).sum())
            mids += [f"mid_{m}" for m in pools[d][used[d]:used[d] + k]]
            used[d] += k
            dts += [d] * k
            base = dt.datetime.fromisoformat(d).replace(tzinfo=UTC)
            secs.append(int(base.timestamp()) + rng.uniform(0, 86_400, k))
        _write(pa.table({
            "mid": mids,
            "last_page_id": pa.array([None] * len(mids), type=pa.string()),
            "event_time": pa.array((np.concatenate(secs) * 1e6).astype(np.int64), type=pa.timestamp("us", tz="UTC")),
            "dt": dts,
        }), os.path.join(root, "dau", f"part-{b:05d}.parquet"))
        pk = _zipf_index(rng, PART_ZIPF_A, N_PARTS, SERVE_ITEM_ROWS_PER_BATCH)
        ck = rng.integers(0, N_CUSTOMERS, SERVE_ITEM_ROWS_PER_BATCH)
        bal = acct[ck]
        _write(pa.table({
            "p_partkey": pk.astype(np.int64),
            "p_name": [p_names[p] for p in pk],
            "segment": [segs[c] for c in ck],
            "band": np.where(bal < 2000, "low", np.where(bal <= 6000, "mid", "high")).tolist(),
            "cents": rng.integers(100, 1_000_000, SERVE_ITEM_ROWS_PER_BATCH).astype(np.int64),
        }), os.path.join(root, "item", f"part-{b:05d}.parquet"))

    # open-loop schedule: Poisson arrivals at a fixed rate, request keys
    # Zipf-popular over the item terms
    n_req = int(SERVE_RATE_PER_S * SERVE_MAX_SECONDS)
    due = np.cumsum(rng.exponential(1.0 / SERVE_RATE_PER_S, n_req))
    words = NOUN[:SERVE_TERMS]
    terms = _zipf_index(rng, TERM_ZIPF_A, len(words), n_req)
    is_dau = rng.random(n_req) < SERVE_DAU_SHARE
    days = rng.integers(1, len(SERVE_DAYS), n_req)  # td with a stored yd
    group = rng.integers(0, 2, n_req)
    paths = [
        f"/dauRealtime?td={SERVE_DAYS[d]}" if dau
        else f"/statsByItem?itemName={words[t]}&t={('segment', 'band')[g]}"
        for dau, d, t, g in zip(is_dau, days, terms, group)
    ]
    _write(pa.table({"due_s": due, "path": paths}), os.path.join(root, "requests.parquet"))
    return {
        "rate_per_s": SERVE_RATE_PER_S,
        "arrivals": "poisson",
        "dau_request_share": SERVE_DAU_SHARE,
        "item_terms": len(words),
        "term_zipf_a": TERM_ZIPF_A,
        "distinct_request_keys": len(set(paths)),
        "stored_days": SERVE_DAYS,
        "bootstrap_batches": SERVE_BOOT_BATCHES,
        "write_at_share_of_run": list(WRITE_AT),
        "dau_rows_per_batch": SERVE_DAU_ROWS_PER_BATCH,
        "item_rows_per_batch": SERVE_ITEM_ROWS_PER_BATCH,
    }


def gen_analytics(root: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    wh = os.path.join(root, "wh")
    jan = dt.datetime(2024, 1, 1, tzinfo=UTC)
    n = WH_EVENTS
    _write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        # naive micros, like the warehouse's timestamp[us] tables
        "ts": pa.array(np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + int(jan.timestamp() * 1e6), type=pa.timestamp("us")),
        "user_id": rng.integers(0, WH_USERS, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": _money(rng, 0, 20_000, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }), os.path.join(wh, "events.parquet"))
    _write(pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(wh, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }), os.path.join(wh, "nation.parquet"))
    _write(customer_table(rng, WH_CUSTOMERS), os.path.join(wh, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": np.arange(WH_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(WH_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, WH_SUPPLIERS), type=pa.int32()),
        "s_acctbal": _money(rng, -99_999, 1_000_000, WH_SUPPLIERS),
    }), os.path.join(wh, "supplier.parquet"))
    _write(part_table(rng, WH_PARTS), os.path.join(wh, "part.parquet"))
    day = 86_400_000_000
    base95 = int(dt.datetime(1995, 1, 1, tzinfo=UTC).timestamp() * 1e6)
    odays = rng.integers(0, 2404, WH_ORDERS)
    _write(pa.table({
        "o_orderkey": np.arange(WH_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, WH_CUSTOMERS, WH_ORDERS).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, WH_ORDERS)],
        "o_totalprice": _money(rng, 100_000, 50_000_000, WH_ORDERS),
        "o_orderdate": pa.array(base95 + odays * day, type=pa.timestamp("us")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i] for i in rng.integers(0, 5, WH_ORDERS)],
    }), os.path.join(wh, "orders.parquet"))
    m = WH_LINEITEMS
    _write(pa.table({
        "l_orderkey": rng.integers(0, WH_ORDERS, m).astype(np.int64),
        "l_partkey": rng.integers(0, WH_PARTS, m).astype(np.int64),
        "l_suppkey": rng.integers(0, WH_SUPPLIERS, m).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": pa.array(base95 + (rng.integers(0, 2404, m) + 30) * day, type=pa.timestamp("us")),
    }), os.path.join(wh, "lineitem.parquet"))
    labels = rng.integers(0, 10, WH_VECTORS)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + 0.6 * rng.normal(size=(WH_VECTORS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(WH_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    }), os.path.join(wh, "embeddings.parquet"))
    return {
        "tables": {
            "events": WH_EVENTS, "customer": WH_CUSTOMERS, "part": WH_PARTS,
            "orders": WH_ORDERS, "lineitem": WH_LINEITEMS,
            "embeddings": WH_VECTORS, "supplier": WH_SUPPLIERS,
        },
        "event_days": 30,
        "users": WH_USERS,
        "embedding_dim": EMB_DIM,
    }


GENERATORS = {"ingest": gen_ingest, "serve": gen_serve, "analytics": gen_analytics}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, recorded properties), generating on a miss.
    Generation writes into a scratch dir and renames it into place, so
    an interrupted run never leaves a half-written cache entry."""
    path = os.path.join(cache_root, f"{workload}-seed{seed}-v{GEN_VERSION}")
    meta = os.path.join(path, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = {
        "workload": workload,
        "seed": seed,
        "why": WHY[workload],
        "properties": GENERATORS[workload](tmp, seed),
    }
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(props, f, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, props
