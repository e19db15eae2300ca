"""The three workloads. Each drives the engine only through its public
functions and has the same shape:

- ``prepare(rep)``: one complete set-up step. ``run.py`` repeats it and
  reports the median as part of ``setup_s``; the last repetition's
  state is the one measured;
- ``measure(seconds)``: the timed region;
- ``check()``: output checks against DuckDB, untimed;
- ``units()``: the work done in ``measure``, in the workload's unit;
  ``untimed_cpu`` is CPU time spent inside ``measure`` that is not the
  program's (load generation, checks), in ``Context.cpu_parts`` parts;
- ``e2e()`` / ``layers()``: wall-time rates and latencies, and the
  per-layer values.

``ctx`` carries the session, tracer, inputs and scratch directories
(see ``run.py``).
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import threading
import time

import duckdb

from . import gen
from .trace import SPAN_PROP, geomean, median, percentile


def _progress(q) -> list[dict]:
    """The query's progress events as dicts (PySpark returns objects
    with a ``json`` property or plain dicts, depending on version)."""
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _p50(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def _unit_e2e(throughput_per_s: float, samples_ms: list[float]) -> dict:
    """One workload's unit of work: its wall-time throughput, and the
    median and geometric mean of the per-unit latency (all per-layer
    metrics; the end-to-end cost is ``cpu_ms_per_unit``, see run.py)."""
    return {
        "throughput_per_s": throughput_per_s,
        "latency_ms.p50": median(samples_ms),
        "latency_ms.geomean": geomean([max(x, 1e-3) for x in samples_ms]),
    }


def _duck(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, glob in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    return con


def _dir_stats(path: str) -> tuple[int, float]:
    dirs, size = 0, 0
    for dp, dn, fns in os.walk(path):
        dirs += len(dn)
        size += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return dirs, size / 1e6


class _TimedSink:
    """Wraps a sink callable: times each call, notes whether the call
    advanced the store's compaction manifest, and labels the Spark jobs
    it launches (traced runs) through a thread-local property."""

    def __init__(self, ctx, sink, store: str, label: str):
        self.ctx, self.sink, self.store, self.label = ctx, sink, store, label
        self.calls: list[tuple[float, bool]] = []

    def __call__(self, df, batch_id: int) -> None:
        from sparkstreaming_realtime_spark.streaming.store import load_manifest

        if self.ctx.tracer.enabled:
            df.sparkSession.sparkContext.setLocalProperty(SPAN_PROP, self.label)
        gen0 = (load_manifest(self.store) or {}).get("gen", -1)
        t0 = time.perf_counter()
        with self.ctx.tracer.span(self.label, batch=batch_id):
            self.sink(df, batch_id)
        dt = time.perf_counter() - t0
        self.calls.append((dt, (load_manifest(self.store) or {}).get("gen", -1) != gen0))


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest:
    """Closed loop: AvailableNow drains (``maxFilesPerTrigger=1``) over
    the generated backlog, the DAU phase then the order phase, repeated
    until the run's seconds are spent (at least once)."""

    name = "ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.drains: list[dict] = []
        self.untimed_cpu: dict[str, float] = {}

    def _drain(self, phase: str, src: str, tag: str, setup: bool = False) -> dict:
        from pyspark.sql import functions as F

        from sparkstreaming_realtime_spark.functions.money import money_units
        from sparkstreaming_realtime_spark.serving import ITEM_STATS_KEYS
        from sparkstreaming_realtime_spark.streaming import (
            idempotent_parquet_sink,
            rollup_sum_sink,
            run_available_now,
            streaming_dau_dedup,
            streaming_order_wide,
        )

        ctx, spark = self.ctx, self.ctx.spark
        root = ctx.scratch(f"{phase}-{tag}")
        store = os.path.join(root, "store")

        def stream(sub: str):
            path = os.path.join(src, sub)
            return (
                spark.readStream.schema(spark.read.parquet(path).schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(path)
            )

        # both sinks run at the store's default compaction cadence
        if phase == "dau":
            page_log = stream("dau").select("mid", "last_page_id", "event_time")
            df = streaming_dau_dedup(page_log)
            sink = idempotent_parquet_sink(store, key_cols=("mid", "dt"), partition_col="dt")
        else:
            wide = streaming_order_wide(stream("order_info"), stream("order_detail"))
            cust = spark.read.parquet(os.path.join(ctx.inputs, "customer.parquet"))
            part = spark.read.parquet(os.path.join(ctx.inputs, "part.parquet"))
            band = (
                F.when(F.col("c_acctbal") < 2000, "low")
                .when(F.col("c_acctbal") <= 6000, "mid")
                .otherwise("high")
            )
            df = (
                wide.join(cust, wide.user_id == cust.c_custkey)
                .join(part, wide.sku_id == part.p_partkey)
                .select(
                    "p_partkey", "p_name",
                    F.col("c_mktsegment").alias("segment"),
                    band.alias("band"),
                    money_units(F.col("split_total_amount"), 2).alias("cents"),
                )
            )
            sink = rollup_sum_sink(store, key_cols=ITEM_STATS_KEYS, value_col="cents")
        # set-up drains carry their own label, so the measured sinks'
        # job counts are per measured batch
        timed = _TimedSink(ctx, sink, store, f"{'setup.' if setup else ''}sink.{phase}")
        t0 = time.time()
        with ctx.tracer.span(f"ingest.{phase}"):
            q = run_available_now(
                df, timed, os.path.join(root, "ckpt"), query_name=f"bench_{phase}_{tag}"
            )
            q.awaitTermination()
        t1 = time.time()
        if q.exception() is not None:
            raise RuntimeError(f"{phase} drain failed: {q.exception()}")
        batches = [p for p in _progress(q) if p.get("numInputRows", 0) > 0]
        return {
            "phase": phase, "store": store, "start": t0, "end": t1,
            "batches": batches, "sink_calls": timed.calls,
            "events": sum(p["numInputRows"] for p in batches),
        }

    def prepare(self, rep: int) -> None:
        """Warm-up drains of both phases over a small slice of the
        first batch, into stores of their own."""
        for phase in ("dau", "order"):
            self._drain(phase, os.path.join(self.ctx.inputs, "warm"), f"warm{rep}", setup=True)

    def measure(self, seconds: float) -> None:
        """One DAU + order drain pair, then another while the last
        pair's wall time still fits in the seconds left."""
        t0 = time.time()
        pair_s = 0.0
        while not self.drains or time.time() - t0 + pair_s <= seconds:
            t = time.time()
            for phase in ("dau", "order"):
                self.drains.append(self._drain(phase, self.ctx.inputs, f"m{len(self.drains)}"))
            pair_s = time.time() - t
        self.wall_s = sum(d["end"] - d["start"] for d in self.drains)

    def _round_ms(self) -> list[float]:
        """Per trigger round: batch i of a DAU drain plus batch i of
        the order drain that follows it (one trigger of each app)."""
        out = []
        for dau, order in zip(self.drains[::2], self.drains[1::2]):
            for a, b in zip(dau["batches"], order["batches"]):
                out.append(a["durationMs"]["triggerExecution"] + b["durationMs"]["triggerExecution"])
        return out

    def check(self) -> tuple[int, int, list[str]]:
        from sparkstreaming_realtime_spark.serving import ITEM_STATS_KEYS
        from sparkstreaming_realtime_spark.streaming.sinks import (
            read_rollup_sum,
            read_sink,
        )

        spark, src = self.ctx.spark, self.ctx.inputs
        con = _duck({
            "dau": f"{src}/dau/*.parquet", "late": f"{src}/dau_late/*.parquet",
            "info": f"{src}/order_info/*.parquet", "detail": f"{src}/order_detail/*.parquet",
            "customer": f"{src}/customer.parquet", "part": f"{src}/part.parquet",
        })
        want_dau = sorted(con.execute("""
            SELECT DISTINCT mid, strftime(make_timestamp(epoch_us(event_time)), '%Y-%m-%d')
            FROM dau WHERE last_page_id IS NULL
              AND event_id NOT IN (SELECT event_id FROM late)""").fetchall())
        want_items = sorted(con.execute("""
            SELECT p.p_partkey, p.p_name, c.c_mktsegment,
                   CASE WHEN c.c_acctbal < 2000 THEN 'low'
                        WHEN c.c_acctbal <= 6000 THEN 'mid' ELSE 'high' END,
                   sum(round(d.split_total_amount * 100)::BIGINT)
            FROM detail d JOIN info i ON i.id = d.order_id
             AND d.event_time BETWEEN i.event_time - INTERVAL 24 HOUR
                                  AND i.event_time + INTERVAL 24 HOUR
            JOIN customer c ON c.c_custkey = i.user_id
            JOIN part p ON p.p_partkey = d.sku_id
            GROUP BY 1, 2, 3, 4""").fetchall())
        n_late = self.ctx.props["properties"]["dau"]["late_events"]
        attempted = failed = 0
        problems = []
        for d in self.drains:
            n = len(d["batches"])
            attempted += n
            if d["phase"] == "dau":
                got = sorted(
                    (r[0], str(r[1]))
                    for r in read_sink(spark, d["store"]).select("mid", "dt").collect()
                )
                bad = []
                if got != want_dau:
                    bad.append(f"DAU (mid, dt) rows {len(got)} != oracle {len(want_dau)}")
                if _dropped_late(d) != n_late:
                    bad.append(f"rows dropped late {_dropped_late(d)} != generated {n_late}")
            else:
                got = sorted(
                    tuple(r) for r in read_rollup_sum(
                        spark, d["store"], ITEM_STATS_KEYS, "cents").collect()
                )
                bad = [] if got == want_items else [
                    f"item rollup {len(got)} rows != oracle {len(want_items)}"]
            if bad:
                failed += n
                problems += bad
        return attempted, failed, problems

    def units(self) -> float:
        """Thousands of input events committed."""
        return sum(d["events"] for d in self.drains) / 1000

    def e2e(self) -> dict:
        """Unit of work: one trigger round. Throughput is the mean
        input events per round over the median round time, so a stall
        in one round or in a query's start or stop does not move it
        (``events_per_s`` divides by the drains' whole wall time)."""
        rounds = self._round_ms()
        events_per_round = sum(d["events"] for d in self.drains) / len(rounds)
        return _unit_e2e(events_per_round / (median(rounds) / 1000), rounds)

    def layers(self) -> dict:
        m: dict[str, float] = {
            "events_per_s": sum(d["events"] for d in self.drains) / self.wall_s,
        }
        for phase in ("dau", "order"):
            ds = [d for d in self.drains if d["phase"] == phase]
            ps = [p for d in ds for p in d["batches"]]
            dur = lambda k: [p["durationMs"].get(k, 0) for p in ps]  # noqa: E731
            ops = [op for p in ps for op in p.get("stateOperators", [])[:1]]
            m[f"{phase}_batch_ms.p50"] = _p50(dur("triggerExecution"))
            m[f"source.{phase}.latest_offset_ms.p50"] = _p50(dur("latestOffset"))
            m[f"source.{phase}.get_batch_ms.p50"] = _p50(dur("getBatch"))
            m[f"stream.{phase}.query_planning_ms.p50"] = _p50(dur("queryPlanning"))
            m[f"stream.{phase}.add_batch_ms.p50"] = _p50(dur("addBatch"))
            m[f"stream.{phase}.wal_commit_ms.p50"] = _p50(dur("walCommit"))
            m[f"stream.{phase}.commit_offsets_ms.p50"] = _p50(dur("commitOffsets"))
            m[f"state.{phase}.rows_total"] = ds[-1]["batches"][-1]["stateOperators"][0]["numRowsTotal"]
            m[f"state.{phase}.memory_mb"] = max(op.get("memoryUsedBytes", 0) for op in ops) / 1e6
            m[f"state.{phase}.commit_ms.p50"] = _p50([op.get("commitTimeMs", 0) for op in ops])
            m[f"state.{phase}.rows_dropped_late"] = median([_dropped_late(d) for d in ds])
            calls = [c for d in ds for c in d["sink_calls"]]
            m[f"sink.{phase}.write_ms.p50"] = _p50([c[0] * 1000 for c in calls])
        compact = [c[0] * 1000 for d in self.drains for c in d["sink_calls"] if c[1]]
        m["store.compactions"] = len(compact)
        m["store.compact_batch_ms.p50"] = _p50(compact)
        dirs, mb = zip(*(_dir_stats(d["store"]) for d in self.drains[-2:]))
        m["store.dirs_end"], m["store.mb_end"] = sum(dirs), sum(mb)
        return m

    def windows(self) -> list[tuple[str, float, float]]:
        return [(f"ingest_{d['phase']}", d["start"], d["end"]) for d in self.drains]

    def samples(self) -> dict:
        """Per drain: ``triggerExecution`` of each batch and wall time."""
        return {
            "drains": [
                {"phase": d["phase"], "wall_s": d["end"] - d["start"],
                 "batch_ms": [p["durationMs"]["triggerExecution"] for p in d["batches"]]}
                for d in self.drains
            ],
        }

    def sink_batches(self) -> dict[str, int]:
        return {
            f"sink.{ph}": sum(len(d["sink_calls"]) for d in self.drains if d["phase"] == ph)
            for ph in ("dau", "order")
        }


def _dropped_late(drain: dict) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in drain["batches"] for op in p.get("stateOperators", [])
    )


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


#: client threads sending the open-loop schedule: at most ``nproc``
CLIENT_THREADS = min(4, len(os.sched_getaffinity(0)))


class Serve:
    """Open loop: Poisson arrivals at a fixed rate from
    :data:`CLIENT_THREADS` client threads against ``serving.serve`` over
    the two stores, while a writer commits one micro-batch to each
    store at each of ``gen.WRITE_AT`` (shares of the run's seconds)."""

    name = "serve"

    def __init__(self, ctx):
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.server = None
        self.results: list[tuple] = []
        self.writes: list[float] = []
        self.committed = 0
        self.untimed_cpu: dict[str, float] = {}
        reqs = pq.read_table(os.path.join(ctx.inputs, "requests.parquet"))
        self.schedule = list(zip(reqs["due_s"].to_pylist(), reqs["path"].to_pylist()))

    def _batch(self, kind: str, i: int):
        return self.ctx.spark.read.parquet(
            os.path.join(self.ctx.inputs, kind, f"part-{i:05d}.parquet"))

    def _write(self, i: int, label: str) -> None:
        sc = self.ctx.spark.sparkContext
        with self.ctx.tracer.span(label, batch=i):
            if self.ctx.tracer.enabled:
                sc.setLocalProperty(SPAN_PROP, label)
            try:
                self.dau_sink(self._batch("dau", i), i)
                self.item_sink(self._batch("item", i), i)
            finally:
                sc.setLocalProperty(SPAN_PROP, None)

    def _get(self, path: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.server.server_address[1], timeout=120)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def prepare(self, rep: int) -> None:
        """Bootstrap two fresh stores through the sink callables (store
        default compaction cadence), start a server over them and send
        one request per distinct key, so the response cache is full
        when timing starts."""
        from sparkstreaming_realtime_spark.serving import ITEM_STATS_KEYS, serve
        from sparkstreaming_realtime_spark.streaming import (
            idempotent_parquet_sink,
            rollup_sum_sink,
        )

        self.close()
        root = self.ctx.scratch(f"serve-{rep}")
        self.dau_store = os.path.join(root, "dau_store")
        self.item_store = os.path.join(root, "item_store")
        self.dau_sink = idempotent_parquet_sink(
            self.dau_store, key_cols=("mid", "dt"), partition_col="dt")
        self.item_sink = rollup_sum_sink(
            self.item_store, key_cols=ITEM_STATS_KEYS, value_col="cents")
        for i in range(gen.SERVE_BOOT_BATCHES):
            self._write(i, "setup.serve.write")
        self.committed = gen.SERVE_BOOT_BATCHES
        self.server, _ = serve(
            self.ctx.spark, self.ctx.inputs, port=0,
            dau_store=self.dau_store, item_store=self.item_store)
        for path in sorted({p for _, p in self.schedule}):
            self._get(path)

    def measure(self, seconds: float) -> None:
        sched = [(d, p) for d, p in self.schedule if d < seconds]
        if len(sched) == len(self.schedule):
            raise ValueError(f"--seconds {seconds} exceeds the generated schedule")
        work: queue.Queue = queue.Queue()
        for item in sched:
            work.put(item)
        t0 = time.time() + 0.2

        client_cpu: list[float] = []

        def client() -> None:
            while True:
                try:
                    due, path = work.get_nowait()
                except queue.Empty:
                    client_cpu.append(time.thread_time())
                    return
                due_at = t0 + due
                delay = due_at - time.time()
                if delay > 0:
                    time.sleep(delay)
                sent = time.time()
                code, body = self._get(path)
                self.results.append((path, due_at, sent, time.time(), code))

        def writer() -> None:
            for k, share in enumerate(gen.WRITE_AT):
                time.sleep(max(0.0, t0 + share * seconds - time.time()))
                i = gen.SERVE_BOOT_BATCHES + k
                t = time.perf_counter()
                self._write(i, "serve.write")
                self.writes.append(time.perf_counter() - t)
                self.committed = i + 1

        threads = [threading.Thread(target=client) for _ in range(CLIENT_THREADS)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.wall_s = max(r[3] for r in self.results) - t0
        self.t0 = t0
        self.untimed_cpu = {"python": sum(client_cpu)}

    def check(self) -> tuple[int, int, list[str]]:
        attempted = len(self.results)
        failed = sum(1 for r in self.results if r[4] != 200)
        problems = [f"{failed} non-200 responses"] if failed else []
        n = self.committed
        src = self.ctx.inputs
        con = duckdb.connect()
        files = lambda kind: [f"{src}/{kind}/part-{i:05d}.parquet" for i in range(n)]  # noqa: E731
        con.execute(f"CREATE VIEW dau AS SELECT * FROM read_parquet({files('dau')!r})")
        con.execute(f"CREATE VIEW item AS SELECT * FROM read_parquet({files('item')!r})")
        for path in sorted({r[0] for r in self.results}):
            code, body = self._get(path)
            attempted += 1
            got = json.loads(body) if code == 200 else None
            if path.startswith("/dauRealtime"):
                td = path.split("td=")[1]
                rows = con.execute("""
                    SELECT dt, strftime(make_timestamp(epoch_us(event_time)), '%H'), count(*)
                    FROM dau WHERE dt IN (?, strftime(?::DATE - 1, '%Y-%m-%d'))
                    GROUP BY 1, 2""", [td, td]).fetchall()
                tdh = {h: c for d, h, c in rows if d == td}
                want = {
                    "dauTotal": sum(tdh.values()), "dauTd": tdh,
                    "dauYd": {h: c for d, h, c in rows if d != td},
                }
            else:
                qs = dict(kv.split("=") for kv in path.split("?")[1].split("&"))
                col = {"segment": "segment", "band": "band"}[qs["t"]]
                want = [
                    {"name": name, "amount": amount}
                    for name, amount in con.execute(f"""
                        SELECT {col}, sum(cents)::DOUBLE / 100.0 FROM item
                        WHERE list_contains(string_split_regex(lower(trim(p_name)), '[^a-z0-9]+'), ?)
                        GROUP BY 1 ORDER BY 1""", [qs["itemName"]]).fetchall()
                ]
            if got != want:
                failed += 1
                problems.append(f"final response differs from oracle: {path}")
        return attempted, failed, problems

    def _latency_ms(self) -> list[float]:
        """Per 200 response: from when the request was due to when its
        response was read."""
        return [(r[3] - r[1]) * 1000 for r in self.results if r[4] == 200]

    def units(self) -> float:
        """Requests answered with 200."""
        return len(self._latency_ms())

    def e2e(self) -> dict:
        """Unit of work: one request; throughput counts 200 responses."""
        lat = self._latency_ms()
        return _unit_e2e(len(lat) / self.wall_s, lat)

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def layers(self) -> dict:
        tr = self.ctx.tracer
        handler = [x * 1000 for x in tr.durations("serve.handler")]
        folds = [x * 1000 for x in tr.durations("serve.fold")]
        service = [(r[3] - r[2]) * 1000 for r in self.results]
        lag = [(r[2] - r[1]) * 1000 for r in self.results]
        return {
            "latency_ms.p99": percentile(self._latency_ms(), 99),
            "serve.handler_ms.p50": _p50(handler),
            "serve.http_overhead_ms.p50": _p50(service) - _p50(handler),
            "serve.miss_ratio": len(folds) / max(1, len(self.results)),
            "serve.fold_ms.p50": _p50(folds),
            "serve.fold_ms.max": max(folds, default=0.0),
            "serve.write_ms.p50": _p50([w * 1000 for w in self.writes]),
            "serve.generator_lag_ms.p99": percentile(lag, 99),
            "store.dirs_end": _dir_stats(self.dau_store)[0] + _dir_stats(self.item_store)[0],
            "store.mb_end": _dir_stats(self.dau_store)[1] + _dir_stats(self.item_store)[1],
        }

    def windows(self) -> list[tuple[str, float, float]]:
        return [("serve", self.t0, self.t0 + self.wall_s)]

    def samples(self) -> dict:
        return {"wall_s": self.wall_s, "writes_s": self.writes}

    def instrument(self) -> None:
        """Traced runs: time the handler and the store folds by wrapping
        the serving module's public functions the request handler looks
        up at call time; fold jobs carry a thread-local label."""
        from sparkstreaming_realtime_spark import serving

        tr, spark = self.ctx.tracer, self.ctx.spark

        def wrap(fn, name, label=False):
            def inner(*a, **kw):
                if label:
                    spark.sparkContext.setLocalProperty(SPAN_PROP, name)
                with tr.span(name):
                    return fn(*a, **kw)
            return inner

        for f in ("dau_realtime_cached", "stats_by_item_cached"):
            setattr(serving, f, wrap(getattr(serving, f), "serve.handler"))
        for f in ("dau_realtime_from_store", "stats_by_item_from_store"):
            setattr(serving, f, wrap(getattr(serving, f), "serve.fold", label=True))


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

ANALYTICS_QUERIES = [
    # the reference surface: small queries on the job-launch floor
    "dau_by_hour", "session_entry_first_daily", "hourly_window_rollup",
    "order_wide_join", "stats_by_item_segment", "log_split_page",
    "cdc_dim_snapshot", "dau_enriched", "dau_realtime_endpoint",
    # the costliest paths: streaming parities (work inside the query
    # function), the shuffle-bound triangles, the Arrow-assign outlier
    "streaming_copurchase_parity", "streaming_transition_parity",
    "part_copurchase_triangles", "emb_cells_arrow_assign",
]
TARGET_QUERIES = ANALYTICS_QUERIES[9:]
WARMUP_QUERY = "dau_by_hour"


class Analytics:
    """Closed loop, one client: noop-sink passes over the registry
    queries until the run's seconds are spent (at least one pass)."""

    name = "analytics"

    def __init__(self, ctx):
        self.ctx = ctx
        self.passes: list[dict[str, tuple[float, float, float]]] = []
        self.hash_ok: dict[str, bool] = {}
        self.untimed_cpu: dict[str, float] = {}

    @property
    def wh(self) -> str:
        return os.path.join(self.ctx.inputs, "wh")

    def prepare(self, rep: int) -> None:
        """Build the query registry and run one small query."""
        from sparkstreaming_realtime_spark.plans import queries

        self.qs = queries()
        self.qs[WARMUP_QUERY](self.ctx.spark, self.wh).write.format("noop").mode("overwrite").save()

    def _check_query(self, name: str, df) -> None:
        from scripts.check_oracle import table_hash

        from sparkstreaming_realtime_spark.plans import oracle_sql

        rows = [tuple(r) for r in df.collect()]
        cur = self.con.execute(oracle_sql()[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        self.hash_ok[name] = (
            sorted(df.columns) == sorted(ocols)
            and len(rows) == len(orows)
            and table_hash(df.columns, rows) == table_hash(ocols, orows)
        )

    def measure(self, seconds: float) -> None:
        self.con = _duck({
            t: os.path.join(self.wh, f"{t}.parquet")
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "embeddings")
        })
        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = time.time()
        while not self.passes or time.time() - t0 < seconds:
            times = {}
            for name in ANALYTICS_QUERIES:
                a = time.time()
                with tr.span(f"plans.build.{name}"):
                    df = self.qs[name](spark, self.wh)
                b = time.time()
                with tr.span(f"plans.exec.{name}"):
                    df.write.format("noop").mode("overwrite").save()
                c = time.time()
                times[name] = (a, b, c)
                if name not in self.hash_ok:
                    cpu = self.ctx.cpu_parts()
                    self._check_query(name, df)  # untimed, once per run
                    for k, v in self.ctx.cpu_parts().items():
                        self.untimed_cpu[k] = self.untimed_cpu.get(k, 0.0) + v - cpu[k]
                    t0 += time.time() - c
            self.passes.append(times)

    def check(self) -> tuple[int, int, list[str]]:
        attempted = len(self.passes) * len(ANALYTICS_QUERIES)
        bad = [n for n, ok in self.hash_ok.items() if not ok]
        return attempted, len(bad), [f"oracle hash mismatch: {n}" for n in bad]

    def _per_query_s(self) -> dict[str, float]:
        return {
            n: median([p[n][2] - p[n][0] for p in self.passes]) for n in ANALYTICS_QUERIES
        }

    def units(self) -> float:
        """Query runs (build + execute)."""
        return len(self.passes) * len(ANALYTICS_QUERIES)

    def e2e(self) -> dict:
        """Unit of work: one query (build + execute), median over the
        passes; throughput is queries per second of query time."""
        per = self._per_query_s()
        return _unit_e2e(len(per) / sum(per.values()), [v * 1000 for v in per.values()])

    def layers(self) -> dict:
        per = self._per_query_s()
        m = {
            "queries_total_s": sum(per.values()),
            "query_geomean_ms": geomean([v * 1000 for v in per.values()]),
        }
        for n in ANALYTICS_QUERIES:
            m[f"plans.build_s.{n}"] = median([p[n][1] - p[n][0] for p in self.passes])
            m[f"plans.exec_s.{n}"] = median([p[n][2] - p[n][1] for p in self.passes])
        m["plans.build_s"] = sum(m[f"plans.build_s.{n}"] for n in ANALYTICS_QUERIES)
        return m

    def samples(self) -> dict:
        return {"query_s": self._per_query_s()}

    def windows(self) -> list[tuple[str, float, float]]:
        """One ``analytics`` window per query run, so the untimed oracle
        checks between them stay out of it."""
        return [
            (label, p[n][0], p[n][2])
            for p in self.passes for n in ANALYTICS_QUERIES
            for label in ("analytics", n) if label == "analytics" or n in TARGET_QUERIES
        ]


WORKLOADS = {"ingest": Ingest, "serve": Serve, "analytics": Analytics}
