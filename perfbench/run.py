"""Repo benchmark: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the repository root.

Runs one workload (``ingest``, ``serve`` or ``analytics``; see
README.md), checks its outputs against DuckDB, and prints one JSON
object as the last stdout line: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer metrics (spans, streaming progress and an
uncompressed Spark event log). Everything the run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # first statement: process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sparkstreaming_realtime_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
#: complete set-up steps per run; ``setup_s`` takes their median
SETUP_REPS = 3

#: the end-to-end metrics, reported by every workload; the CPU cost is
#: per unit of the workload's own work (README.md)
E2E = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("cpu_ms_per_unit", "ms"),
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in report order. A layer a workload does
    not exercise reports 0."""
    from perfbench.workloads import ANALYTICS_QUERIES, TARGET_QUERIES

    out = [
        ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.warmup_first_s", "s"),
        ("throughput_per_s", "1/s"), ("events_per_s", "1/s"),
        ("cpu_ms_per_unit.python", "ms"), ("cpu_ms_per_unit.jvm", "ms"),
        ("cpu_ms_per_unit.jvm_children", "ms"), ("dau_batch_ms.p50", "ms"), ("order_batch_ms.p50", "ms"),
        ("latency_ms.p50", "ms"), ("latency_ms.geomean", "ms"), ("latency_ms.p99", "ms"),
        ("queries_total_s", "s"), ("query_geomean_ms", "ms"),
    ]
    for ph in ("dau", "order"):
        out += [
            (f"source.{ph}.latest_offset_ms.p50", "ms"),
            (f"source.{ph}.get_batch_ms.p50", "ms"),
            (f"state.{ph}.rows_total", "count"),
            (f"state.{ph}.memory_mb", "MB"),
            (f"state.{ph}.commit_ms.p50", "ms"),
            (f"state.{ph}.rows_dropped_late", "count"),
            (f"stream.{ph}.query_planning_ms.p50", "ms"),
            (f"stream.{ph}.add_batch_ms.p50", "ms"),
            (f"stream.{ph}.wal_commit_ms.p50", "ms"),
            (f"stream.{ph}.commit_offsets_ms.p50", "ms"),
            (f"sink.{ph}.write_ms.p50", "ms"),
            (f"sink.{ph}.jobs_per_batch", "count"),
        ]
    out += [
        ("store.compactions", "count"),
        ("store.compact_batch_ms.p50", "ms"),
        ("store.dirs_end", "count"),
        ("store.mb_end", "MB"),
        ("serve.handler_ms.p50", "ms"),
        ("serve.http_overhead_ms.p50", "ms"),
        ("serve.miss_ratio", "ratio"),
        ("serve.fold_ms.p50", "ms"),
        ("serve.fold_ms.max", "ms"),
        ("serve.fold_jobs", "count"),
        ("serve.write_ms.p50", "ms"),
        ("serve.generator_lag_ms.p99", "ms"),
        ("plans.build_s", "s"),
    ]
    out += [(f"plans.build_s.{q}", "s") for q in ANALYTICS_QUERIES]
    out += [(f"plans.exec_s.{q}", "s") for q in ANALYTICS_QUERIES]
    for label in ["ingest_dau", "ingest_order", "serve", "analytics", *TARGET_QUERIES]:
        out += [
            (f"spark.jobs.{label}", "count"),
            (f"spark.task_s.{label}", "s"),
            (f"spark.shuffle_mb.{label}", "MB"),
            (f"spark.gc_s.{label}", "s"),
            (f"spark.spill_mb.{label}", "MB"),
        ]
    out += [("spark.jobs_without_group", "count"), ("scaling.events_per_s.local1", "1/s")]
    out += [(f"traced.{n}", u) for n, u in E2E]
    out += [(f"tracing_overhead.{n}", "ratio") for n, _ in E2E]
    return out


class Context:
    """What a workload sees: the session, the tracer, its generated
    inputs and a per-run scratch directory."""

    def __init__(self, run_dir: str, inputs: str, props: dict, tracer):
        self.run_dir, self.inputs, self.props = run_dir, inputs, props
        self.tracer = tracer
        self.spark = None
        self.jvm_pid = None

    def scratch(self, name: str) -> str:
        path = os.path.join(self.run_dir, "stores", name)
        os.makedirs(path, exist_ok=True)
        return path

    def start_session(self, cpus: int, event_log: bool):
        from sparkstreaming_realtime_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            # fixed heap size (-Xms = -Xmx) so peak RSS follows the work
            # done, not when the JVM chose to grow its heap. C1 only
            # (TieredStopAtLevel=1): with C2 on, its compiler threads
            # burned more CPU in the measured window than the executor
            # tasks did, so wall times followed how the host scheduled
            # compilation (README.md, "Run-to-run spread")
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
                f" -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.eventLog.enabled": str(event_log).lower(),
            # a drain's trailing no-data batch (watermark advance only)
            # commits an empty batch=<id> dir that the store readers
            # cannot read back; run data batches only
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        }
        if event_log:
            logs = os.path.join(self.run_dir, "events")
            os.makedirs(logs, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": "file://" + logs,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def cpu_parts(self) -> dict[str, float]:
        """CPU seconds used so far by this process, by the JVM, and by
        the JVM's child processes it has waited for."""
        jvm = _proc_cpu_ticks(self.jvm_pid)
        tck = os.sysconf("SC_CLK_TCK")
        return {
            "python": sum(_proc_cpu_ticks("self")[:2]) / tck,
            "jvm": sum(jvm[:2]) / tck,
            "jvm_children": sum(jvm[2:]) / tck,
        }


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_spark(ctx) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()


def _proc_cpu_ticks(pid: int | str) -> list[int]:
    """utime, stime, cutime, cstime of a process (all its threads; the
    last two for the children it has waited for), in clock ticks."""
    with open(f"/proc/{pid}/stat") as f:
        return [int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15]]


def _cpu_ticks() -> list[int]:
    """Jiffies of all CPUs from ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_shares(t0: list[int], t1: list[int]) -> dict[str, float]:
    """Stolen CPU time between two ``_cpu_ticks`` readings, as a share
    of all CPU time and as a share of the time the CPUs wanted to run
    (busy + stolen)."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"of_all": d[7] / max(1, sum(d)), "of_busy": d[7] / max(1, busy + d[7])}


def _pin_env(run_dir: str, cpus: int) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(os.environ[k], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    return {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import gen
    from perfbench.trace import Tracer, fold_event_log, median
    from perfbench.workloads import WORKLOADS

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    cpus = len(os.sched_getaffinity(0))
    env = _pin_env(run_dir, cpus)

    t_gen = time.time()
    inputs, props = gen.ensure_inputs(os.path.join(WORK, "cache"), args.workload, args.seed)
    gen_s = time.time() - t_gen

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(run_dir, inputs, props, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        with tracer.span("session.start"):
            spark = ctx.start_session(cpus, event_log=bool(args.trace))
        start_s = time.time() - T_PROCESS - gen_s
        reps = []
        for rep in range(SETUP_REPS):
            t = time.time()
            with tracer.span("session.warmup", rep=rep):
                wl.prepare(rep)
            reps.append(time.time() - t)
        setup_s = start_s + median(reps)
        if args.trace and args.workload == "serve":
            wl.instrument()

        cpu0 = ctx.cpu_parts()
        ticks_measure = _cpu_ticks()
        t_measure = time.time()
        with tracer.span(f"measure.{args.workload}"):
            wl.measure(args.seconds)
        measure_s = time.time() - t_measure
        measure_steal = _steal_shares(ticks_measure, _cpu_ticks())
        # the load generator's own CPU and the untimed checks are not
        # the program's cost
        cpu = {k: v - cpu0[k] - wl.untimed_cpu.get(k, 0.0) for k, v in ctx.cpu_parts().items()}
        measure_cpu_s = sum(cpu.values())
        attempted, failed, problems = wl.check()
        if args.workload == "serve":
            wl.close()
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(ctx.jvm_pid)
        latency = wl.e2e()
        e2e_metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "cpu_ms_per_unit": measure_cpu_s * 1000 / wl.units(),
        }
        cpu_layers = {f"cpu_ms_per_unit.{k}": v * 1000 / wl.units() for k, v in cpu.items()}
        master = spark.sparkContext.master
        version = spark.version
        _stop_spark(ctx)

        layers: dict[str, float] = {}
        if args.trace:
            layers.update(wl.layers())
            layers.update(latency)
            layers.update(cpu_layers)
            layers["session.start_s"] = start_s
            layers["session.warmup_s"] = median(reps)
            layers["session.warmup_first_s"] = reps[0]
            logs = os.path.join(run_dir, "events")
            log = os.path.join(logs, sorted(os.listdir(logs))[0])
            folded = fold_event_log(log, wl.windows())
            for label, acc in folded["labels"].items():
                for k, v in acc.items():
                    layers[f"spark.{k}.{label}"] = v
            layers["spark.jobs_without_group"] = folded["jobs_without_group"]
            if args.workload == "ingest":
                for ph, n in wl.sink_batches().items():
                    layers[f"{ph}.jobs_per_batch"] = folded["labels"].get(ph, {}).get("jobs", 0) / max(1, n)
                layers["scaling.events_per_s.local1"] = _local1_events_per_s(ctx)
            if args.workload == "serve":
                layers["serve.fold_jobs"] = folded["labels"].get("serve.fold", {}).get("jobs", 0)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if ctx.spark is not None or _gateway_alive():
            _stop_spark(ctx)

    ticks_end = _cpu_ticks()
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": props,
        "env": {
            **env,
            "master": master,
            "pyspark": version,
            "loadavg_1m_start": load_start[0],
            "loadavg_1m_end": os.getloadavg()[0],
            # CPU time the hypervisor gave to other guests during the
            # run, as a share of all CPU time: high values explain slow
            # runs that no code change caused
            "cpu_steal_share": _steal_shares(ticks_start, ticks_end)["of_all"],
            "measure_steal": measure_steal,
            "driver_memory": DRIVER_MEMORY,
        },
        "gen_s": gen_s,
        "measure_s": measure_s,
        "measure_cpu_s": cpu,
        "session_start_s": start_s,
        "setup_reps_s": reps,
        "problems": problems,
        "e2e": e2e_metrics,
        "latency": latency,
        "samples": wl.samples(),
        "layers": layers,
    }
    if args.trace:
        # overhead: this traced run against the last untraced run of
        # the same workload in this checkout, when there is one
        for k, v in e2e_metrics.items():
            layers[f"traced.{k}"] = v
        last_untraced = os.path.join(WORK, f"last-{args.workload}-untraced.json")
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)["e2e"]
            for k, v in e2e_metrics.items():
                layers[f"tracing_overhead.{k}"] = v / base[k] - 1
    name = f"last-{args.workload}-{'traced' if args.trace else 'untraced'}.json"
    with open(os.path.join(WORK, name), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    units = dict(per_layer_names() if args.trace else E2E)
    values = layers if args.trace else e2e_metrics
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    for p in problems:
        print(f"check failed: {p}")
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _gateway_alive() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is not None


def _local1_events_per_s(ctx) -> float:
    """Single-thread baseline: one DAU + order drain at local[1], with
    stores and checkpoints of its own (a drain resuming the measured
    run's checkpoint would find no new input)."""
    from perfbench.workloads import Ingest

    ctx.run_dir = os.path.join(ctx.run_dir, "local1")
    ctx.start_session(1, event_log=False)
    base = Ingest(ctx)
    base.prepare(0)
    base.measure(0)
    _stop_spark(ctx)
    return sum(d["events"] for d in base.drains) / base.wall_s


if __name__ == "__main__":
    sys.exit(main())
