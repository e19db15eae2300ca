"""Spans, percentiles and the Spark event-log fold.

Spans are recorded by the benchmark's own code around its calls into
the engine. They stay in memory until the run ends; then they are
written out with each span's self time (its duration minus the part of
its interval that its child spans cover).
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

MIN_BEYOND = 10  # samples a reported tail percentile needs above it
#: Spark local property that labels the jobs a span launches
SPAN_PROP = "perfbench.span"


def _rank(n: int, q: float) -> int:
    """0-based nearest-rank index of the ``q``-th percentile of ``n``."""
    return max(0, math.ceil(q / 100.0 * n) - 1)


def supported(n: int, q: float) -> bool:
    """True when a ``q``-th percentile over ``n`` samples has at least
    :data:`MIN_BEYOND` samples above it."""
    return n - 1 - _rank(n, q) >= MIN_BEYOND


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values``. A tail percentile
    (``q`` above 50) that fewer than :data:`MIN_BEYOND` samples lie
    beyond is an error, never a silent fall-back to a lower one."""
    if not values:
        raise ValueError("percentile of no samples")
    if q > 50 and not supported(len(values), q):
        raise ValueError(
            f"p{q:g} over {len(values)} samples has fewer than "
            f"{MIN_BEYOND} samples beyond it")
    return sorted(values)[_rank(len(values), q)]


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the API but
    records nothing, so the untraced run pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        spans = sorted(self.spans, key=lambda s: s["id"])
        selfs = self_times(spans)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union of the child
    intervals clipped to the parent (overlapping children from other
    threads are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- Spark event log ---------------------------------------------------


def _empty() -> dict:
    return {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "gc_s": 0.0, "spill_mb": 0.0}


def fold_event_log(path: str, windows: list[tuple[str, float, float]]) -> dict:
    """Fold an uncompressed Spark event log (one JSON event per line)
    into per-label ``{jobs, task_s, shuffle_mb, gc_s, spill_mb}``.

    A job counts under every window label (epoch seconds, ``[start,
    end)``) whose interval holds its submission time, and under the
    label in its :data:`SPAN_PROP` local property when the submitting
    thread set one. Task metrics follow their stage's job.
    ``jobs_without_group`` counts the windowed jobs whose properties
    carry no ``spark.jobGroup.id``."""
    job_labels: dict[int, set[str]] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = {label: _empty() for label, _, _ in windows}
    no_group = 0
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                t = ev.get("Submission Time", 0) / 1000.0
                labels = {lb for lb, lo, hi in windows if lo <= t < hi}
                if labels and not props.get("spark.jobGroup.id"):
                    no_group += 1
                if props.get(SPAN_PROP):
                    labels.add(props[SPAN_PROP])
                job_labels[ev["Job ID"]] = labels
                for lb in labels:
                    out.setdefault(lb, _empty())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))
    for sid, m in tasks:
        for lb in job_labels.get(stage_job.get(sid, -1), ()):
            acc = out[lb]
            acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            acc["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
    return {"labels": out, "jobs_without_group": no_group}
