"""Spans, layer instrumentation and Spark counters for the traced run.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, operation
id, phase, Spark job-id watermarks) and :func:`layer_metrics` turns them,
plus the Spark event log, into per-layer numbers after the run. With tracing
off every method is a no-op, so the untraced run pays nothing.

Package layers are traced from the outside: :meth:`Tracer.instrument`
replaces a package function, in every package module that imported it, by a
wrapper that opens a span around the call. The package code is unchanged.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "kafka_connect_storage_cloud_formats_spark"

# The layer spans directly under an operation's root span must account for
# the operation's wall clock, as Run.op measured it, to within this share or
# RECONCILE_ABS_S, whichever is larger: everything the benchmark does inside
# an operation happens inside some layer span, so a larger gap means the
# trace lost time (a span dropped, or work done outside any layer). A run
# reconciles when at most RECONCILE_MAX_MISSED of its operations miss that:
# a lost span misses in every operation of its kind, while a pause between
# two spans (a Python collection, a preempted CPU) hits one operation.
RECONCILE_TOLERANCE = 0.02
RECONCILE_ABS_S = 0.010
RECONCILE_MAX_MISSED = 0.05


class Span:
    __slots__ = ("name", "start", "end", "wall0", "parent", "op", "phase", "jobs0", "jobs1")

    def __init__(self, name, start, wall0, parent, op, phase, jobs0):
        self.name, self.start, self.wall0 = name, start, wall0
        self.parent, self.op, self.phase, self.jobs0 = parent, op, phase, jobs0
        self.end = start
        self.jobs1 = jobs0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.phase = "setup"
        self.op: int | None = None
        self._job_watermark = lambda: 0

    def bind_spark(self, spark) -> None:
        """Read the job-id watermark from the DAG scheduler: one py4j call
        per span boundary, no Spark action."""
        if self.enabled:
            dag = spark.sparkContext._jsc.sc().dagScheduler()
            self._job_watermark = dag.numTotalJobs

    @contextmanager
    def span(self, name: str):
        # Package code may call an instrumented function from a helper
        # thread; only the thread driving the operations keeps the stack.
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), time.time(), parent, self.op, self.phase,
                  self._job_watermark())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.jobs1 = self._job_watermark()
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id: int):
        """Root span of one timed operation."""
        self.op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self.op = None

    def instrument(self, module_name: str, attr: str, span_name: str) -> None:
        if not self.enabled:
            return
        __import__(module_name)
        orig = getattr(sys.modules[module_name], attr)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith(PKG) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def instrument_layers(tracer: Tracer) -> None:
    """Spans around the package calls the benchmark does not make itself."""
    tracer.instrument(f"{PKG}.sinks.orc_sink", "write_orc_partitioned", "sinks.write_orc_partitioned")
    tracer.instrument(f"{PKG}.sinks.orc_sink", "write_orc_parity", "sinks.write_orc_parity")
    tracer.instrument(f"{PKG}.catalog", "path_fingerprint", "catalog.path_fingerprint")
    tracer.instrument(f"{PKG}.catalog", "load_table", "catalog.load_table")
    tracer.instrument(f"{PKG}.artifacts", "ensure_artifact", "artifacts.ensure_artifact")
    tracer.instrument(f"{PKG}.artifacts", "revalidate_artifact", "artifacts.revalidate_artifact")


# --- Spark event log -------------------------------------------------------


def parse_event_log(path: str) -> tuple[dict, dict]:
    """Return ``jobs`` (id → submit_ms, end_ms, stage ids) and ``stages``
    (id → task count and summed task metrics) for stages that ran."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "end": None,
                                      "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], dict.fromkeys(
                    ("tasks", "run_ms", "cpu_ns", "shuffle_write", "shuffle_read",
                     "input", "output", "spill"), 0))
                sr = m.get("Shuffle Read Metrics", {})
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st["output"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- per-layer metrics ------------------------------------------------------

SPAN_LAYERS = (
    "pipeline.run_batch", "pipeline.run_stream", "sinks.write_orc_partitioned",
    "sinks.write_orc_parity", "registry.plan_build", "registry.exec",
    "catalog.path_fingerprint", "catalog.load_table",
    "artifacts.ensure_artifact", "artifacts.revalidate_artifact",
)
SPARK_KEYS = {
    "spark.executor_run_s": ("run_ms", 1e-3), "spark.executor_cpu_s": ("cpu_ns", 1e-9),
    "spark.shuffle_write_mb": ("shuffle_write", 1e-6), "spark.shuffle_read_mb": ("shuffle_read", 1e-6),
    "spark.input_mb": ("input", 1e-6), "spark.output_mb": ("output", 1e-6),
    "spark.spill_mb": ("spill", 1e-6),
}


def unattributed_shares(spans: list[Span], op_walls: dict[int, float]) -> dict[int, float]:
    """op id → the share of its wall clock that no layer span directly under
    its root span covers. An operation without a root span is all gap."""
    covered: dict[int, float] = {}
    root = {i: sp.op for i, sp in enumerate(spans) if sp.name == "op" and sp.parent is None}
    for sp in spans:
        if sp.parent in root:
            covered[root[sp.parent]] = covered.get(root[sp.parent], 0.0) + sp.dur
    return {op: max(0.0, wall - covered.get(op, 0.0)) / wall for op, wall in op_walls.items()}


def unreconciled(spans: list[Span], op_walls: dict[int, float]) -> list[int]:
    """Operations whose layer spans miss more of the wall clock than the
    tolerance allows."""
    shares = unattributed_shares(spans, op_walls)
    return sorted(op for op, share in shares.items()
                  if share * op_walls[op] > max(RECONCILE_ABS_S, RECONCILE_TOLERANCE * op_walls[op]))


def reconciles(spans: list[Span], op_walls: dict[int, float]) -> bool:
    """At most RECONCILE_MAX_MISSED of the operations miss the tolerance."""
    return len(unreconciled(spans, op_walls)) <= RECONCILE_MAX_MISSED * len(op_walls)


def layer_metrics(tracer: Tracer, op_walls: dict[int, float], event_log: str | None) -> dict:
    """Per-layer numbers over the timed operations, each a mean per
    operation unless its name says otherwise (``setup_*`` are totals over
    set-up, ``.calls`` are calls per operation)."""
    spans = tracer.spans
    children: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent] = children.get(sp.parent, 0.0) + sp.dur
    self_s = [sp.dur - children.get(i, 0.0) for i, sp in enumerate(spans)]
    timed = [i for i, sp in enumerate(spans) if sp.phase == "timed"]
    n_ops = max(1, len(op_walls))
    out: dict[str, float] = {}
    for layer in SPAN_LAYERS:
        idx = [i for i in timed if spans[i].name == layer]
        out[f"{layer}.s"] = sum(spans[i].dur for i in idx) / n_ops
        out[f"{layer}.self_s"] = sum(self_s[i] for i in idx) / n_ops
        out[f"{layer}.calls"] = len(idx) / n_ops
        out[f"{layer}.jobs"] = sum(spans[i].jobs1 - spans[i].jobs0 for i in idx) / n_ops
    for layer in ("artifacts.ensure_artifact", "catalog.load_table"):
        idx = [i for i, sp in enumerate(spans) if sp.phase == "setup" and sp.name == layer]
        out[f"{layer}.setup_s"] = sum(spans[i].dur for i in idx)
        out[f"{layer}.setup_calls"] = float(len(idx))
    gs = [sp.dur for sp in spans if sp.name == "session.get_spark"]
    out["session.get_spark_s"] = gs[0] if gs else 0.0

    roots = {spans[i].op: i for i in timed if spans[i].name == "op"}
    shares = unattributed_shares(spans, op_walls)
    out["trace.reconcile_err"] = max(shares.values(), default=0.0)
    gaps = sum(shares[op] * wall for op, wall in op_walls.items())
    out["trace.unattributed_share"] = gaps / max(1e-9, sum(op_walls.values()))
    out["trace.spans"] = float(len(spans))

    if event_log:
        jobs, stages = parse_event_log(event_log)
        op_jobs = {spans[i].op: range(spans[i].jobs0, spans[i].jobs1) for i in roots.values()}
        timed_jobs = [j for r in op_jobs.values() for j in r if j in jobs]
        ran = [s for j in timed_jobs for s in jobs[j]["stages"] if s in stages]
        out["spark.jobs"] = len(timed_jobs) / n_ops
        out["spark.stages"] = len(ran) / n_ops
        out["spark.tasks"] = sum(stages[s]["tasks"] for s in ran) / n_ops
        for key, (field, scale) in SPARK_KEYS.items():
            out[key] = sum(stages[s][field] for s in ran) * scale / n_ops
        gap = 0.0
        for op, i in roots.items():
            sp = spans[i]
            lo = sp.wall0 * 1e3
            iv = [(jobs[j]["submit"], jobs[j]["end"] or jobs[j]["submit"]) for j in op_jobs[op] if j in jobs]
            gap += sp.dur - _covered_s(iv, lo, lo + sp.dur * 1e3) / 1e3
        out["spark.job_gap_s"] = gap / n_ops
        driver = 0.0
        for i in timed:
            sp = spans[i]
            if sp.name == "sinks.write_orc_parity":
                lo = sp.wall0 * 1e3
                iv = [(jobs[j]["submit"], jobs[j]["end"] or jobs[j]["submit"])
                      for j in range(sp.jobs0, sp.jobs1) if j in jobs]
                driver += sp.dur - _covered_s(iv, lo, lo + sp.dur * 1e3) / 1e3
        out["sinks.write_orc_parity.driver_s"] = driver / n_ops
    return out
