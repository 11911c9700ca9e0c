#!/usr/bin/env python3
"""Benchmark of the ingest path and a query mix.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]
    python3 perfbench/run.py --selftest

Run from the repository root. One run starts one Spark session in
``local[<cores>]`` mode, warms up, measures one closed-loop operation stream
for ``--seconds``, checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` list of ``BENCHMARK.json``; with ``--trace 1``
the run records spans and a Spark event log and reports the ``per_layer``
list instead. Each run also writes everything it measured, and with tracing
its spans, under ``.perfbench/``.

End-to-end metrics: ``setup_s`` is process start to the end of warm-up
(session start and, for query_mix, every artifact build); ``peak_rss_mb``
covers the process tree (driver Python, the JVM with its fixed, pre-touched
heap, Python workers); ``op_latency_s`` is the median commit (ingest_batch),
the median micro-batch ``triggerExecution`` (ingest_stream) or the geometric
mean of per-query median latencies (query_mix). An operation whose output is
wrong counts in ``failed`` out of ``attempted``.

``--workload all`` runs every workload untraced and traced in child
processes and prints a table of all metrics with each run's verdict, the
tracing overhead and whether the spans reconcile with the wall clock.
``--selftest`` runs only the verifier's red test.

Each run is isolated: a fresh artifact root, temp dir and Spark local dir
under ``.perfbench/``, deleted at exit; ``SPARK_GRAFT_CPUS`` is the number of
usable cores and the driver heap is fixed at ``DRIVER_MEMORY``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "1g"


def load_declaration() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin_environment(work: str, trace: bool) -> str | None:
    """Set, before the JVM starts, everything a run may read or write
    outside its own directory. Returns the event-log directory if tracing."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_ARTIFACT_ROOT=os.path.join(work, "artifacts"),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    # The driver heap is committed and touched at JVM start, so its share of
    # peak_rss_mb is the fixed DRIVER_MEMORY rather than wherever the
    # collector's heap sizing happened to stop; the metric then moves with
    # memory outside the Java heap (off-heap buffers, metaspace, code cache,
    # the Python driver and its workers).
    base = ("--conf spark.ui.showConsoleProgress=false "
            f"--conf 'spark.driver.defaultJavaOptions=-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch'")
    if not trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{base} pyspark-shell"
        return None
    events = os.path.join(work, "eventlog")
    os.makedirs(events)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{base} --conf spark.eventLog.enabled=true --conf spark.eventLog.rolling.enabled=false "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{events} pyspark-shell"
    )
    return events


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    from measure import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass  # killed with the other leftovers below
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    try:
        import kafka_connect_storage_cloud_formats_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package resolved outside {ROOT}", file=sys.stderr)
        return 2
    decl = load_declaration()

    from measure import RssSampler
    from tracing import Tracer, instrument_layers, layer_metrics, reconciles, unreconciled
    from workloads import WORKLOADS, Run

    work = os.path.join(OUT, f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        events = pin_environment(work, trace)
        tracer = Tracer(trace)
        instrument_layers(tracer)
        with RssSampler() as rss:
            with tracer.span("session.get_spark"):
                spark = pkg.get_spark("perfbench")
            tracer.bind_spark(spark)
            run = Run(spark, tracer, seed, seconds, work)
            outcome = WORKLOADS[workload](run)
            t_checked = time.perf_counter()
            stop_spark(spark)
        log = None
        if events:
            logs = [os.path.join(events, f) for f in os.listdir(events)]
            log = logs[0] if len(logs) == 1 else None
        lat = outcome.latencies
        end_to_end = {
            "setup_s": run.setup_end - T0,
            "peak_rss_mb": rss.peak_mb,
            "op_latency_s": outcome.latency,
        }
        layers = {**outcome.layers, "host.cpu_steal_share": run.steal_share}
        problems, reconciled = outcome.problems, None
        if trace:
            layers.update(layer_metrics(tracer, run.op_walls, log))
            layers["trace.op_latency_s"] = outcome.latency
            layers["trace.unreconciled_ops"] = float(len(unreconciled(tracer.spans, run.op_walls)))
            reconciled = reconciles(tracer.spans, run.op_walls)
            if not reconciled:
                problems.append(f"layer spans miss part of the wall clock of "
                                f"{layers['trace.unreconciled_ops']:.0f} of {len(run.op_walls)} operations")
        if workload == "query_mix":
            layers["registry.jobs_per_query"] = layers.get("spark.jobs", 0.0)
            layers["registry.stages_per_query"] = layers.get("spark.stages", 0.0)
        wanted = decl["per_layer"] if trace else decl["end_to_end"]
        values = end_to_end if not trace else layers
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        correct = outcome.failed == 0 and not problems
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(f"perfbench: set-up {run.setup_end - T0:.1f}s, measured {run.timed_s:.1f}s, "
              f"checks {t_checked - run.setup_end - run.timed_s:.1f}s, "
              f"stop {time.perf_counter() - t_checked:.1f}s", file=sys.stderr)
        tag = f"{workload}-s{seed}-t{int(trace)}"
        with open(os.path.join(OUT, f"result-{tag}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                       "correct": correct, "attempted": outcome.attempted,
                       "failed": outcome.failed, "problems": problems, "reconciled": reconciled,
                       "latencies": lat,
                       "end_to_end": end_to_end, "layers": layers}, f, indent=1, sort_keys=True)
        if trace:
            tracer.dump(os.path.join(OUT, f"spans-{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, each in its own process."""
    from tracing import RECONCILE_ABS_S, RECONCILE_MAX_MISSED, RECONCILE_TOLERANCE
    from workloads import WORKLOADS

    decl = load_declaration()
    status = subprocess.run([sys.executable, os.path.abspath(__file__), "--selftest"], cwd=ROOT).returncode
    for workload in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if proc.returncode != 0:
                print(f"{workload} trace={trace}: exit {proc.returncode}")
                status = 1
                continue
            with open(os.path.join(OUT, f"result-{workload}-s{seed}-t{trace}.json")) as f:
                results[trace] = json.load(f)
        if len(results) < 2:
            continue
        plain, traced = results[0], results[1]
        verdict = "PASS" if plain["correct"] else "FAIL"
        print(f"== {workload}: {verdict}  attempted={plain['attempted']} failed={plain['failed']} "
              f"failed_ratio={plain['failed'] / plain['attempted']:.4f}")
        for p in plain["problems"]:
            print(f"   check failed: {p}")
        for m in decl["end_to_end"]:
            print(f"   {m['name']:<34} {plain['end_to_end'][m['name']]:>14.4f} {m['unit']}")
        units = {m["name"]: m["unit"] for m in decl["per_layer"]}
        for name, value in sorted(plain["layers"].items()):
            print(f"   {name:<34} {value:>14.4f} {units.get(name, '')}")
        overhead = traced["end_to_end"]["op_latency_s"] / plain["end_to_end"]["op_latency_s"] - 1
        layers = traced["layers"]
        ok = traced["reconciled"]
        print(f"   tracing overhead, one run each (op_latency_s traced/untraced - 1): {overhead:+.3f}")
        print(f"   layer spans reconcile with wall clock: {'yes' if ok else 'NO'} "
              f"(unattributed {layers['trace.unattributed_share']:.4f} of all operations, worst "
              f"{layers['trace.reconcile_err']:.4f} of one; {layers['trace.unreconciled_ops']:.0f} "
              f"operations beyond {RECONCILE_TOLERANCE} or {RECONCILE_ABS_S}s, at most "
              f"{RECONCILE_MAX_MISSED:.0%} may be)")
        print(f"   per-layer numbers: .perfbench/result-{workload}-s{seed}-t1.json")
        status |= not ok
    return status


def selftest() -> int:
    sys.path.insert(0, ROOT)
    import kafka_connect_storage_cloud_formats_spark as pkg

    from verify import red_test

    work = os.path.join(OUT, f"work-selftest-{os.getpid()}")
    try:
        pin_environment(work, trace=False)
        spark = pkg.get_spark("perfbench-selftest")
        problems = red_test(spark)
        stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"red test: {p}")
    print("red test:", "FAIL" if problems else "PASS")
    return 1 if problems else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    os.makedirs(OUT, exist_ok=True)
    if args.selftest:
        return selftest()
    if args.seconds is None:
        args.seconds = load_declaration()["run_seconds"]
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)} or all")
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
