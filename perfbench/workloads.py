"""The benchmark's workloads. Each drives the package only through its
public functions, one operation in flight at a time (a closed loop, like a
Kafka Connect sink task that polls again only after ``put()`` returns).

Every workload function takes a :class:`Run`, warms up, calls
``run.begin_timed()``, loops until ``run.seconds`` have passed, then checks
its outputs outside the timed region and returns a :class:`Outcome`.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import types as T

from envelope import VALUE_SCHEMA, EnvelopeGenerator
from measure import cpu_steal_ticks, median
from tracing import Tracer
from verify import batch_digests, check_query, compare_batches

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        *VALUE_SCHEMA.fields,
    ]
)

# ingest_batch / ingest_parity: small polls, so per-commit fixed cost shows.
BATCH_RECORDS = 20_000
BATCH_FLUSH = 10_000
# Far below the batch size, and the per-partition counts of a batch are
# not multiples of it: real polls are not aligned to flush.size.
PARITY_FLUSH = 3_000
# Warm-up compiles the per-commit planning and codegen paths and lets the
# JIT settle on the per-record paths, so it uses full-size polls: with
# small ones the first half of the timed commits still ran slower.
WARMUP_BATCHES = 10
# ingest_stream: one file per micro-batch (maxFilesPerTrigger=1), several
# files per availableNow run, so a run's query start is paid over many
# micro-batches.
STREAM_RECORDS = 100_000
STREAM_FILES_PER_RUN = 6
STREAM_WARMUP_FILES = 3
STREAM_FLUSH = 100_000

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_sf0.01.json")

# query_mix: name → operator family. The relational, windowed and text
# rows are cheap, plan-build-bound controls; the dedup and vector rows run
# the most Spark jobs per query, and sq8_topk and the dedup rows read
# artifacts built in set-up. neardup_clusters is never plan-cached.
QUERY_MIX = {
    "q1_pricing_summary": "operators.relational",
    "q18_large_orders": "operators.relational",
    "q21_sole_late_supplier": "operators.relational",
    "events_interval_join": "streaming.windows",
    "events_session_30m": "streaming.windows",
    "dedup_embedding_cosine": "operators.dedup",
    "repeated_ngram_spans": "operators.dedup",
    "neardup_clusters": "operators.dedup",
    "sq8_topk": "operators.vector",
    "text_quality_stats": "operators.text",
    "dedup_exact": "operators.text",
    "doc_top_terms": "operators.text",
}
FAMILIES = sorted(set(QUERY_MIX.values()))


@dataclass
class Outcome:
    latencies: list[float]  # one per operation, seconds
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # per-layer numbers
    latency: float = 0.0  # op_latency_s; the median of ``latencies`` unless set

    def __post_init__(self) -> None:
        self.latency = self.latency or median(self.latencies)


class Run:
    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, work: str) -> None:
        self.spark, self.tracer, self.seed, self.seconds, self.work = spark, tracer, seed, seconds, work
        self.op_walls: dict[int, float] = {}
        self.setup_end: float | None = None
        self.timed_s = 0.0
        self.steal_share = 0.0  # of all CPU time while measuring

    def begin_timed(self) -> None:
        self.setup_end = time.perf_counter()
        self.tracer.phase = "timed"
        self._ticks0 = cpu_steal_ticks()

    def end_timed(self) -> None:
        self.timed_s = time.perf_counter() - self.setup_end
        self.tracer.phase = "verify"
        (steal0, total0), (steal1, total1) = self._ticks0, cpu_steal_ticks()
        self.steal_share = (steal1 - steal0) / max(1, total1 - total0)

    def time_left(self) -> bool:
        return time.perf_counter() - self.setup_end < self.seconds

    @contextmanager
    def op(self):
        """One timed operation; its wall clock is kept even if it raises.
        The clock runs inside the root span, so the tracer's own Spark calls
        at the root's edges are not part of it."""
        i = len(self.op_walls)
        with self.tracer.operation(i):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.op_walls[i] = time.perf_counter() - t0


def _report_error(what: str) -> None:
    print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)


def _orc_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, dirs, files in os.walk(root)
        if "_spark_metadata" not in d
        for f in files
        if f.endswith(".orc")
    ]


def _layout_layers(out_dir: str, commits: int, records: int) -> dict[str, float]:
    files = _orc_files(out_dir)
    size = sum(os.path.getsize(f) for f in files)
    return {
        "sinks.files_per_commit": len(files) / max(1, commits),
        "sinks.bytes_per_commit": size / max(1, commits),
        "sinks.orc_bytes_per_record": size / max(1, records),
    }


def _check_and_read_back(run: Run, pipe, inputs: list[str], records_per_batch: int):
    """Compare the read-back with the committed inputs batch by batch, then
    time one full grouped scan of the output."""
    spark = run.spark
    expected = batch_digests(spark.read.schema(ENVELOPE_SCHEMA).parquet(*inputs), records_per_batch)
    failed, lost = compare_batches(expected, batch_digests(pipe.read_back(spark), records_per_batch))
    t0 = time.perf_counter()
    pipe.read_back(spark).groupBy("event_type").count().collect()
    layers = {"sinks.records_lost": float(lost), "sinks.read_orc.s": time.perf_counter() - t0}
    return failed, layers


def _ingest_batches(run: Run, parity: bool) -> Outcome:
    from kafka_connect_storage_cloud_formats_spark.pipeline import IngestPipeline

    spark, tracer = run.spark, run.tracer
    flush = PARITY_FLUSH if parity else BATCH_FLUSH

    def pipeline(name: str) -> IngestPipeline:
        return IngestPipeline(f"{run.work}/{name}", VALUE_SCHEMA, flush_size=flush, parity_naming=parity)

    def put(pipe: IngestPipeline, path: str):
        with tracer.span("pipeline.run_batch"):
            return pipe.run_batch(spark.read.schema(ENVELOPE_SCHEMA).parquet(path))

    warm_gen = EnvelopeGenerator(run.seed + 7919, BATCH_RECORDS, f"{run.work}/warm_in")
    warm = pipeline("warm_out")
    for _ in range(WARMUP_BATCHES):
        put(warm, warm_gen.write_batch()[0])

    gen = EnvelopeGenerator(run.seed, BATCH_RECORDS, f"{run.work}/in")
    pipe = pipeline("out")
    inputs, keys, latencies, payload, errors = [], [], [], 0, 0
    run.begin_timed()
    while run.time_left():
        path, nbytes = gen.write_batch()
        try:
            with run.op():
                keys.append(put(pipe, path))
        except Exception:
            _report_error("run_batch")
            errors += 1
            continue
        latencies.append(run.op_walls[len(run.op_walls) - 1])
        inputs.append(path)
        payload += nbytes
    run.end_timed()

    problems = []
    # Exactly-once replay of the last batch: the same file keys in parity
    # mode, the same batch=<tag> directory set otherwise. Row changes show
    # in the batch check below, which runs after the replay.
    before = sorted(os.listdir(pipe.out_dir))
    replay = put(pipe, inputs[-1])
    if parity and replay != keys[-1]:
        problems.append("parity replay returned different file keys")
    if sorted(os.listdir(pipe.out_dir)) != before:
        problems.append("replayed batch changed the output directory set")

    failed, layers = _check_and_read_back(run, pipe, inputs, BATCH_RECORDS)
    records = BATCH_RECORDS * len(inputs)
    busy = sum(latencies)
    layers.update(_layout_layers(pipe.out_dir, len(inputs), records))
    layers["ingest.records_per_s"] = records / busy
    layers["ingest.mb_per_s"] = payload / busy / 1e6
    return Outcome(latencies, len(inputs) + errors, len(failed) + errors, problems, layers)


def ingest_batch(run: Run) -> Outcome:
    return _ingest_batches(run, parity=False)


def ingest_parity(run: Run) -> Outcome:
    return _ingest_batches(run, parity=True)


def ingest_stream(run: Run) -> Outcome:
    from kafka_connect_storage_cloud_formats_spark.pipeline import IngestPipeline
    from kafka_connect_storage_cloud_formats_spark.streaming.engine import file_stream_source

    spark, tracer = run.spark, run.tracer

    def stream_run(pipe: IngestPipeline, src: str):
        """One availableNow run over ``src``, waited for."""
        with tracer.span("pipeline.run_stream"):
            q = pipe.run_stream(
                file_stream_source(spark, src, ENVELOPE_SCHEMA, max_files_per_trigger=1),
                f"{pipe.out_dir}_checkpoint",
            )
            q.awaitTermination()
        return q

    def data_batches(q) -> list[dict]:
        """Progress of the micro-batches that read data."""
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    warm_gen = EnvelopeGenerator(run.seed + 7919, STREAM_RECORDS, f"{run.work}/warm_in")
    for _ in range(STREAM_WARMUP_FILES):
        warm_gen.write_batch()
    stream_run(IngestPipeline(f"{run.work}/warm_out", VALUE_SCHEMA, flush_size=STREAM_FLUSH),
               warm_gen.out_dir)

    gen = EnvelopeGenerator(run.seed, STREAM_RECORDS, f"{run.work}/in")
    pipe = IngestPipeline(f"{run.work}/out", VALUE_SCHEMA, flush_size=STREAM_FLUSH)
    progress, inputs, payload, errors = [], [], 0, 0
    run.begin_timed()
    while run.time_left():
        new = [gen.write_batch() for _ in range(STREAM_FILES_PER_RUN)]
        try:
            with run.op():
                q = stream_run(pipe, gen.out_dir)
        except Exception:
            _report_error("run_stream")
            errors += 1
            continue
        progress += data_batches(q)
        inputs += [path for path, _ in new]
        payload += sum(n for _, n in new)
    run.end_timed()

    problems = []
    # Exactly-once: a re-run on the same checkpoint with no new input must
    # read nothing and commit no file.
    before = sorted(_orc_files(pipe.out_dir))
    if data_batches(stream_run(pipe, gen.out_dir)) or sorted(_orc_files(pipe.out_dir)) != before:
        problems.append("re-run on the same checkpoint committed new data")
    if sum(p["numInputRows"] for p in progress) != STREAM_RECORDS * len(inputs):
        problems.append("micro-batches did not read every input file exactly once")

    failed, layers = _check_and_read_back(run, pipe, inputs, STREAM_RECORDS)
    records = STREAM_RECORDS * len(inputs)
    layers.update(_layout_layers(pipe.out_dir, len(progress), records))
    busy = sum(run.op_walls.values())
    layers["ingest.records_per_s"] = records / busy
    layers["ingest.mb_per_s"] = payload / busy / 1e6
    durations = [p["durationMs"] for p in progress]
    for key, name in (
        ("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
        ("walCommit", "wal_commit_s"), ("queryPlanning", "query_planning_s"),
        ("commitOffsets", "commit_offsets_s"), ("latestOffset", "latest_offset_s"),
    ):
        layers[f"streaming.{name}"] = median([d.get(key, 0) / 1e3 for d in durations])
    latencies = [d["triggerExecution"] / 1e3 for d in durations]
    return Outcome(latencies, len(inputs) + errors, len(failed) + errors, problems, layers)


def query_mix(run: Run) -> Outcome:
    import __spark_entry__

    spark, tracer = run.spark, run.tracer
    with open(EXPECTED) as f:
        expected = json.load(f)
    queries = __spark_entry__.queries()
    rng = random.Random(run.seed)
    order = list(QUERY_MIX)
    problems = []

    # Set-up: build every plan and artifact from the empty artifact root and
    # run each query once.
    rng.shuffle(order)
    plans = {}
    for name in order:
        with tracer.span("registry.plan_build"):
            plans[name] = queries[name](spark, CORPUS)
        plans[name].count()
        spark.catalog.clearCache()

    latencies, failed, hits = [], 0, 0
    per_query: dict[str, list[float]] = {name: [] for name in QUERY_MIX}
    exec_s: dict[str, list[float]] = {fam: [] for fam in FAMILIES}
    run.begin_timed()
    while run.time_left():
        rng.shuffle(order)
        for name in order:
            try:
                with run.op():
                    with tracer.span("registry.plan_build"):
                        df = queries[name](spark, CORPUS)
                    t0 = time.perf_counter()
                    with tracer.span("registry.exec"):
                        rows = df.count()
                    exec_s[QUERY_MIX[name]].append(time.perf_counter() - t0)
            except Exception:
                _report_error(name)
                failed += 1
                continue
            latencies.append(run.op_walls[len(run.op_walls) - 1])
            per_query[name].append(latencies[-1])
            failed += rows != expected[name]["rows"]
            hits += df is plans[name]
            plans[name] = df
            spark.catalog.clearCache()
    run.end_timed()

    # Check each result once against the oracle hash (untimed).
    for name in QUERY_MIX:
        df = queries[name](spark, CORPUS)
        problem = check_query(df.collect(), df.columns, expected[name])
        if problem:
            problems.append(f"{name}: {problem}")
        spark.catalog.clearCache()

    # The mix's typical latency is the geometric mean of per-query medians
    # (as TPC-H's power metric): unlike the median over all executions it
    # does not jump between neighbouring queries of a heterogeneous mix.
    medians = {name: median(xs) for name, xs in per_query.items() if xs}
    latency = math.exp(statistics.fmean(math.log(m) for m in medians.values()))
    layers = {
        "registry.plan_cache_hit_ratio": hits / max(1, len(latencies)),
        "registry.query_mix_s": sum(medians.values()),
    }
    for fam, xs in exec_s.items():
        layers[f"{fam}.exec_s"] = median(xs)
    return Outcome(latencies, len(run.op_walls), failed, problems, layers, latency)


# ingest_parity is runnable but not declared in BENCHMARK.json: the parity
# sink names each batch's files by floor(offset / flush_size) on its own, so
# a batch overwrites the previous batch's partial last file group and its
# records are lost. Its runs report correct=false until the sink is fixed.
WORKLOADS = {
    "ingest_batch": ingest_batch,
    "ingest_parity": ingest_parity,
    "ingest_stream": ingest_stream,
    "query_mix": query_mix,
}
