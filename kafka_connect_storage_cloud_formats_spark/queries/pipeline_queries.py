"""Oracle-gated queries that exercise the ingest pipeline itself.

These make the core reference semantics (envelope → ORC → read-back,
SURVEY.md §2.1) part of the driver's hash-checked surface: the Spark side
physically writes and re-reads ORC files, the oracle computes the same
aggregate straight from the source table — they match only if the pipeline
is lossless.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_storage_cloud_formats_spark.catalog import load_table
from kafka_connect_storage_cloud_formats_spark.pipeline import IngestPipeline
from kafka_connect_storage_cloud_formats_spark.queries.relational import dsum
from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import with_kafka_envelope

EVENTS_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _proc_start(pid: int) -> int | None:
    """Kernel start time (clock ticks) of ``pid``, or None if unreadable.
    The (pid, starttime) pair identifies a process INSTANCE: a recycled
    pid gets a new starttime, so ownership tests can't adopt a stranger's
    directory (round-9 review). Field 22 of /proc/<pid>/stat, parsed
    after the last ')' because comm may contain spaces/parens."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
        return int(raw[raw.rindex(")") + 2 :].split()[19])
    except (OSError, ValueError, IndexError):
        return None


def _scratch_dir(prefix: str, sf_dir: str) -> str:
    """Per-process sink scratch dir ``<tmp>/<prefix>_<sftag>_<pid>-<start>``:
    repeated runs inside one process (bench min-of-n) reuse + overwrite,
    while a fresh checker process can never read stale files from an
    earlier run. Creating one also SWEEPS same-prefix siblings whose
    owning process INSTANCE is gone (round 6; round 9 added the process
    start time to the suffix — bare pid liveness adopted a dead owner's
    directory whenever the kernel recycled its pid to us, and the
    read-back would then aggregate a stale vintage's files alongside
    fresh ones). Live siblings (a concurrent session mid-write) are
    never touched — (pid alive AND starttime matches) is the ownership
    test; pre-round-9 bare-pid dirs sweep under the old rule."""
    base = os.path.basename(os.path.normpath(sf_dir))
    stem = f"{prefix}_{base}_"
    tmp = tempfile.gettempdir()
    self_tag = f"{os.getpid()}-{_proc_start(os.getpid()) or 0}"
    try:
        for d in os.listdir(tmp):
            if not d.startswith(stem):
                continue
            suffix = d[len(stem):]
            if suffix == self_tag:
                continue  # ours (this very process instance): reuse
            pid_s, _, start_s = suffix.partition("-")
            try:
                pid = int(pid_s)
            except ValueError:
                continue  # foreign naming — not ours to manage
            alive = True
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                alive = False
            except PermissionError:
                pass  # alive under another uid
            if alive and start_s and start_s != "0":
                # pid alive: owner only if the instance matches; a
                # recycled pid (different starttime) marks a DEAD owner.
                # A "0" tag (owner ran where /proc was unreadable) or a
                # None probe (WE can't read /proc — e.g. macOS) leaves
                # ownership UNKNOWN: keep the directory on bare pid
                # liveness rather than delete a possibly-live sibling's
                # files mid-write (round-10 ADVICE — `str(None or "")`
                # compared unequal and swept live dirs off-Linux).
                probed = _proc_start(pid)
                if probed is not None:
                    alive = str(probed) == start_s
            if not alive:
                import shutil

                shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)
    except OSError:
        pass
    return os.path.join(tmp, f"{stem}{self_tag}")


def _events_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE events envelope every roundtrip query writes: the modular
    partitioner (user_id % 3) IS the contract the SQL oracles reproduce,
    so its parameters must exist in exactly one place (round-9 review:
    three copies could drift, breaking one oracle family while the rest
    stayed green)."""
    return with_kafka_envelope(
        load_table(spark, sf_dir, "events"),
        topic="events",
        num_partitions=3,
        partition_key="user_id",
        order_col="event_id",
        partitioner="mod",
    )


def _run_events_pipeline(spark: SparkSession, sf_dir: str, parity: bool) -> DataFrame:
    env = _events_envelope(spark, sf_dir)
    out = _scratch_dir(
        f"engine_orc_roundtrip_{'parity' if parity else 'native'}", sf_dir
    )
    pipe = IngestPipeline(
        out, EVENTS_VALUE_SCHEMA, flush_size=10_000, parity_naming=parity
    )
    pipe.run_batch(env)
    return pipe.read_back(spark)


def orc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline end-to-end (parity naming), then aggregate the
    written ORC files. Matches the oracle only if no row/value was lost."""
    back = _run_events_pipeline(spark, sf_dir, parity=True)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_event_id"),
            dsum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# NOTE: every integer SUM below is CAST(... AS BIGINT). DuckDB's SUM over an
# integer type yields HUGEINT (int128), which a pandas/arrow fetch renders as
# float64 ("123.0") and breaks the value-hash against Spark's bigint ("123") —
# this was the root cause of all 8 round-1 driver hash mismatches.
ORC_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def orc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native sink variant (Hive-style ``partition=N`` layout) with a
    partition-pruned read-back: only topic-partition 1 is scanned."""
    back = _run_events_pipeline(spark, sf_dir, parity=False)
    return (
        back.filter(F.col("partition") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_event_id"))
        .orderBy("event_type")
    )


ORC_PARTITIONED_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events
WHERE user_id % 3 = 1
GROUP BY event_type
ORDER BY event_type
"""


def _format_roundtrip(spark: SparkSession, sf_dir: str, fmt: str, compression: str) -> DataFrame:
    """Write events through a sibling family format and aggregate the
    read-back. JSON/CSV carry only integer/string columns (text float
    round-trips are representation-hazardous by design — columnar formats
    are the value-bearing path)."""
    from kafka_connect_storage_cloud_formats_spark.sinks.formats import (
        read_back,
        write_partitioned,
    )

    env = _events_envelope(spark, sf_dir)
    cols = ["partition", "event_id", "user_id", "event_type"]
    if fmt in ("orc", "parquet"):
        cols.append("value")
    out = _scratch_dir(f"engine_{fmt}_roundtrip", sf_dir)
    write_partitioned(env.select(*cols), out, fmt=fmt, compression=compression)
    back = read_back(spark, out, fmt=fmt)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_event_id"),
        F.countDistinct("user_id").alias("n_users"),
    ]
    if "value" in cols:
        aggs.append(dsum("value").alias("total_value"))
    return back.groupBy("event_type").agg(*aggs).orderBy("event_type")


def parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "parquet", "zstd")


PARQUET_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "json", "gzip")


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV member of the format family (integer/string columns only — text
    float round-trips are representation-hazardous by design)."""
    return _format_roundtrip(spark, sf_dir, "csv", "gzip")


CSV_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


EVENTS_V1_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
    ]
)


def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest made driver-checkable: even event_ids are
    written under schema v1 (no ``value`` column), odd event_ids under v2
    (adds nullable ``value``) — Connect's rotate-on-schema-change
    (`StorageSchemaCompatibility`, SURVEY.md §1.2) realized as one file
    generation per schema version. The merged ORC read-back sees the union
    schema with nulls for pre-evolution rows; the aggregate hash-matches
    the oracle only if no row was lost and exactly the v1 rows read null.
    """
    from kafka_connect_storage_cloud_formats_spark.schema_evolution import (
        Compatibility,
        SchemaTracker,
    )

    # persist the envelope for the span of the two generation writes: two
    # actions consume it (each run_batch is one write that observes its
    # batch identity), and unpersisted each one re-ran the events scan AND
    # the per-partition offset window (r15 optimization, guide §1.6/§5.2).
    # Scoped persist inside one invocation — nothing survives the query.
    env = _events_envelope(spark, sf_dir).persist()
    out = _scratch_dir("engine_schema_evo", sf_dir)
    v1 = env.filter(F.col("event_id") % 2 == 0)
    v2 = env.filter(F.col("event_id") % 2 == 1)
    tracker = SchemaTracker(Compatibility.BACKWARD)
    # explicit checks, not asserts: python -O strips asserts, and the
    # compatibility gate is the thing this query exists to exercise
    # (round-9 review)
    try:
        if tracker.observe(EVENTS_V1_SCHEMA) != "rotate":
            raise RuntimeError("first schema must open a file group")
        v2_schema = T.StructType(
            EVENTS_V1_SCHEMA.fields + [T.StructField("value", T.DoubleType(), True)]
        )
        if tracker.observe(v2_schema) != "rotate":
            raise RuntimeError("nullable-add under BACKWARD must rotate")
        # The two generation writes are INDEPENDENT jobs over the shared
        # persisted envelope (different output dirs, disjoint row sets,
        # no session-conf toggles on the non-parity path), so they run
        # from a 2-thread pool and the second write back-fills executors
        # the first one's tail leaves idle (guide §2.6 — overlap
        # independent jobs; r15 optimization, measured 0.78x with the
        # result pinned bit-equal). The tracker's observe() sequence —
        # the compatibility semantics this query exercises — stays
        # sequential above, identical to the serial form.
        from concurrent.futures import ThreadPoolExecutor

        p1 = IngestPipeline(out + "/g1", EVENTS_V1_SCHEMA, flush_size=10_000)
        p2 = IngestPipeline(out + "/g2", v2_schema, flush_size=10_000)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f1 = pool.submit(p1.run_batch, v1)
            f2 = pool.submit(p2.run_batch, v2)
            f1.result()
            f2.result()
    finally:
        env.unpersist()
    merged = (
        spark.read.format("orc")
        .option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .load(out)
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_event_id"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_pre_evolution"),
            dsum("value").alias("total_value_v2"),
        )
        .orderBy("event_type")
    )


# null(value) after the merge ⇔ the row was written pre-evolution (even
# event_id) OR its source value was already null — the oracle replays that
# equivalence exactly.
SCHEMA_EVOLUTION_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CASE WHEN event_id % 2 = 0 OR value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pre_evolution,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE)
         AS total_value_v2
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro package is loaded (delegates to THE shared
    probe in sources/kafka_envelope.py — one place to update if Spark's
    error class changes)."""
    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        avro_plan_available,
    )

    return avro_plan_available(spark)


def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual value chain — Connect→**Avro**→columnar
    (``OrcRecordWriter.java:64,71``) — as a registered, ORACLE-GATED entry.
    Events rows are encoded to real Avro binary (the Kafka value payload)
    and decoded back through the engine's Connect-style Avro-JSON schema,
    then aggregated — the aggregate is non-degenerate only if the Avro
    encode/decode is lossless, and the DuckDB oracle (the same aggregate
    over the source table) hash-certifies exactly that.

    Two codec paths, same bytes-on-the-wire format:

    - spark-avro jar present → JVM ``to_avro``/``from_avro`` (preferred;
      whole-stage, zero Python);
    - otherwise (this container) → the engine's spec-compliant pure-Python
      binary codec (functions/avro_codec.py), Arrow-batched, cross-validated
      against the JVM Avro library in tests/test_avro_codec.py.
    """
    import json as _json

    from kafka_connect_storage_cloud_formats_spark.catalog import spread
    from kafka_connect_storage_cloud_formats_spark.schema import spark_schema_to_avro

    # spread: the per-row Avro byte assembly is the heaviest Python map in
    # the engine, and the events scan is a single split at test SFs — one
    # task would encode the whole table. Guarded no-op at scale
    # (catalog.spread).
    events = spread(load_table(spark, sf_dir, "events"))
    avro_schema = spark_schema_to_avro(EVENTS_VALUE_SCHEMA)
    struct_col = F.struct(*[f.name for f in EVENTS_VALUE_SCHEMA.fields])
    if _avro_available(spark):
        from pyspark.sql.avro.functions import from_avro, to_avro

        schema_json = _json.dumps(avro_schema)
        # Encode against the SAME explicit schema the decoder uses: without
        # it, spark-avro derives nullable unions as [T, "null"] (null LAST)
        # while the engine's Connect-style schema is ["null", T], and
        # from_avro does no writer/reader resolution — branch indices would
        # be misread and nullable fields would decode corrupt.
        payload = events.select(to_avro(struct_col, schema_json).alias("value"))
        decoded = payload.select(from_avro("value", schema_json).alias("v"))
    else:
        from kafka_connect_storage_cloud_formats_spark.functions.avro_codec import (
            avro_decode_df,
            avro_encode_df,
        )

        payload = avro_encode_df(
            events.select(*[f.name for f in EVENTS_VALUE_SCHEMA.fields]), avro_schema
        )
        decoded = avro_decode_df(payload, avro_schema, EVENTS_VALUE_SCHEMA).select(
            F.struct(*[f.name for f in EVENTS_VALUE_SCHEMA.fields]).alias("v")
        )
    return (
        decoded.select("v.*")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_event_id"),
            dsum("value").alias("total_value"),
        )
        .orderBy("event_type")
    )


AVRO_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


JSON_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""
