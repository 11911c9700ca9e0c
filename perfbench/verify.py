"""Output checks: per-batch digests for ingest, value hashes for queries,
and a red test proving the checks catch what they claim to catch.

Ingest: every batch is a contiguous ``event_id`` range, so grouping rows by
``event_id // batch_records`` assigns each row to the batch that produced it.
A batch's digest is its row count plus the sum of a 64-bit hash of all its
value columns, so a missing, duplicated or changed record changes it. The
expected digests come from the generated input files read by plain Spark,
never through the package.

Queries: a result's hash is taken over its rows sorted after each value is
rendered as text, the same rendering the expected hashes were made with
from the DuckDB oracle SQL (``oracle.py``).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from envelope import VALUE_COLS, VALUE_SCHEMA
from tracing import Span, reconciles

Digests = dict[int, tuple[int, int]]


def batch_digests(df: DataFrame, batch_records: int) -> Digests:
    """batch id → (rows, sum of xxhash64 over the value columns)."""
    rows = (
        df.groupBy(F.floor(F.col("event_id") / batch_records).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*VALUE_COLS).cast("decimal(20,0)")).alias("h"),
        )
        .collect()
    )
    return {int(r["b"]): (int(r["n"]), int(r["h"])) for r in rows}


def compare_batches(expected: Digests, observed: Digests) -> tuple[list[int], int]:
    """Return the batches whose read-back differs from their input, and the
    number of input records missing from the read-back. A batch present in
    the read-back but never written also counts as failed."""
    failed, lost = [], 0
    for b, (n, h) in expected.items():
        got = observed.get(b, (0, 0))
        if got != (n, h):
            failed.append(b)
        lost += max(0, n - got[0])
    failed += [b for b in observed if b not in expected]
    return sorted(failed), lost


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, columns) -> str:
    """Order-insensitive hash of a result, columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check_query(rows, columns, expected: dict) -> str | None:
    """Return a problem description, or None when the result matches."""
    if len(rows) != expected["rows"]:
        return f"rows {len(rows)} != {expected['rows']}"
    got = value_hash(rows, columns)
    if got != expected["hash"]:
        return f"hash {got} != {expected['hash']}"
    return None


def _trace_red_test() -> list[str]:
    """A traced query operation whose layer spans cover its wall clock, then
    the same operation with its exec span dropped."""
    spans = []
    for name, start, end, parent in (("op", 0.0, 0.1005, None),
                                     ("registry.plan_build", 0.0, 0.010, 0),
                                     ("registry.exec", 0.011, 0.100, 0)):
        sp = Span(name, start, start, parent, 0, "timed", 0)
        sp.end = end
        spans.append(sp)
    walls = {0: 0.1005}
    problems = []
    if not reconciles(spans, walls):
        problems.append("complete trace flagged as unreconciled")
    if reconciles(spans[:2], walls):
        problems.append("dropped span not flagged")
    return problems


def red_test(spark: SparkSession) -> list[str]:
    """Inject a missing batch, a corrupted value, a wrong query hash and a
    dropped trace span, and return every injection the checks failed to flag
    (empty on success)."""
    per = 4
    rows = [(i, i % 3, "view", i * 1.5, f"p{i}") for i in range(3 * per)]
    good = spark.createDataFrame(rows, VALUE_SCHEMA)
    expected = batch_digests(good, per)
    problems = []
    if compare_batches(expected, batch_digests(good, per)) != ([], 0):
        problems.append("clean read-back flagged")
    missing = good.filter(~F.col("event_id").between(per, 2 * per - 1))
    if compare_batches(expected, batch_digests(missing, per)) != ([1], per):
        problems.append("missing batch not flagged")
    corrupt = good.withColumn(
        "value", F.when(F.col("event_id") == 2 * per + 1, F.col("value") + 1e-9).otherwise(F.col("value"))
    )
    if compare_batches(expected, batch_digests(corrupt, per)) != ([2], 0):
        problems.append("corrupted value not flagged")
    result, cols = [(1, "a", 0.5), (2, "b", None)], ["k", "s", "x"]
    truth = {"rows": 2, "hash": value_hash(result, cols)}
    if check_query(result, cols, truth) is not None:
        problems.append("matching query hash flagged")
    if check_query([(1, "a", 0.5), (2, "b", 0.25)], cols, truth) is None:
        problems.append("wrong query hash not flagged")
    return problems + _trace_red_test()
