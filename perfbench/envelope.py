"""Seeded Kafka-envelope generator for the ingest workloads.

Each call to :meth:`EnvelopeGenerator.write_batch` writes one poll batch as a
Parquet file with the columns a Kafka Connect sink task sees: ``key, topic,
partition, offset`` plus the value fields ``event_id, user_id, event_type,
value, props``. The value fields other than ``event_id`` are whole rows drawn,
with replacement and from the seed, out of the committed ``events`` table of
the corpus (``data/sf0.01/events.parquet``), so user skew, the event-type mix,
value precision and the ``props`` payload are the corpus's own. Only the
envelope is assembled here: records go to 3 topic-partitions by a hash of
``user_id`` (keyed partitioning), and offsets are contiguous within each
partition across batches, so the partitions are unequal and batch edges never
line up with a flush size.

``event_id`` is global and contiguous: batch ``b`` holds ids
``[b * batch_records, (b + 1) * batch_records)``. The verifier uses these
ranges to check the read-back batch by batch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import types as T

TOPIC = "events"
NUM_PARTITIONS = 3
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01", "events.parquet")

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
VALUE_COLS = tuple(f.name for f in VALUE_SCHEMA.fields)
SAMPLED_COLS = ("user_id", "event_type", "value", "props")


class EnvelopeGenerator:
    """Writes consecutive poll batches of ``batch_records`` records into
    ``out_dir``; the same ``seed`` gives byte-identical batches."""

    def __init__(self, seed: int, batch_records: int, out_dir: str) -> None:
        self.rng = np.random.default_rng(seed)
        self.source = pq.read_table(SOURCE, columns=list(SAMPLED_COLS))
        self.batch_records = batch_records
        self.out_dir = out_dir
        self.next_offset = np.zeros(NUM_PARTITIONS, dtype=np.int64)
        self.batches = 0
        os.makedirs(out_dir, exist_ok=True)

    def write_batch(self) -> tuple[str, int]:
        """Write the next batch; return its path and payload size in bytes
        (the in-memory Arrow size of the envelope)."""
        n, b, rng = self.batch_records, self.batches, self.rng
        event_id = np.arange(b * n, (b + 1) * n, dtype=np.int64)
        rows = self.source.take(pa.array(rng.integers(0, self.source.num_rows, n)))
        user_id = rows["user_id"].to_numpy()
        partition = ((user_id * 2654435761) % (1 << 32) % NUM_PARTITIONS).astype(np.int32)
        offset = np.empty(n, dtype=np.int64)
        for p in range(NUM_PARTITIONS):
            mask = partition == p
            count = int(mask.sum())
            offset[mask] = self.next_offset[p] + np.arange(count, dtype=np.int64)
            self.next_offset[p] += count
        table = pa.table(
            {
                "key": pc.binary_join_element_wise("u", pc.cast(rows["user_id"], pa.string()), ""),
                "topic": pa.array([TOPIC] * n, pa.string()),
                "partition": pa.array(partition),
                "offset": pa.array(offset),
                "event_id": pa.array(event_id),
                **{c: rows[c] for c in SAMPLED_COLS},
            }
        )
        path = os.path.join(self.out_dir, f"batch-{b:06d}.parquet")
        pq.write_table(table, path)
        self.batches += 1
        return path, table.nbytes
