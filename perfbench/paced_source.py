"""A wall-clock paced Kinesis stream for the ``stream_ingest`` workload.

The reader subclasses the program's ``FakeKinesisStreamReader`` and
overrides only where the stream starts and how far it has grown:
``latestOffset`` returns, per shard, the records due by wall-clock time
at that shard's fixed rate, so the load is an open loop that does not
slow when the query slows. Slicing by ``maxRecordsPerFetch``
(``partitions``) and the Arrow record batches (``_read_slice``) stay the
program's own code. ``initialOffset`` returns the seeded per-shard start
sequence numbers, so payloads vary by seed while the load stays the same.

Record ``k`` (0-based) of shard ``s`` is due at
``t0_us + (k + 1) * 1_000_000 // rate_s`` microseconds, integer
arithmetic the query and the checks reproduce exactly.

This module is imported by Spark's Python workers, so it holds nothing
but the source classes.
"""

from __future__ import annotations

import time

from kinesis_app_spark.sources.fake_kinesis import (
    FakeKinesisDataSource,
    FakeKinesisStreamReader,
)


def due_count(elapsed_us: int, rate: int) -> int:
    """Records of a shard at ``rate`` rec/s due ``elapsed_us`` after t0:
    the largest ``n`` with ``n * 1_000_000 // rate <= elapsed_us``."""
    if elapsed_us < 0:
        return 0
    return ((elapsed_us + 1) * rate - 1) // 1_000_000


def due_us(t0_us: int, k: int, rate: int) -> int:
    """Due time (epoch microseconds) of the 0-based record ``k``."""
    return t0_us + (k + 1) * 1_000_000 // rate


class PacedKinesisStreamReader(FakeKinesisStreamReader):
    """Options on top of the fake source's: ``t0Us`` (epoch micros the
    load starts), ``rates`` and ``starts`` (comma-separated, one per
    shard)."""

    def __init__(self, options):
        super().__init__(options)
        self.t0_us = int(options["t0us"])
        self.rates = [int(x) for x in options["rates"].split(",")]
        self.starts = [int(x) for x in options["starts"].split(",")]

    def initialOffset(self):
        return {str(s): self.starts[s] for s in range(self.n_shards)}

    def latestOffset(self):
        elapsed = time.time_ns() // 1000 - self.t0_us
        return {
            str(s): self.starts[s] + due_count(elapsed, self.rates[s])
            for s in range(self.n_shards)
        }


class PacedKinesisDataSource(FakeKinesisDataSource):
    @classmethod
    def name(cls):
        return "paced_kinesis"

    def streamReader(self, schema):
        return PacedKinesisStreamReader(self.options)
