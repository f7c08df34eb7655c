"""Fault-injecting delivery transport for the benchmark's forwarder runs.

Runs inside Spark's Python workers (this module must be importable
there). Wraps the program's LocalDirTransport: a record whose fault key
(gen.fault_key) is at or below `twice_at` fails its first two sends, at
or below `once_at` its first send; everything else is delivered on the
first call. Counts flow back to the driver through accumulators.
"""

from __future__ import annotations

import time

from kinesis_to_firehose_spark.streaming.firehose import (
    LocalDirTransport,
    RetryingTransport,
)
from perfbench.gen import fault_key


class FaultyTransport:
    def __init__(self, inner, seed: int, once_at: int, twice_at: int, counters):
        self.inner = inner
        self.seed = seed
        self.once_at = once_at
        self.twice_at = twice_at
        self.counters = counters
        self.sends: dict[bytes, int] = {}

    def _fails(self, record: bytes) -> int:
        if self.once_at < 0:
            return 0
        key = fault_key(self.seed, record)
        return 2 if key <= self.twice_at else 1 if key <= self.once_at else 0

    def __call__(self, records: list[bytes], stream: str) -> list[int]:
        failed, ok, resent = [], [], 0
        for i, r in enumerate(records):
            n = self.sends.get(r, 0)
            resent += n > 0
            if n < self._fails(r):
                self.sends[r] = n + 1
                failed.append(i)
            else:
                ok.append(r)
        t0 = time.perf_counter()
        if ok:
            self.inner(ok, stream)
        calls, recs, retried, put_s = self.counters
        calls.add(1)
        recs.add(len(records))
        retried.add(resent)
        put_s.add(time.perf_counter() - t0)
        return failed


class FaultyTransportFactory:
    """`transport_factory` for run_pipeline: the task id comes from the
    Spark partition id, as on the default path, so a replayed epoch
    rewrites the same files."""

    def __init__(self, root: str, seed: int, once_at: int, twice_at: int, counters):
        self.root = root
        self.seed = seed
        self.once_at = once_at
        self.twice_at = twice_at
        self.counters = counters

    def __call__(self, epoch_id: int):
        from pyspark import TaskContext

        tc = TaskContext.get()
        task_id = f"p{tc.partitionId():05d}" if tc is not None else "p00000"
        local = LocalDirTransport(self.root, epoch_id, task_id=task_id)
        return RetryingTransport(
            FaultyTransport(local, self.seed, self.once_at, self.twice_at, self.counters)
        )


def null_transport_factory(epoch_id: int):
    """A transport that accepts and drops every record: what is left of
    the sink's time is the JVM to Python hand-off and batching."""
    return lambda records, stream: []
