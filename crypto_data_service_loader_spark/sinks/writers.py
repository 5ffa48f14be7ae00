"""The sink contract (reference O6/O18, SURVEY.md §2A).

The reference loads ticks one way: GZIP'd CSV over ClickHouse's HTTP
interface (ClickHouseDAO.java:146-158). A sink here takes a DataFrame and
the batch id it is written under, and the write must be idempotent per
batch id: a replayed or retried batch replaces what an earlier attempt of
the same batch committed, never adds to it. That is what makes each valid
row land exactly once (the reference restarts a failed bundle and can
double-insert). Implementations:

- `idempotent.IdempotentParquetSink`: local default, one parquet
  partition per batch id, replaced by dynamic partition overwrite.
- `clickhouse_http.ClickHouseHttpSink`: the reference's wire path, with a
  per-chunk dedup token and `reset_batch` dropping the batch's partition.
- `MemorySink` below: tests only; it records every call, replays included.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


class Sink:
    def write(self, df: DataFrame, batch_id: int | None = None) -> None:
        raise NotImplementedError

    def reset_batch(self, batch_id: int | None) -> None:
        """Drop everything previously committed under `batch_id`, so a
        RESHAPED retry (different partitioning/chunking than the failed
        attempt — per-chunk dedup tokens no longer match) can rewrite the
        batch without double-counting (round 15, VERDICT r14 #7). Default
        no-op: sinks whose write is already batch-idempotent by layout
        (dynamic partition overwrite, deterministic re-chunking) need
        nothing; transports that append opaque chunks (ClickHouse HTTP)
        override with a partition drop."""


@dataclass
class MemorySink(Sink):
    """Test sink: collects written batches driver-side. Can be armed to fail
    N times (failure-injection tests mirroring TickersDataLoaderTest)."""

    batches: list = field(default_factory=list)
    fail_times: int = 0
    write_calls: int = 0

    def write(self, df: DataFrame, batch_id: int | None = None) -> None:
        self.write_calls += 1
        if self.write_calls <= self.fail_times:
            raise RuntimeError(f"injected sink failure #{self.write_calls}")
        self.batches.append((batch_id, df.collect()))
