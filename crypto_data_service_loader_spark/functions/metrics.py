"""Throughput metrics + structured log events (reference O28/O29).

The reference logs per-bundle compression MB/s into Log4j2 MDC fields
(CompressionHandler.java:113-134) and ships JSON log events to a ClickHouse
`tickers_logs` table via a custom appender (LogMsgLayout.json:1-30). Here:

- `timed(...)` context manager captures wall time around a write/stage;
- `throughput_event(...)` builds the same MDC-shaped payload
  (data_size / rate / total_time);
- `LogEventBuffer` accumulates events driver-side and flushes them as a
  LOG_EVENT-schema DataFrame to any sink — the log *table* becomes a
  queryable DataFrame exactly like the reference's tickers_logs.
"""

from __future__ import annotations

import datetime
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..schemas import LOG_EVENT


def throughput_event(
    message: str, rows: int, data_bytes: int, seconds: float,
    severity: str = "INFO", thread: str = "driver",
) -> tuple:
    mdc = {
        "data_size": str(data_bytes),
        "rows": str(rows),
        "rate_mb_s": f"{(data_bytes / 1048576) / seconds:.2f}" if seconds > 0 else "inf",
        "rows_per_s": f"{rows / seconds:.1f}" if seconds > 0 else "inf",
        "total_time": f"{seconds:.2f}",
    }
    return (
        datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None),
        severity, thread, message, mdc, None, None,
    )


@dataclass
class LogEventBuffer:
    """Driver-side buffer of LOG_EVENT rows; flush() -> DataFrame."""

    events: list = field(default_factory=list)

    def add(self, event: tuple) -> None:
        self.events.append(event)

    def flush(self, spark: SparkSession) -> DataFrame:
        df = spark.createDataFrame(self.events, LOG_EVENT)
        self.events = []
        return df


@contextmanager
def timed(buffer: LogEventBuffer, message: str, rows: int = 0, data_bytes: int = 0):
    """Capture wall time around a block and append a throughput event."""
    t0 = time.perf_counter()
    holder = {"rows": rows, "bytes": data_bytes}
    try:
        yield holder
    finally:
        buffer.add(
            throughput_event(
                message, holder["rows"], holder["bytes"],
                time.perf_counter() - t0,
            )
        )


def observed_metrics(obs, timeout: float = 5.0) -> dict | None:
    """Read an Observation's metrics with a bounded wait.

    `Observation.get` BLOCKS until the first action runs over the observed
    plan (getRow() waits indefinitely) — so reading it after a sink that
    never executed the plan would hang the caller, not raise. This helper
    polls on a daemon thread and gives up after `timeout` seconds,
    returning the metrics dict or None (metrics not yet available). The
    abandoned daemon thread parks on the JVM wait and dies with the
    process — it holds no locks the caller needs.
    """
    import threading

    box: dict = {}

    def _read() -> None:
        try:
            box["m"] = dict(obs.get)
        except Exception:  # noqa: BLE001 — treat any read error as absent
            pass

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout)
    return box.get("m")
