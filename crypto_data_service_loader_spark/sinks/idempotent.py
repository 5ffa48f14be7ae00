"""Idempotent (exactly-once) batch sink — SURVEY.md §7.

The reference is at-least-once: a failed bundle restarts the whole GZIP
stream and can double-insert ticks (TickersDataLoader.java:112-158 restarts;
ClickHouse dedup not configured). Inside Spark's foreachBatch the batch id
is stable across replays of the same epoch, so a sink keyed on batch_id is
exactly-once: each batch writes to `<path>/batch_id=<id>` with overwrite —
a replayed epoch overwrites its own output, never appends a duplicate.
(`clickhouse_http.ClickHouseHttpSink` is the same contract on the server.)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .writers import Sink


@dataclass
class IdempotentParquetSink(Sink):
    """Exactly-once parquet sink: one partition dir per batch id, replay
    overwrites in place (dynamic partition overwrite).

    `reset_batch` stays the base class's no-op: write() replaces the whole
    batch_id partition atomically, so ANY retry, reshaped or not, already
    drops what an earlier attempt committed (the property the ClickHouse
    HTTP sink needs an explicit DROP PARTITION to get)."""

    path: str

    def write(self, df: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is None:
            # an unkeyed write would silently land in (and clobber) batch 0
            raise ValueError("IdempotentParquetSink requires an explicit batch_id")
        bid = int(batch_id)
        (
            df.withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def compact(
        self, spark: SparkSession, dedup_cols: list[str] | None = None
    ) -> int:
        """Fold committed epoch partitions into one base partition
        (batch_id = -1), keeping the MOST RECENT epoch as a delta — the
        small-files fix for long-running streams (one dir per epoch means
        thousands of tiny files per year of micro-batches).

        The tip epoch stays separate because it is the only epoch
        foreachBatch can ever replay (earlier epochs are implied committed
        by a later one existing), and a replay must still be able to
        exclude/overwrite its own partition. Crash-safety is by
        construction: the base rewrite commits first (materialized via
        localCheckpoint so the write never reads the directory it
        overwrites), and if the process dies before the folded epoch dirs
        are deleted, re-running compact() is self-healing — the refold
        re-reads base ∪ leftover epochs and `dedup_cols` collapses the
        overlap. `dedup_cols` is therefore REQUIRED (the row identity,
        e.g. ["doc_id"] for a corpus or ["fingerprint"] for an index):
        without it a crash-window re-run would re-union the already-folded
        rows into the new base, making the duplicates PERMANENT, not
        transient — so passing None raises instead of silently degrading.

        Returns the number of partitions folded (0 = nothing to do).
        """
        import os
        import shutil

        from pyspark.sql.utils import AnalysisException

        if not dedup_cols:
            raise ValueError(
                "compact() needs the row identity in dedup_cols: a refold "
                "after a crash between the base rewrite and the epoch-dir "
                "deletes re-unions already-folded rows, and only the "
                "identity dedup makes that self-healing"
            )
        try:
            df = spark.read.parquet(self.path)
        except AnalysisException:
            return 0
        bids = sorted(
            r[0] for r in df.select("batch_id").distinct().collect()
        )
        epochs = [b for b in bids if b >= 0]
        if len(epochs) < 2:
            return 0  # nothing committed beyond the replayable tip
        tip = epochs[-1]
        fold = [b for b in bids if b != tip]  # old base (-1) + settled epochs
        base = (
            df.filter(F.col("batch_id").isin(fold))
            .drop("batch_id")
            .dropDuplicates(dedup_cols)
            .localCheckpoint()
        )
        self.write(base, -1)
        for b in fold:
            if b != -1:
                shutil.rmtree(
                    os.path.join(self.path, f"batch_id={b}"),
                    ignore_errors=True,
                )
        return len(fold)
