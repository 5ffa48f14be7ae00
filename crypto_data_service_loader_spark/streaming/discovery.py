"""File-discovery stream (reference Flow 1 / EP1, SURVEY.md §3).

Reference: WatchService + buffer + (size>8192 ∨ 15s) flush + SQL semi-join
dedup + TSV INSERT (SaveNewFilesToDbFlow.java). Spark-first: the streaming
file source over `root/*/` IS the watcher+buffer+backfill (its initial
listing is the backfill scan O1; micro-batches are the flush; checkpointing
is the restart story). The dedup+append is the service's cycle core, which
`streaming.service.start_service_stream` runs on each micro-batch.

Scale: the file source keeps seen-file state in the checkpoint (compaction
handles millions of entries); `maxFilesPerTrigger` paces ingest; the
anti-join broadcasts the micro-batch against the registry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

from ..sources.fs_scan import path_to_registry_cols

#: binaryFile's fixed schema — streaming sources require it explicitly.
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def discovered_files_stream(
    spark: SparkSession, root: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source of (filename, create_date, DISCOVERED) rows for
    every file appearing under root/<date>/."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("recursiveFileLookup", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(os.path.join(root, "*"))
    return path_to_registry_cols(files.select("path"))

