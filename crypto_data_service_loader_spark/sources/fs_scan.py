"""Filesystem registry scan (reference O1/O3, SURVEY.md §2A).

The reference walks `rootPath/<YYYY-MM-DD>/<TICKER>_PST_<DATE>` with a Java
NIO WatchService + a backfill walk from max(create_date) to today
(SaveNewFilesToDbFlow.java:76-117,120-169). Spark-first: the directory
listing IS the source — `binaryFile` (batch) or the streaming file source
(streaming/discovery.py) does the walk; filename/date are derived columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import REGISTRY


def path_to_registry_cols(df: DataFrame, path_col: str = "path") -> DataFrame:
    """Derive (filename, create_date, status=DISCOVERED) from file paths.

    Layout contract: .../<YYYY-MM-DD>/<filename> — date is the parent dir
    (reference parses the same way, SaveNewFilesToDbFlow.java:152).
    Files under non-date directories (e.g. a sink's _out dir) are skipped,
    not failed — try_cast instead of an ANSI-throwing to_date.
    """
    parts = F.split(F.col(path_col), "/")
    return df.select(
        F.element_at(parts, -1).alias("filename"),
        F.element_at(parts, -2).try_cast("date").alias("create_date"),
        F.lit("DISCOVERED").alias("status"),
    ).filter(F.col("create_date").isNotNull())


def scan_directory(spark: SparkSession, root: str) -> DataFrame:
    """O1 — backfill scan: every file under root/<date>/ (the reference
    scans from max(create_date) in the DB; here the registry dedup drops
    files already known).

    Uses the binaryFile source listing (no file contents are read: we select
    only `path`, and the column-pruned scan skips content). Partition-scales:
    listing is distributed, one task per listing chunk.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*")
        .option("recursiveFileLookup", "false")
        .load(os.path.join(root, "*"))
        .select("path")
    )
    return path_to_registry_cols(files)


def registry_from_listing(
    spark: SparkSession, rows: list[tuple[str, str, str]]
) -> DataFrame:
    """Small-driver-list constructor (tests, bootstrap)."""
    return spark.createDataFrame(
        [(f, d, s) for f, d, s in rows], schema=REGISTRY
    )
