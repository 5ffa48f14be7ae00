"""Control-plane operators over the file registry.

The reference drives a six-state file status machine stored in ClickHouse
(`ticker_files`) via hard-coded SQL (SURVEY.md §2A). Here each operator is a
pure DataFrame transform; the status machine's mutability is handled with an
append-only event log + latest-wins compaction (SURVEY.md §7), which scales:
no in-place updates, the compaction is one hash-shuffle by filename, and
Catalyst pushes status/date filters into the parquet scan.

Reference citations (files under /root/reference/MainService/src/main/java):
- O2  max date:            ClickHouseDAO.java:121-131
- O5  dedup anti-join:     SaveNewFilesToDbFlow.java:222-236, ClickHouseDAO.java:36
- O7  status IN filter:    ClickHouseDAO.java:91-119
- O8  transition rules:    ProceedFilesStatusFlow.java:74-111
- O9  filtered update:     FlowsUtil.java:15-23, ClickHouseDAO.java:169-182
- O10 point lookup:        ClickHouseDAO.java:74-89
- O11 date-equality:       ClickHouseDAO.java:50-72
- O12 group-by collect:    UploadTickerFilesStatusAndDataFlow.java:108-115
- O13 registry⋈fs join:    UploadTickerFilesStatusAndDataFlow.java:117-133
- O14 sort by filename:    UploadTickerFilesStatusAndDataFlow.java:153
- O19 status rollup:       CompressionHandler.java:92-100, TickersDataLoader.java:160-168
- O22 filtered MIN/MAX:    ClickHouseDAO.java:133-144
- O23 retention guard:     CleanupUploadedFilesFlow.java:102-111
- O24 cleanup selection:   CleanupUploadedFilesFlow.java:116-188
- O25 COUNT(*):            ClickHouseDAO.java:193-202
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def max_create_date(registry: DataFrame) -> DataFrame:
    """O2 — `SELECT MAX(create_date)`; parquet answers this from footer stats."""
    return registry.agg(F.max("create_date").alias("max_create_date"))


def dedup_new_files(candidates: DataFrame, registry: DataFrame) -> DataFrame:
    """O5 — drop candidates already registered: the canonical left-anti join.

    At scale: the registry side is filtered to the candidate date range first
    by the caller when possible; AQE turns this into a broadcast anti-join
    whenever the deduped candidate batch is small (the common case: one
    micro-batch of new files vs. years of registry).
    """
    return candidates.join(registry, "filename", "left_anti")


def filter_status_in(registry: DataFrame, statuses: Sequence[str]) -> DataFrame:
    """O7 — `WHERE status IN (...)`; pushed to the parquet scan by Catalyst."""
    return registry.filter(F.col("status").isin(*statuses))


def transition_statuses(registry: DataFrame, today: str) -> DataFrame:
    """O8 — the status-machine CASE (ProceedFilesStatusFlow.java:81-90).

    - today's DISCOVERED      -> DOWNLOADING
    - past DISCOVERED/DOWNLOADING -> READY_FOR_PROCESSING (the system's real
      1-day completeness watermark, SURVEY.md §7)
    - everything else unchanged.

    `today` is an explicit parameter, not current_date(): determinism across
    engines and across a midnight boundary mid-job.
    """
    d = F.to_date(F.lit(today))
    return registry.withColumn(
        "status",
        F.when(
            (F.col("create_date") == d) & (F.col("status") == "DISCOVERED"),
            F.lit("DOWNLOADING"),
        )
        .when(
            (F.col("create_date") < d)
            & F.col("status").isin("DISCOVERED", "DOWNLOADING"),
            F.lit("READY_FOR_PROCESSING"),
        )
        .otherwise(F.col("status")),
    )


def current_state(events: DataFrame) -> DataFrame:
    """O9 — latest-wins compaction of the registry event log.

    ClickHouse `ALTER TABLE UPDATE` has no vanilla-Spark analogue; instead
    status changes append events and the current state is
    `row_number() over (partition by filename order by seq desc) = 1`.
    One shuffle on filename; at 100 TB the event log is partitioned by
    create_date so compaction only touches open partitions.
    """
    w = Window.partitionBy("filename").orderBy(F.col("seq").desc())
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_status_update(
    events: DataFrame,
    filenames: DataFrame,
    new_status: str,
    expected_status: str | None,
    seq: int,
    batch_id: int | None = None,
) -> DataFrame:
    """O9 — append-only equivalent of the reference's filtered bulk UPDATE.

    The reference updates only rows currently holding `expected_status`
    (optimistic claim, FlowsUtil.java:15-23). Here: compact, filter to the
    expected status + requested filenames, and emit new events.
    """
    cur = current_state(events)
    if expected_status is not None:
        cur = cur.filter(F.col("status") == expected_status)
    hits = cur.join(filenames.select("filename"), "filename", "left_semi")
    new_events = hits.select(
        "filename",
        "create_date",
        F.lit(new_status).alias("status"),
        F.lit(seq).cast("long").alias("seq"),
        F.lit(batch_id).cast("long").alias("batch_id"),
    )
    return events.unionByName(new_events)


def point_lookup(registry: DataFrame, filename: str) -> DataFrame:
    """O10 — `SELECT status WHERE filename = ?` (scan-pruned point read)."""
    return registry.filter(F.col("filename") == F.lit(filename)).select(
        "filename", "status"
    )


def filter_date_eq(registry: DataFrame, date: str) -> DataFrame:
    """O11 — `WHERE create_date = DATE ?`; partition-prunes on a date-
    partitioned registry."""
    return registry.filter(F.col("create_date") == F.to_date(F.lit(date)))


def files_by_date(registry: DataFrame) -> DataFrame:
    """O12 — group by date -> set of filenames.

    array_sort makes the set canonical (comparable across engines and runs —
    collect_set order is nondeterministic by contract).
    """
    return registry.groupBy("create_date").agg(
        F.array_sort(F.collect_set("filename")).alias("filenames")
    )


def registry_fs_join(fs: DataFrame, registry: DataFrame) -> DataFrame:
    """O13 — inner equi-join on the composite (create_date, filename) key."""
    return fs.join(registry, ["create_date", "filename"], "inner")


def sort_by_filename(df: DataFrame) -> DataFrame:
    """O14 — global sort (range-partitioned exchange + per-partition sort)."""
    return df.orderBy("filename")


def upload_status_rollup(part_results: DataFrame) -> DataFrame:
    """O19 — per-file FINISHED/ERROR from per-part upload outcomes.

    A file is FINISHED only if every one of its parts succeeded; any failed
    part poisons the file to ERROR (TickersDataLoader.java:160-168). Partial
    aggregation (map-side bool_and) keeps the shuffle tiny.
    """
    return part_results.groupBy("filename").agg(
        F.when(F.bool_and(F.col("ok")), F.lit("FINISHED"))
        .otherwise(F.lit("ERROR"))
        .alias("status")
    )


def min_max_finished_dates(
    registry: DataFrame, status: str = "FINISHED"
) -> DataFrame:
    """O22 — `SELECT MIN(d), MAX(d) WHERE status = ?` in a single pass."""
    return registry.filter(F.col("status") == status).agg(
        F.min("create_date").alias("min_date"),
        F.max("create_date").alias("max_date"),
    )


def retention_guard(registry: DataFrame, today: str) -> DataFrame:
    """O23 — skip cleanup when the FINISHED window is degenerate or too fresh.

    skip iff min==max, min==today, or min+1day==today — the reference's 1-day
    on-disk backup guarantee (CleanupUploadedFilesFlow.java:102-111).
    """
    d = F.to_date(F.lit(today))
    agg = min_max_finished_dates(registry)
    return agg.select(
        "min_date",
        "max_date",
        (
            (F.col("min_date") == F.col("max_date"))
            | (F.col("min_date") == d)
            | (F.date_add(F.col("min_date"), 1) == d)
        ).alias("skip_cleanup"),
    )


def cleanup_candidates(
    fs: DataFrame, registry: DataFrame, last_uploaded_date: str
) -> DataFrame:
    """O24 (selection half) — files safe to delete from disk.

    FINISHED files in date-dirs strictly older than last_uploaded_date - 1
    (CleanupUploadedFilesFlow.java:134,150-152). The deletion itself is a
    driver-side side effect outside the data plane (see streaming.cleanup).
    """
    cutoff = F.date_add(F.to_date(F.lit(last_uploaded_date)), -1)
    reg = registry.filter(
        (F.col("status") == "FINISHED") & (F.col("create_date") < cutoff)
    )
    return fs.join(reg, ["create_date", "filename"], "inner").select(
        "create_date", "filename"
    )


def count_rows(df: DataFrame) -> DataFrame:
    """O25 — COUNT(*) diagnostics."""
    return df.agg(F.count(F.lit(1)).alias("n"))
