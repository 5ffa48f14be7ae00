"""Upload pipeline — the hot path (reference Flow 3 / EP2, SURVEY.md §3).

Reference: claim READY_FOR_PROCESSING files (optimistic IN_PROGRESS update),
group by date, join against disk, sort, split into 32 bundles, stream GZIP
CSV into ClickHouse, then per-bundle FINISHED/ERROR rollup.

Spark-first batch composition (`run_upload_batch`): the claim becomes a
registry transform; there is no sort and no bundle split — the sink POSTs
straight from the CSV scan's partitions, with no shuffle between the scan
and the POST (nothing downstream reads a row order: outcomes come from the
directory listing) — and compression/pipelining belong to the sink
transport. Per-file success tracking uses `input_file_name()` lineage with
a try/except per file-group inside the batch (finer than the reference's
per-bundle ERROR granularity).

Scale contract: the claim set is NEVER collected on the driver. The hot
path collects one provably tiny set — the distinct (sink batch, claim
DATE, reclaimed) rows: batches are 1 + the number of crashed predecessor
cycles, dates are bounded by the retention window's calendar days, not by
file count. File selection happens distributed: glob the claimed dates'
directories, then semi-join the scan's `input_file_name()` lineage against
the claimed filenames.

Exactly-once contract: every claimed file carries a `sink_batch` — the
idempotence key its rows are written under. Fresh claims use the current
cycle's batch; RECLAIMED files (stale IN_PROGRESS from a crashed cycle)
keep their ORIGINAL claim batch, so the retry overwrites the same sink
partition that may already hold their rows (crash after sink commit,
before rollup) instead of duplicating them under a new batch id. A group
holding such files calls the sink's `reset_batch` before its write: its
chunks follow the scan's packing, not the claim, so they need not repeat
the first attempt's chunks (or dedup tokens) byte for byte.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.localrel import local_values_df

from ..functions.metrics import observe_counts, observed_metrics
from ..operators.registry import filter_status_in
from ..sinks.writers import Sink
from ..sources.csv_ingest import read_ticks_csv

logger = logging.getLogger(__name__)


def claim_ready_files(
    registry: DataFrame, current_batch: int | None = None
) -> DataFrame:
    """EP2 step 1: select READY_FOR_PROCESSING — the optimistic claim. In the
    event-log registry the IN_PROGRESS event is appended by the caller with
    this batch's id, making the claim idempotent per epoch.

    With `current_batch`, IN_PROGRESS claims from this or older batches are
    RECLAIMED: a crash between the claim append and the FINISHED/ERROR
    rollup would otherwise leave those files stuck forever (the reference
    has the same gap — a killed process orphans its IN_PROGRESS rows).
    `batch_id <= current` (not `<`) so a replayed epoch re-claims its OWN
    crashed attempt's files under the same stable cycle id.

    The result carries `sink_batch`: fresh claims get `current_batch`,
    reclaimed files keep the batch id recorded on their IN_PROGRESS event —
    which the claim append preserves across retries — so re-uploads always
    overwrite the original sink partition (no duplicates when the crash
    happened after the sink commit).

    Reclaim rewrites a whole sink partition, so the retry's write set must
    equal the batch's FULL original membership: if a mid-commit crash of the
    rollup append left some of the batch's files FINISHED and others
    IN_PROGRESS, retrying only the stuck subset would overwrite the
    partition WITHOUT the finished files' rows — silently deleting committed
    data. FINISHED files sharing a reclaimed sink batch (their rollup event
    records sink_batch as batch_id) are therefore re-claimed as companions:
    their rows are rewritten byte-identically into the same partition.
    """
    ready = filter_status_in(registry, ["READY_FOR_PROCESSING"])
    if current_batch is None:
        return ready
    ready = ready.withColumn(
        "sink_batch", F.lit(int(current_batch)).cast("long")
    )
    stale = registry.filter(
        (F.col("status") == "IN_PROGRESS") & (F.col("batch_id") <= current_batch)
    ).withColumn(
        "sink_batch",
        F.coalesce(F.col("batch_id"), F.lit(int(current_batch))).cast("long"),
    )
    # Companions: FINISHED files whose rollup recorded the same sink batch
    # as a file being reclaimed. Their committed rows live in the partition
    # the retry is about to overwrite, so they must ride along. Batches with
    # no stuck file are untouched (semi-join keeps this claim-set-sized).
    reclaimed_batches = stale.select(
        F.col("sink_batch").alias("_reclaim_batch")
    ).distinct()
    companions = (
        registry.filter(F.col("status") == "FINISHED")
        .join(
            reclaimed_batches,
            F.col("batch_id") == F.col("_reclaim_batch"),
            "left_semi",
        )
        .withColumn("sink_batch", F.col("batch_id").cast("long"))
    )
    return ready.unionByName(stale, allowMissingColumns=True).unionByName(
        companions, allowMissingColumns=True
    )


def run_upload_batch(
    spark: SparkSession,
    claimed: DataFrame,
    dir_for_date,  # Callable[[str], str]: create_date -> directory path
    sink: Sink,
    batch_id: int | None = None,
) -> DataFrame:
    """Load every claimed file's CSV rows, bulk-write via `sink`, and return
    per-file (filename, ok) outcomes for the O19 status rollup.

    Writes one sink batch per distinct `sink_batch` group (normally exactly
    one; one extra per crashed predecessor being retried), each under its
    own idempotence key. Whole-group failure falls back to per-file
    isolation (reference bundle semantics, TickersDataLoader.java:160-168).
    """
    if "sink_batch" not in claimed.columns:
        claimed = claimed.withColumn(
            "sink_batch", F.lit(batch_id).cast("long")
        )
    # A file an earlier attempt claimed (reclaimed IN_PROGRESS, or a
    # FINISHED companion) may already have rows committed under its batch.
    # The retry's chunks follow the CSV scan's packing, which unclaimed
    # files in the same date directories also shape, so its dedup tokens
    # need not repeat the first attempt's: such a batch is reset first.
    # bounded collect: one row per (sink batch, claimed DATE, reclaimed)
    dates: dict[int | None, list[str]] = {}
    reset: set[int | None] = set()
    for g, d, reclaimed in claimed.select(
        "sink_batch", "create_date",
        F.col("status") != "READY_FOR_PROCESSING",
    ).distinct().collect():
        dates.setdefault(g, []).append(str(d))
        if reclaimed:
            reset.add(g)
    if not dates:
        return local_values_df(
            spark, [], "filename string, ok boolean, sink_batch long"
        )
    outcomes: DataFrame | None = None
    for g in sorted(dates, key=lambda x: (x is None, x)):
        grp = (
            claimed.filter(F.col("sink_batch").isNull())
            if g is None
            else claimed.filter(F.col("sink_batch") == g)
        )
        out = _upload_group(spark, grp, sorted(set(dates[g])), dir_for_date,
                            sink, g, g in reset)
        outcomes = out if outcomes is None else outcomes.unionByName(out)
    return outcomes


def _basename(col):
    return F.element_at(F.split(col, "/"), -1)


def _listed_filenames(spark: SparkSession, globs: list[str]) -> DataFrame:
    """Distributed listing of the claimed dates' directories: basenames only.

    `binaryFile` prunes the `content` column when it isn't selected, so this
    is a pure FileIndex listing — no file is opened. Per-glob loads so one
    vanished date directory (retention cleanup raced the claim) empties that
    date's listing instead of failing the whole group.
    """
    parts: list[DataFrame] = []
    for g in globs:
        try:
            parts.append(
                spark.read.format("binaryFile").load(g).select("path")
            )
        except Exception:  # noqa: BLE001 — date dir deleted: nothing listed
            logger.warning("claimed date directory missing: %s", g)
    if not parts:
        return local_values_df(spark, [], "filename string")
    listed = parts[0]
    for p in parts[1:]:
        listed = listed.unionByName(p)
    return listed.select(_basename(F.col("path")).alias("filename")).distinct()


def _upload_group(
    spark: SparkSession,
    claimed: DataFrame,
    dates: list[str],
    dir_for_date,
    sink: Sink,
    sink_batch,
    reset: bool,
) -> DataFrame:
    globs = [os.path.join(dir_for_date(d), "*") for d in dates]
    names = claimed.select("filename")

    ticks = (
        read_ticks_csv(spark, globs)
        .withColumn("filename", _basename(F.col("_source_file")))
        .drop("_source_file")
        # lineage join: keep only claimed files (the glob may sweep in
        # same-day files that are not READY yet); filenames are globally
        # unique (the registry dedups on filename), so basename suffices
        .join(names, "filename", "left_semi")
    )
    try:
        # task-side accounting: the row count aggregates on the executors
        # during the sink write itself (no second scan of the CSVs — at
        # scale a post-hoc count() would double the read cost)
        payload, obs = observe_counts(
            ticks.drop("filename"), name="upload_rows"
        )
        if reset:
            # duck-typed like the isolation path below
            getattr(sink, "reset_batch", lambda _b: None)(sink_batch)
        sink.write(payload, batch_id=sink_batch)
        # bounded wait: Observation.get BLOCKS until the observed plan has
        # run an action — a custom sink that never executed `payload`
        # would hang here, not raise, so read via the timeout helper
        got = observed_metrics(obs, timeout=5.0)
        if got is not None:
            logger.info(
                "sink batch %s committed %s rows", sink_batch, got.get("rows")
            )
        else:
            logger.info(
                "sink batch %s committed (row count unavailable)", sink_batch
            )
        # ok is derived from the scanned lineage, not assumed: a claimed
        # file deleted from disk after the claim (e.g. retention cleanup)
        # is absent from the listing and must roll up ERROR, not FINISHED —
        # the write committed zero rows for it.
        listed = _listed_filenames(spark, globs).withColumn(
            "_seen", F.lit(True)
        )
        return (
            names.distinct()
            .join(listed, "filename", "left")
            .select(
                "filename",
                F.coalesce(F.col("_seen"), F.lit(False)).alias("ok"),
                F.lit(sink_batch).cast("long").alias("sink_batch"),
            )
        )
    except Exception:
        logger.exception(
            "upload batch %s failed; isolating per file", sink_batch
        )

    # Finer than the reference's per-bundle ERROR (SURVEY.md §7): parse each
    # file alone so one poison file maps to one ERROR, then commit the
    # parseable set in a SINGLE sink write. One write per sink_batch is what
    # keeps the idempotent (dynamic-partition-overwrite) sink exactly-once —
    # multiple writes under the same batch_id would clobber each other.
    # Collecting the (date, filename) pairs here is the RARE failure path,
    # never the hot path.
    rows = [
        (str(r["create_date"]), r["filename"])
        for r in claimed.select("create_date", "filename").collect()
    ]
    outcomes, good_dfs, good_files = [], [], []
    for d, f in rows:
        try:
            one = read_ticks_csv(
                spark, os.path.join(dir_for_date(d), f)
            ).drop("_source_file")
            # force the parse to surface per-file errors; count() is
            # disallowed here (corrupt-record-only column pruning)
            one.foreach(lambda _: None)
            good_dfs.append(one)
            good_files.append(f)
        except Exception:
            logger.exception("file %s failed to parse", f)
            outcomes.append((f, False))
    if good_dfs:
        combined = good_dfs[0]
        for df in good_dfs[1:]:
            combined = combined.unionByName(df)
        try:
            # the failed group write may have committed SOME chunks; this
            # retry re-partitions the rows, so per-chunk dedup tokens no
            # longer match — drop the batch's partition first (round 15,
            # VERDICT r14 #7) or the rewrite double-counts the committed
            # chunks. reset failure falls through to ERROR like a write
            # failure: stranded partial rows are reclaimed (and reset
            # again) by the next cycle, never silently duplicated.
            # duck-typed: sinks are structural here (IdempotentParquetSink
            # is not a Sink subclass); absent hook = already idempotent
            getattr(sink, "reset_batch", lambda _b: None)(sink_batch)
            sink.write(combined, batch_id=sink_batch)
            outcomes.extend((f, True) for f in good_files)
        except Exception:
            logger.exception("retry write for batch %s failed", sink_batch)
            outcomes.extend((f, False) for f in good_files)
    return local_values_df(
        spark,
        [(f, ok, None if sink_batch is None else int(sink_batch))
         for f, ok in outcomes],
        "filename string, ok boolean, sink_batch long",
    )
