"""Upload pipeline — the hot path (reference Flow 3 / EP2, SURVEY.md §3).

Reference: claim READY_FOR_PROCESSING files (optimistic IN_PROGRESS update),
group by date, join against disk, sort, split into 32 bundles, stream GZIP
CSV into ClickHouse, then per-bundle FINISHED/ERROR rollup.

Spark-first batch composition (`run_upload_batch`): the claim becomes a
registry transform; there is no sort and no bundle split — the sink POSTs
straight from the CSV scan's partitions, with no shuffle between the scan
and the POST (nothing downstream reads a row order) — and
compression/pipelining belong to the sink transport.

One glob settles each sink batch: `<root>/{d1,d2,...}/*` over the
batch's claimed dates lists the directories that exist, and the CSV scan
reads the same glob. A claimed file's outcome is whether that listing
holds it: a file missing from disk (retention cleanup raced the claim,
or its whole directory is gone) rolls up ERROR, since the write committed
no rows for it, and when no claimed directory is left nothing is written
at all. Any other failure of the listing, scan or write sends the batch
to a per-file isolation path (finer than the reference's per-bundle
ERROR granularity). Each claimed file has exactly one outcome row, so
the rollup is a projection of the claim rows.

Scale contract: the claim set is NEVER collected on the driver. The hot
path collects one provably tiny set — the distinct (sink batch, claim
DATE, reclaimed) rows: batches are 1 + the number of crashed predecessor
cycles, dates are bounded by the retention window's calendar days, not by
file count. File selection happens distributed: glob the claimed dates,
then semi-join the scan's `input_file_name()` lineage against
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

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.localrel import local_values_df
from ..sinks.writers import Sink
from ..sources.csv_ingest import read_ticks_csv
from ..sources.fs_scan import path_to_registry_cols

logger = logging.getLogger(__name__)


def claim_ready_files(registry: DataFrame, current_batch: int) -> DataFrame:
    """EP2 step 1: the optimistic claim, as a `sink_batch` column on every
    registry row: null means unclaimed. The caller appends an IN_PROGRESS
    event under that batch for each claimed row, making the claim
    idempotent per epoch.

    READY_FOR_PROCESSING rows are claimed under `current_batch`.

    IN_PROGRESS claims from `current_batch` or older batches are RECLAIMED
    under the batch id recorded on their IN_PROGRESS event, which the
    claim append preserves across retries: a crash between the claim
    append and the FINISHED/ERROR rollup would otherwise leave those files
    stuck forever (the reference has the same gap — a killed process
    orphans its IN_PROGRESS rows), and each re-upload overwrites the
    original sink partition (no duplicates when the crash happened after
    the sink commit). `batch_id <= current` (not `<`) so a replayed epoch
    re-claims its OWN crashed attempt's files under the same stable cycle
    id.

    Reclaim rewrites a whole sink partition, so the retry's write set must
    equal the batch's FULL original membership: if a mid-commit crash of the
    rollup append left some of the batch's files FINISHED and others
    IN_PROGRESS, retrying only the stuck subset would overwrite the
    partition WITHOUT the finished files' rows — silently deleting committed
    data. FINISHED files sharing a reclaimed sink batch (their rollup event
    records sink_batch as batch_id) are therefore re-claimed as companions,
    found by a window over `batch_id`: their rows are rewritten
    byte-identically into the same partition.
    """
    status, batch = F.col("status"), F.col("batch_id")
    stale = (status == "IN_PROGRESS") & (batch <= current_batch)
    reclaimed = F.max(stale).over(Window.partitionBy("batch_id"))
    return registry.withColumn(
        "sink_batch",
        F.when(status == "READY_FOR_PROCESSING",
               F.lit(int(current_batch)).cast("long"))
        .when(stale | ((status == "FINISHED") & reclaimed),
              batch.cast("long")),
    )


def run_upload_batch(
    spark: SparkSession,
    claimed: DataFrame,
    root: str,
    sink: Sink,
) -> DataFrame:
    """Load every claimed file's CSV rows from the `root/<date>/` tree,
    bulk-write via `sink`, and return one (filename, create_date,
    sink_batch, ok) outcome row per claimed row for the O19 status rollup.
    `claimed` rows carry (filename, create_date, status, sink_batch): the
    rows `claim_ready_files` gives a non-null `sink_batch`.

    Writes one sink batch per distinct `sink_batch` group (normally exactly
    one; one extra per crashed predecessor being retried), each under its
    own idempotence key. Whole-group failure falls back to per-file
    isolation (reference bundle semantics, TickersDataLoader.java:160-168).
    """
    # A file an earlier attempt claimed (reclaimed IN_PROGRESS, or a
    # FINISHED companion) may already have rows committed under its batch.
    # The retry's chunks follow the CSV scan's packing, which unclaimed
    # files in the same date directories also shape, so its dedup tokens
    # need not repeat the first attempt's: such a batch is reset first.
    # bounded collect: one row per (sink batch, claimed DATE, reclaimed)
    dates: dict[int, list[str]] = {}
    reset: set[int] = set()
    for g, d, reclaimed in claimed.select(
        "sink_batch", "create_date",
        F.col("status") != "READY_FOR_PROCESSING",
    ).distinct().collect():
        dates.setdefault(g, []).append(str(d))
        if reclaimed:
            reset.add(g)
    if not dates:
        return local_values_df(
            spark, [],
            "filename string, create_date date, sink_batch long, ok boolean",
        )
    outcomes: DataFrame | None = None
    for g in sorted(dates):
        grp = claimed.filter(F.col("sink_batch") == g)
        out = _upload_group(spark, grp, sorted(set(dates[g])), root, sink, g,
                            g in reset)
        outcomes = out if outcomes is None else outcomes.unionByName(out)
    return outcomes


def _basename(col):
    return F.element_at(F.split(col, "/"), -1)


def _upload_group(
    spark: SparkSession,
    claimed: DataFrame,
    dates: list[str],
    root: str,
    sink: Sink,
    sink_batch: int,
    reset: bool,
) -> DataFrame:
    rows = claimed.select("filename", "create_date", "sink_batch")
    # the one glob: it matches only the date directories that exist, and
    # binaryFile prunes `content`, so listing it opens no file
    glob = os.path.join(root, "{" + ",".join(dates) + "}", "*")
    try:
        try:
            listed = spark.read.format("binaryFile").load(glob).select("path")
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            logger.warning("no claimed date directory left: %s", glob)
            return rows.withColumn("ok", F.lit(False))
        ticks = (
            read_ticks_csv(spark, glob)
            .withColumn("filename", _basename(F.col("_source_file")))
            .drop("_source_file")
            # lineage join: keep only claimed files (the glob may sweep in
            # same-day files that are not READY yet); filenames are globally
            # unique (the registry dedups on filename), so basename suffices
            .join(claimed.select("filename"), "filename", "left_semi")
        )
        if reset:
            sink.reset_batch(sink_batch)
        sink.write(ticks.drop("filename"), batch_id=sink_batch)
        # ok comes from the listing, not assumed: a claimed file it does
        # not hold committed zero rows and rolls up ERROR, not FINISHED.
        # (create_date, filename) names one path, so each claim row keeps
        # exactly one outcome.
        seen = path_to_registry_cols(listed).select(
            "create_date", "filename", F.lit(True).alias("ok")
        )
        return rows.join(seen, ["create_date", "filename"], "left").select(
            "filename", "create_date", "sink_batch",
            F.coalesce("ok", F.lit(False)).alias("ok"),
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
    good_dfs, good_files, committed = [], [], []
    for r in claimed.select("create_date", "filename").collect():
        f = r["filename"]
        try:
            one = read_ticks_csv(
                spark, os.path.join(root, str(r["create_date"]), f)
            ).drop("_source_file")
            # force the parse to surface per-file errors; count() is
            # disallowed here (corrupt-record-only column pruning)
            one.foreach(lambda _: None)
            good_dfs.append(one)
            good_files.append(f)
        except Exception:
            logger.exception("file %s failed to parse", f)
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
            sink.reset_batch(sink_batch)
            sink.write(combined, batch_id=sink_batch)
            committed = good_files
        except Exception:
            logger.exception("retry write for batch %s failed", sink_batch)
    return rows.withColumn("ok", F.col("filename").isin(committed))
