"""The assembled service: the reference's four concurrent flows as ONE
linear pipeline per cycle (SURVEY.md §3 — DB-status coordination between
racing flows becomes sequential composition; the only concurrency that
remains is Spark's own task parallelism).

Cycle semantics (reference MainApplication.java:54-91):
  1. discover   — scan root/<date>/ for unregistered files -> DISCOVERED
  2. progress   — status machine: today's DISCOVERED -> DOWNLOADING,
                  past DISCOVERED/DOWNLOADING -> READY_FOR_PROCESSING
  3. upload     — claim READY -> IN_PROGRESS, bulk-load CSVs to the sink,
                  per-file FINISHED/ERROR rollup
  4. cleanup    — delete FINISHED files older than the retention window

State lives in an append-only registry event log (parquet, date-partitioned
at scale); every step appends events keyed by (cycle seq, batch id) so a
replayed cycle is idempotent.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.localrel import local_values_df

from ..operators.registry import (
    apply_status_update,
    current_state,
    dedup_new_files,
    transition_statuses,
    upload_status_rollup,
)
from ..schemas import REGISTRY_EVENTS
from ..sinks.writers import Sink
from ..sources.fs_scan import scan_directory
from .cleanup import run_cleanup
from .upload import claim_ready_files, run_upload_batch

logger = logging.getLogger(__name__)


def _stable_cycle_base(
    spark: SparkSession, registry_path: str, checkpoint: str
) -> int:
    """Cycle-id base that is STABLE across restarts of the same stream.

    cycle_id = base + epoch_id keys every registry append and sink write,
    so it must be a pure function of epoch_id for a given checkpoint: if
    the base were re-derived from max(batch_id)+1 on every start (as a
    naive resume would), a crash-replayed epoch — whose first attempt
    already appended events — would replay under a DIFFERENT cycle_id,
    breaking idempotence (double registration, duplicate sink partitions).

    The base is computed once per checkpoint lifetime and persisted beside
    the streaming checkpoint (same lifecycle: wiping the checkpoint resets
    epoch_id to 0, and the marker with it, so a fresh base is derived above
    all historical batch_ids). Written atomically (tmp + rename).
    """
    os.makedirs(checkpoint, exist_ok=True)
    marker = os.path.join(checkpoint, "cycle_base")
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    base = RegistryLog(spark, registry_path).next_cycle()
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(base))
    os.replace(tmp, marker)
    return base


class RegistryLog:
    """Append-only registry event log on parquet."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._side = self.path.rstrip("/") + "__compacting"
        self._trash = self.path.rstrip("/") + "__old"

    def events(self) -> DataFrame:
        self._recover()
        try:
            return self.spark.read.schema(REGISTRY_EVENTS).parquet(self.path)
        except Exception:  # noqa: BLE001 — first cycle: log does not exist
            return local_values_df(self.spark, [], REGISTRY_EVENTS)

    def state(self) -> DataFrame:
        return current_state(self.events())

    def append(self, rows: DataFrame) -> None:
        rows.select(*[f.name for f in REGISTRY_EVENTS.fields]).write.mode(
            "append"
        ).parquet(self.path)

    def next_cycle(self) -> int:
        """Resume-safe cycle numbering: seq values must never repeat across
        restarts or latest-wins compaction becomes ambiguous."""
        row = self.events().agg(F.max("batch_id")).first()
        return 0 if row is None or row[0] is None else int(row[0]) + 1

    def _recover(self) -> None:
        """Heal a compaction interrupted by a crash — the log must never be
        lost to a window between renames.

        Invariants of `compact`'s rename protocol: the side snapshot is
        complete before the log is moved aside (the swap starts only after
        the snapshot's write AND read-back count succeed), and the old log
        is deleted only after the snapshot has been promoted. So:
        - log missing + side present  -> crash mid-swap: promote side;
        - log missing + only trash    -> promote trash (pre-promotion
          crash shape if side promotion itself was interrupted);
        - log present + side/trash    -> crash before/after the swap: the
          live log is authoritative; drop leftovers.
        """
        import shutil

        if not os.path.exists(self.path):
            if os.path.exists(self._side):
                os.replace(self._side, self.path)
            elif os.path.exists(self._trash):
                os.replace(self._trash, self.path)
        if os.path.exists(self._side):
            shutil.rmtree(self._side, ignore_errors=True)
        if os.path.exists(self._trash):
            shutil.rmtree(self._trash, ignore_errors=True)

    def compact(self) -> int:
        """Rewrite the log as its current state (one event per filename).

        Read amplification grows with event count; compaction resets it.
        Parquet can't overwrite a path being read, so the snapshot lands in
        a side dir, the live log is renamed aside, the snapshot is renamed
        in, and only then is the old log deleted — every intermediate crash
        state is recoverable by `_recover` (a crash never loses the log,
        unlike delete-then-rename). Returns rows kept. At scale, run per
        date-partition instead of whole-log.

        NOT safe concurrently with a live reader of the log path: run it
        between polling cycles, or let the streaming service's in-epoch
        `compact_every` hook do it (inside an epoch nothing else reads).
        """
        import shutil

        self._recover()
        snapshot = self.state()
        snapshot.write.mode("overwrite").parquet(self._side)
        # read-back count doubles as the snapshot-complete gate: the swap
        # below MUST NOT start unless the side dir is a full valid snapshot
        n = self.spark.read.schema(REGISTRY_EVENTS).parquet(self._side).count()
        if os.path.exists(self.path):
            os.replace(self.path, self._trash)
        os.replace(self._side, self.path)
        shutil.rmtree(self._trash, ignore_errors=True)
        return n


def start_service_stream(
    spark: SparkSession,
    root: str,
    registry_path: str,
    sink: Sink,
    checkpoint: str,
    today: str | None = None,
    trigger_seconds: int = 15,
    available_now: bool = False,
    max_files_per_trigger: int | None = 10_000,
    compact_every: int = 50,
):
    """Structured-Streaming service mode: the discovery stream drives the
    WHOLE pipeline — each micro-batch of newly-appeared files is registered,
    progressed, uploaded, and rolled up inside one foreachBatch epoch.

    Differences from the polling `run_cycle`: the file source's checkpoint
    replaces the backfill scan (restart = resume, no re-listing), and epoch
    ids key both the registry events and the sink writes, so a replayed
    epoch is idempotent; stale IN_PROGRESS claims from a crashed epoch are
    reclaimed by the next one. Cleanup stays a scheduled batch job.

    `today=None` re-evaluates the calendar day PER EPOCH (a frozen value
    would stall the status machine after midnight); pass a fixed date only
    in tests. Caveat: a stateless foreachBatch query fires only when new
    files arrive — on quiet days no epoch runs, so pending transitions wait
    for the next file (or a scheduled `run_cycle`, which progresses state
    unconditionally).

    The registry event log is compacted in-line every `compact_every`
    epochs — inside the epoch is the one point where no concurrent reader
    holds a listing of the log path (0 disables).
    """
    import datetime as _dt

    from .discovery import discovered_files_stream

    base = _stable_cycle_base(spark, registry_path, checkpoint)

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        spark_ = batch.sparkSession
        log = RegistryLog(spark_, registry_path)
        cycle_id = base + epoch_id
        seq_base = cycle_id * 10
        epoch_today = today or _dt.date.today().isoformat()
        # register the epoch's novel files
        novel = dedup_new_files(batch, log.state().select("filename"))
        log.append(
            novel.select(
                "filename", "create_date", "status",
                F.lit(seq_base).cast("long").alias("seq"),
                F.lit(cycle_id).cast("long").alias("batch_id"),
            )
        )
        # progress + upload, same composition as the polling cycle
        cur = log.state()
        changed = (
            transition_statuses(cur, epoch_today).alias("a")
            .join(cur.select("filename", F.col("status").alias("old_status")),
                  "filename")
            .filter(F.col("status") != F.col("old_status"))
            .select(
                "filename", "create_date", "status",
                F.lit(seq_base + 1).cast("long").alias("seq"),
                F.lit(cycle_id).cast("long").alias("batch_id"),
            )
            .localCheckpoint(eager=True)
        )
        log.append(changed)
        ready = claim_ready_files(
            log.state(), current_batch=cycle_id
        ).localCheckpoint(eager=True)
        # the claim event carries sink_batch, NOT cycle_id: reclaimed files
        # keep their original claim batch across any number of retries, so
        # every re-upload overwrites the same idempotent sink partition
        log.append(
            ready.select(
                "filename", "create_date", F.lit("IN_PROGRESS").alias("status"),
                F.lit(seq_base + 2).cast("long").alias("seq"),
                F.col("sink_batch").cast("long").alias("batch_id"),
            )
        )
        outcomes = run_upload_batch(
            spark_, ready, lambda d: os.path.join(root, d), sink,
            batch_id=cycle_id,
        )
        # rollup events record sink_batch (not cycle_id) as batch_id: that
        # is what makes a sink batch's membership recoverable, so a later
        # reclaim can rewrite the WHOLE partition (see claim_ready_files)
        finished = (
            upload_status_rollup(outcomes)
            .join(outcomes.select("filename", "sink_batch").distinct(),
                  "filename")
            .join(ready.select("filename", "create_date"), "filename",
                  "inner")
        )
        log.append(
            finished.select(
                "filename", "create_date", "status",
                F.lit(seq_base + 3).cast("long").alias("seq"),
                F.col("sink_batch").cast("long").alias("batch_id"),
            )
        )
        if compact_every and cycle_id > 0 and cycle_id % compact_every == 0:
            log.compact()  # safe here: no concurrent reader inside the epoch

    stream = discovered_files_stream(spark, root, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def run_cycle(
    spark: SparkSession,
    root: str,
    registry_path: str,
    sink: Sink,
    today: str,
    cycle: int = 0,
    do_cleanup: bool = False,
) -> dict:
    """One full service cycle; returns counters for observability."""
    log = RegistryLog(spark, registry_path)
    seq_base = cycle * 10
    stats: dict[str, int] = {}

    def scan_or_empty() -> DataFrame:
        # an empty/missing tree is a quiet cycle, not a failure (the
        # reference falls back and retries, SaveNewFilesToDbFlow.java:139-163);
        # any other error (permissions, a broken filesystem) raises
        try:
            return scan_directory(spark, root)  # load() lists eagerly
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            return local_values_df(
                spark, [], "filename string, create_date date, status string"
            )

    # 1. discover (reference Flow 1: backfill scan + dedup + insert).
    # localCheckpoint pins each step's delta BEFORE appending: .cache()
    # would be re-materialized by the append's recacheByPath with a fresh
    # file listing (the step would see its own output), and an unpinned
    # plan would re-run the whole scan+anti-join for the counter.
    novel = dedup_new_files(scan_or_empty(), log.state().select("filename"))
    new_events = novel.select(
        "filename",
        "create_date",
        F.lit("DISCOVERED").alias("status"),
        F.lit(seq_base).cast("long").alias("seq"),
        F.lit(cycle).cast("long").alias("batch_id"),
    ).localCheckpoint(eager=True)
    log.append(new_events)
    stats["discovered"] = new_events.count()

    # 2. progress (reference Flow 2: the status-machine CASE)
    cur = log.state()
    advanced = transition_statuses(cur, today)
    changed = (
        advanced.alias("a")
        .join(cur.select("filename", F.col("status").alias("old_status")), "filename")
        .filter(F.col("status") != F.col("old_status"))
        .select(
            "filename", "create_date", "status",
            F.lit(seq_base + 1).cast("long").alias("seq"),
            F.lit(cycle).cast("long").alias("batch_id"),
        )
        .localCheckpoint(eager=True)
    )
    log.append(changed)
    stats["progressed"] = changed.count()

    # 3. upload (reference Flow 3: claim -> bulk load -> rollup; stale
    # IN_PROGRESS claims orphaned by a crashed older cycle are reclaimed)
    ready = claim_ready_files(
        log.state(), current_batch=cycle
    ).localCheckpoint(eager=True)
    # sink_batch (not cycle) on the claim event: see the streaming epoch —
    # reclaimed files must retry under their original idempotence key
    log.append(
        ready.select(
            "filename", "create_date", F.lit("IN_PROGRESS").alias("status"),
            F.lit(seq_base + 2).cast("long").alias("seq"),
            F.col("sink_batch").cast("long").alias("batch_id"),
        )
    )
    outcomes = run_upload_batch(
        spark,
        ready,
        lambda d: os.path.join(root, d),
        sink,
        batch_id=cycle,
    )
    # rollup records sink_batch as batch_id — reclaim-membership recovery
    # (see claim_ready_files' companion re-claim)
    rolled = upload_status_rollup(outcomes).join(
        outcomes.select("filename", "sink_batch").distinct(), "filename"
    )
    finished = rolled.join(
        ready.select("filename", "create_date"), "filename", "inner"
    )
    log.append(
        finished.select(
            "filename", "create_date", "status",
            F.lit(seq_base + 3).cast("long").alias("seq"),
            F.col("sink_batch").cast("long").alias("batch_id"),
        )
    )
    # one claim-sized aggregate for both counters
    counts = outcomes.agg(
        F.count_if(F.col("ok")).alias("uploaded"),
        F.count_if(~F.col("ok")).alias("failed"),
    ).first()
    stats["uploaded"], stats["failed"] = counts["uploaded"], counts["failed"]

    # 4. cleanup (reference Flow 4), gated like the reference's 3 h cycle
    if do_cleanup:
        state = log.state()
        fs = scan_or_empty().select("filename", "create_date")
        last = state.filter(F.col("status") == "FINISHED").agg(
            F.max("create_date")
        ).first()[0]
        if last is not None:
            stats.update(run_cleanup(state, fs, root, today, str(last)))
    return stats
