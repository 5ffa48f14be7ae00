"""The assembled service: the reference's four concurrent flows as ONE
linear pipeline per cycle (SURVEY.md §3 — DB-status coordination between
racing flows becomes sequential composition; the only concurrency that
remains is Spark's own task parallelism).

Cycle semantics (reference MainApplication.java:54-91), held once in
`_run_core` and shared by the polling `run_cycle` and the streaming
`start_service_stream`:
  1. discover   — listed files not yet registered -> DISCOVERED
  2. progress   — status machine: today's DISCOVERED -> DOWNLOADING,
                  past DISCOVERED/DOWNLOADING -> READY_FOR_PROCESSING
  3. claim      — READY (and stale IN_PROGRESS) -> IN_PROGRESS
  4. upload     — bulk-load the claimed CSVs to the sink, then the
                  per-file FINISHED/ERROR rollup
  5. cleanup    — polling mode: delete FINISHED files older than the
                  retention window

State lives in an append-only registry event log (parquet, date-partitioned
at scale). A cycle reads it once: steps 1-3 are pure DataFrame functions of
that one state, made durable in ONE append before the upload (the claim is
on disk before any row is written), and the rollup is the second append.
Events carry seq = cycle*10 + {0,1,2,3} (discover, progress, claim,
rollup), so a replayed cycle is idempotent. Every `COMPACT_EVERY` cycles
the log is compacted to one event per file.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions.localrel import local_values_df
from ..functions.metrics import observed_metrics
from ..operators.registry import (
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

#: cycles between registry-log compactions, in both service modes
COMPACT_EVERY = 50


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
        except AnalysisException as exc:
            # first cycle: the log does not exist yet. Anything else must
            # raise: read as empty, the cycle would re-claim every file on
            # disk under new batch ids and load its rows twice
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            return local_values_df(self.spark, [], REGISTRY_EVENTS)

    def state(self) -> DataFrame:
        return current_state(self.events())

    def append(self, rows: DataFrame) -> None:
        rows.select(*[f.name for f in REGISTRY_EVENTS.fields]).write.mode(
            "append"
        ).parquet(self.path)

    def next_cycle(self) -> int:
        """Resume-safe cycle numbering: seq values must never repeat across
        restarts or latest-wins compaction becomes ambiguous. Claim and
        rollup events record the older sink batch, so a cycle that only
        reclaimed files leaves no batch_id of its own: its seqs count too."""
        batch, seq = self.events().agg(F.max("batch_id"), F.max("seq")).first()
        seen = [v for v in (batch, None if seq is None else seq // 10)
                if v is not None]
        return max(seen) + 1 if seen else 0

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

        NOT safe concurrently with a live reader of the log path: the
        cycle core runs it every `COMPACT_EVERY` cycles after the cycle's
        last append, where (in either mode) nothing else reads the log.
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
):
    """Structured-Streaming service mode: the discovery stream drives the
    WHOLE pipeline — each micro-batch of newly-appeared files runs one
    cycle of the shared core inside one foreachBatch epoch.

    Differences from the polling `run_cycle`: the cycle's listing is the
    micro-batch, so the file source's checkpoint replaces the backfill scan
    (restart = resume, no re-listing); epoch ids key both the registry
    events and the sink writes, so a replayed epoch is idempotent; and
    there is no cleanup, which stays a scheduled `run_cycle(do_cleanup=True)`.
    Claims, reclaims and compaction are the core's and behave alike.

    `today=None` re-evaluates the calendar day PER EPOCH (a frozen value
    would stall the status machine after midnight); pass a fixed date only
    in tests. Caveat: a stateless foreachBatch query fires only when new
    files arrive — on quiet days no epoch runs, so pending transitions wait
    for the next file (or a scheduled `run_cycle`, which progresses state
    unconditionally).
    """
    import datetime as _dt

    from .discovery import discovered_files_stream

    base = _stable_cycle_base(spark, registry_path, checkpoint)

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        stats, _ = _run_core(
            batch.sparkSession, batch, root, registry_path, sink,
            today or _dt.date.today().isoformat(), base + epoch_id,
        )
        logger.info("epoch %d: %s", epoch_id, stats)

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
    # an empty/missing tree is a quiet cycle, not a failure (the reference
    # falls back and retries, SaveNewFilesToDbFlow.java:139-163); any other
    # error (permissions, a broken filesystem) raises
    try:
        listing = scan_directory(spark, root)  # load() lists eagerly
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        listing = local_values_df(
            spark, [], "filename string, create_date date, status string"
        )
    stats, registry = _run_core(
        spark, listing, root, registry_path, sink, today, cycle
    )
    # cleanup (reference Flow 4), gated like the reference's 3 h cycle
    if do_cleanup:
        stats.update(run_cleanup(
            registry, listing.select("filename", "create_date"), root, today
        ))
    return stats


def _run_core(
    spark: SparkSession,
    listing: DataFrame,
    root: str,
    registry_path: str,
    sink: Sink,
    today: str,
    cycle: int,
) -> tuple[dict, DataFrame]:
    """One cycle over `listing` (filename, create_date rows): discover,
    progress, claim, upload, rollup. Returns the counters and the registry
    state after the cycle, built without reading the log again."""
    log = RegistryLog(spark, registry_path)
    logged = log.events()  # the cycle's one read of the log
    state = current_state(logged)
    # a delta holds only this cycle's events, so seq % 10 tells their
    # kind; a `cycle * 10 + k` literal would be written into the generated
    # code and compile fresh classes every cycle
    kind = F.col("seq") % 10

    def as_events(df: DataFrame, status, k: int, batch, *extra) -> DataFrame:
        return df.select(
            "filename", "create_date", status.alias("status"),
            F.lit(cycle * 10 + k).cast("long").alias("seq"),
            batch.cast("long").alias("batch_id"), *extra,
        )

    # 1. discover (reference Flow 1: backfill scan + dedup + insert)
    found = as_events(
        dedup_new_files(listing.select("filename", "create_date"),
                        state.select("filename")),
        F.lit("DISCOVERED"), 0, F.lit(cycle),
    )
    # 2. progress (reference Flow 2: the status-machine CASE)
    progressed = transition_statuses(
        state.unionByName(found).withColumn("_was", F.col("status")), today
    )
    moved = as_events(progressed.filter(F.col("status") != F.col("_was")),
                      F.col("status"), 1, F.lit(cycle))
    # 3. claim (reference Flow 3; stale IN_PROGRESS claims orphaned by a
    # crashed older cycle are reclaimed). It reads batch_id only on
    # IN_PROGRESS and FINISHED rows, which the transitions never touch, so
    # the progressed state gives the claim the appended log would. The
    # claim event records sink_batch, not the cycle: a reclaimed file keeps
    # its original claim batch across any number of retries, so every
    # re-upload overwrites the same idempotent sink partition.
    claim = claim_ready_files(progressed, current_batch=cycle)
    claims = as_events(claim, F.lit("IN_PROGRESS"), 2, F.col("sink_batch"),
                       "sink_batch", F.col("status").alias("claimed_from"))
    delta, stats = _pin(
        found.unionByName(moved).unionByName(claims, allowMissingColumns=True),
        discovered=kind == 0, progressed=kind == 1,
    )
    log.append(delta)  # the claim is durable before the upload

    # 4. upload + rollup. The rollup records sink_batch as batch_id: that
    # is what makes a sink batch's membership recoverable, so a later
    # reclaim can rewrite the WHOLE partition (see claim_ready_files).
    ready = delta.filter(kind == 2).select(
        "filename", "create_date", F.col("claimed_from").alias("status"),
        "sink_batch",
    )
    outcomes = run_upload_batch(
        spark, ready, lambda d: os.path.join(root, d), sink
    )
    rolled = upload_status_rollup(outcomes).join(
        ready.select("filename", "create_date", "sink_batch"), "filename"
    )
    status = F.col("status")
    rollup, done = _pin(
        as_events(rolled, status, 3, F.col("sink_batch")),
        uploaded=status == "FINISHED", failed=status == "ERROR",
    )
    log.append(rollup)
    stats.update(done)

    if cycle > 0 and cycle % COMPACT_EVERY == 0:
        log.compact()  # the state above reads files compaction deletes
        return stats, log.state()
    after = logged.unionByName(delta.select(*REGISTRY_EVENTS.fieldNames()))
    return stats, current_state(after.unionByName(rollup))


def _pin(df: DataFrame, **counters) -> tuple[DataFrame, dict[str, int]]:
    """Materialize `df` once and count each named boolean column of
    `counters` on the same job's tasks (an Observation: no counter job).

    localCheckpoint, not .cache(): an append's recacheByPath would
    re-materialize a cached frame with a fresh listing of the log, and the
    step would see its own output. One partition: the rows are a cycle's
    per-file events, so the log gains one file per append and every later
    step over them runs one task, not one per unioned branch."""
    obs = Observation()
    pinned = df.coalesce(1).observe(
        obs, *[F.count_if(c).alias(k) for k, c in counters.items()]
    ).localCheckpoint(eager=True)
    got = observed_metrics(obs)
    if got is None:
        logger.warning("cycle counters %s unavailable", sorted(counters))
        got = {}
    return pinned, {k: int(got.get(k) or 0) for k in counters}
