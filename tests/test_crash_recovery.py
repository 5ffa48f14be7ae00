"""Crash-injection tests for the service layer's exactly-once contract.

The happy-path e2e tests never exercise the windows a real crash opens:
- a killed process between the sink commit and the FINISHED rollup
  (reclaim must NOT duplicate the already-committed rows);
- a killed compaction between its renames (the registry log must never be
  lost);
- a stream restart after a crashed epoch (the replayed epoch must reuse
  the SAME cycle id, or every idempotence key changes).

Each test constructs the exact on-disk state such a crash leaves behind,
then runs the recovery path and asserts no duplicates and no state loss.
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import functions as F

from crypto_data_service_loader_spark.schemas import REGISTRY_EVENTS
from crypto_data_service_loader_spark.sinks.idempotent import IdempotentParquetSink
from crypto_data_service_loader_spark.streaming.service import (
    RegistryLog,
    _stable_cycle_base,
    run_cycle,
)
from crypto_data_service_loader_spark.streaming.upload import claim_ready_files

D = datetime.date
VALID = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"


def _mk_file(root, date, name, lines=2):
    os.makedirs(os.path.join(root, date), exist_ok=True)
    with open(os.path.join(root, date, name), "w") as fh:
        fh.write("\n".join([VALID] * lines))


def _append(log, rows):
    log.append(log.spark.createDataFrame(rows, REGISTRY_EVENTS))


def test_reclaim_after_commit_does_not_duplicate(spark, tmp_path):
    """Crash window: cycle 0 claimed a file, committed its rows to the sink
    (partition batch_id=0), then died BEFORE the FINISHED rollup. Cycle 1
    reclaims the stale IN_PROGRESS file; it must re-upload under the
    ORIGINAL batch id so the idempotent sink overwrites partition 0 instead
    of duplicating the rows under partition 1."""
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13", lines=3)

    log = RegistryLog(spark, reg_path)
    # state a crashed cycle 0 left behind: DISCOVERED -> READY -> IN_PROGRESS@0
    _append(log, [
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING", 1, 0),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "IN_PROGRESS", 2, 0),
    ])
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    # ...and the rows it committed before dying
    sink.write(
        spark.createDataFrame([("AVA-USDT",)] * 3, "ticker string"), batch_id=0
    )
    assert sink.read(spark).count() == 3

    stats = run_cycle(spark, root, reg_path, sink, today="2024-03-14", cycle=1)
    assert stats["uploaded"] == 1 and stats["failed"] == 0
    final = {r["filename"]: r["status"] for r in log.state().collect()}
    assert final["AAA_PST_2024-03-13"] == "FINISHED"
    out = sink.read(spark)
    # 3 rows total — the retry OVERWROTE partition 0, nothing landed in 1
    assert out.count() == 3
    assert {r["batch_id"] for r in out.select("batch_id").distinct().collect()} == {0}


def test_partial_rollup_reclaim_rewrites_full_batch(spark, tmp_path):
    """Crash window: cycle 0 claimed files A and B under sink batch 0,
    committed BOTH files' rows, then died MID-rollup — A's FINISHED event
    landed, B's did not. Cycle 1 reclaims only B; because the retry
    overwrites the whole batch-0 partition, A must ride along as a
    companion (its FINISHED event records sink_batch 0) or its committed
    rows would be silently deleted by the subset rewrite."""
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13", lines=3)
    _mk_file(root, "2024-03-13", "BBB_PST_2024-03-13", lines=2)

    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("BBB_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "IN_PROGRESS", 2, 0),
        ("BBB_PST_2024-03-13", D(2024, 3, 13), "IN_PROGRESS", 2, 0),
        # partial rollup: only A's FINISHED made it (batch_id = sink batch)
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "FINISHED", 3, 0),
    ])
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    # the 5 rows cycle 0 committed for A+B before dying
    sink.write(
        spark.createDataFrame([("AVA-USDT",)] * 5, "ticker string"), batch_id=0
    )

    # reclaim must claim B (stale) AND companion A (FINISHED, same batch)
    ready = claim_ready_files(log.state(), current_batch=1)
    got = {r["filename"]: r["sink_batch"] for r in ready.collect()}
    assert got == {"AAA_PST_2024-03-13": 0, "BBB_PST_2024-03-13": 0}

    stats = run_cycle(spark, root, reg_path, sink, today="2024-03-14", cycle=1)
    assert stats["uploaded"] == 2 and stats["failed"] == 0
    final = {r["filename"]: r["status"] for r in log.state().collect()}
    assert set(final.values()) == {"FINISHED"}
    out = sink.read(spark)
    # 5 rows total, all still in partition 0: the rewrite kept A's rows
    assert out.count() == 5
    assert {r["batch_id"] for r in out.select("batch_id").distinct().collect()} == {0}


def test_claimed_file_deleted_after_claim_rolls_up_error(spark, tmp_path):
    """A claimed file deleted from disk between claim and upload (e.g. a
    racing retention cleanup) must roll up ERROR, not FINISHED: the batch
    write committed zero rows for it. Outcomes are derived from the scanned
    listing, not assumed ok=True."""
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13", lines=3)
    # BBB is registered READY but its file is GONE from disk

    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("BBB_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING", 1, 0),
        ("BBB_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING", 1, 0),
    ])
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    stats = run_cycle(spark, root, reg_path, sink, today="2024-03-14", cycle=1)
    assert stats["uploaded"] == 1 and stats["failed"] == 1
    final = {r["filename"]: r["status"] for r in log.state().collect()}
    assert final["AAA_PST_2024-03-13"] == "FINISHED"
    assert final["BBB_PST_2024-03-13"] == "ERROR"
    assert sink.read(spark).count() == 3  # only AAA's rows


def test_claimed_date_directory_gone_rolls_up_error(spark, tmp_path):
    """A READY file whose whole date directory is gone (retention cleanup
    or an operator removed it) rolls up ERROR; it must not fail the cycle.
    Raised out of the cycle, the file stayed IN_PROGRESS and every later
    cycle reclaimed it and failed the same way, wedging the service."""
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13", lines=3)
    # BBB's directory 2024-03-12 does not exist

    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("BBB_PST_2024-03-12", D(2024, 3, 12), "DISCOVERED", 0, 0),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING", 1, 0),
        ("BBB_PST_2024-03-12", D(2024, 3, 12), "READY_FOR_PROCESSING", 1, 0),
    ])
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    stats = run_cycle(spark, root, reg_path, sink, today="2024-03-14", cycle=1)
    assert stats["uploaded"] == 1 and stats["failed"] == 1
    final = {r["filename"]: r["status"] for r in log.state().collect()}
    assert final == {"AAA_PST_2024-03-13": "FINISHED",
                     "BBB_PST_2024-03-12": "ERROR"}
    assert sink.read(spark).count() == 3  # AAA's rows, once

    stats = run_cycle(spark, root, reg_path, sink, today="2024-03-14", cycle=2)
    assert stats["uploaded"] == 0 and stats["failed"] == 0
    assert sink.read(spark).count() == 3


def test_double_crash_retries_keep_original_sink_batch(spark, tmp_path):
    """If the reclaiming cycle crashes at the same point, the NEXT reclaim
    must still target the original partition: the claim event preserves the
    original batch id across any number of retries."""
    reg_path = str(tmp_path / "registry")
    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("AAA", D(2024, 3, 13), "IN_PROGRESS", 2, 0),
    ])
    # cycle 1 reclaims: sink_batch must be the ORIGINAL claim batch (0)
    ready1 = claim_ready_files(log.state(), current_batch=1)
    assert [r["sink_batch"] for r in ready1.collect()] == [0]
    # cycle 1's claim append (as service.py does) preserves batch_id=0
    _append(log, [("AAA", D(2024, 3, 13), "IN_PROGRESS", 12, 0)])
    # cycle 2 reclaims again — STILL batch 0
    ready2 = claim_ready_files(log.state(), current_batch=2)
    assert [r["sink_batch"] for r in ready2.collect()] == [0]


def test_replayed_epoch_reclaims_its_own_crashed_claim(spark, tmp_path):
    """Streaming replay: the same epoch (stable cycle id) re-runs after a
    crash; its own IN_PROGRESS claims (batch_id == current) must be
    re-claimed — `batch_id <= current`, not strictly less."""
    reg_path = str(tmp_path / "registry")
    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA", D(2024, 3, 13), "DISCOVERED", 0, 5),
        ("AAA", D(2024, 3, 13), "IN_PROGRESS", 2, 5),
    ])
    ready = claim_ready_files(log.state(), current_batch=5)
    rows = ready.collect()
    assert len(rows) == 1 and rows[0]["sink_batch"] == 5


def test_compaction_crash_between_renames_recovers(spark, tmp_path):
    """Kill window: log renamed aside, snapshot not yet promoted. The next
    reader must heal the swap and see the full state (the old code's
    rmtree-then-rename window silently emptied the registry)."""
    reg_path = str(tmp_path / "registry")
    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("AAA", D(2024, 3, 13), "FINISHED", 1, 0),
        ("BBB", D(2024, 3, 14), "DISCOVERED", 2, 1),
    ])
    # build the complete side snapshot exactly as compact() does...
    log.state().write.mode("overwrite").parquet(log._side)
    # ...then crash after `os.replace(path, trash)`, before promotion
    os.replace(log.path, log._trash)
    assert not os.path.exists(log.path)

    healed = RegistryLog(spark, reg_path)
    state = {r["filename"]: r["status"] for r in healed.state().collect()}
    assert state == {"AAA": "FINISHED", "BBB": "DISCOVERED"}
    assert not os.path.exists(log._side) and not os.path.exists(log._trash)


def test_compaction_crash_before_swap_keeps_live_log(spark, tmp_path):
    """Kill window: side snapshot written (possibly partial) but the live
    log was never moved — the live log stays authoritative and the leftover
    side dir is discarded."""
    reg_path = str(tmp_path / "registry")
    log = RegistryLog(spark, reg_path)
    _append(log, [("AAA", D(2024, 3, 13), "DISCOVERED", 0, 0)])
    os.makedirs(log._side, exist_ok=True)  # partial/garbage snapshot
    with open(os.path.join(log._side, "part-garbage"), "w") as fh:
        fh.write("not parquet")

    healed = RegistryLog(spark, reg_path)
    state = {r["filename"]: r["status"] for r in healed.state().collect()}
    assert state == {"AAA": "DISCOVERED"}
    assert not os.path.exists(log._side)


def test_compact_roundtrip_preserves_state_and_next_cycle(spark, tmp_path):
    reg_path = str(tmp_path / "registry")
    log = RegistryLog(spark, reg_path)
    _append(log, [
        ("AAA", D(2024, 3, 13), "DISCOVERED", 0, 0),
        ("AAA", D(2024, 3, 13), "FINISHED", 1, 3),
        ("BBB", D(2024, 3, 14), "DISCOVERED", 2, 1),
    ])
    n = log.compact()
    assert n == 2  # one latest event per filename
    state = {r["filename"]: r["status"] for r in log.state().collect()}
    assert state == {"AAA": "FINISHED", "BBB": "DISCOVERED"}
    assert log.next_cycle() == 4  # max batch_id survives compaction


def test_next_cycle_after_a_reclaim_only_cycle(spark, tmp_path):
    """Claim and rollup events record the older sink batch: a cycle that
    only reclaimed files leaves events whose batch_id is not its own, so
    a restart must number past that cycle's seqs, not past max(batch_id)."""
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13")
    log = RegistryLog(spark, reg_path)
    # cycle 5 claimed AAA and crashed before its rollup
    _append(log, [
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "DISCOVERED", 50, 5),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING", 51, 5),
        ("AAA_PST_2024-03-13", D(2024, 3, 13), "IN_PROGRESS", 52, 5),
    ])
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    stats = run_cycle(spark, root, reg_path, sink, today="2024-03-14", cycle=6)
    assert stats["uploaded"] == 1
    cycle6 = {(r["seq"], r["batch_id"]) for r in
              log.events().filter(F.col("seq") >= 60).collect()}
    assert cycle6 == {(62, 5), (63, 5)}  # no event of cycle 6 says 6
    assert log.next_cycle() == 7


def test_cycle_base_stable_across_restart(spark, tmp_path):
    """The streaming cycle base must NOT move once a checkpoint exists —
    re-deriving it from max(batch_id)+1 after a crashed epoch appended
    events would shift every replayed epoch onto new idempotence keys."""
    reg_path = str(tmp_path / "registry")
    ckpt = str(tmp_path / "ckpt")
    log = RegistryLog(spark, reg_path)
    _append(log, [("AAA", D(2024, 3, 13), "DISCOVERED", 0, 7)])

    base1 = _stable_cycle_base(spark, reg_path, ckpt)
    assert base1 == 8  # above all historical batch ids
    # a crashed epoch appends events with higher batch ids...
    _append(log, [("BBB", D(2024, 3, 13), "DISCOVERED", 80, base1)])
    # ...restart: the base must come from the marker, not be re-derived
    assert _stable_cycle_base(spark, reg_path, ckpt) == base1

    # a FRESH checkpoint (epoch ids reset) re-derives above everything
    shutil.rmtree(ckpt)
    assert _stable_cycle_base(spark, reg_path, ckpt) == base1 + 1
