"""End-to-end service parity test: the full reference behavior over a real
temp dir-per-day tree — discover, progress, upload, rollup, cleanup —
through the event-log registry. Mirrors what the reference's four flows do
collectively (SURVEY.md §3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crypto_data_service_loader_spark.sinks.writers import MemorySink
from crypto_data_service_loader_spark.streaming.service import RegistryLog, run_cycle

VALID = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
INVALID = "bad,line"


def _mk_tree(root, dates_files):
    for d, files in dates_files.items():
        os.makedirs(os.path.join(root, d), exist_ok=True)
        for name, lines in files.items():
            with open(os.path.join(root, d, name), "w") as fh:
                fh.write("\n".join(lines))


def _log_files(reg):
    if not os.path.isdir(reg):
        return 0
    return sum(f.endswith(".parquet") for f in os.listdir(reg))


def test_service_cycles_end_to_end(spark, tmp_path):
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {
        "2024-03-13": {"AAA_PST_2024-03-13": [VALID, VALID, INVALID],
                        "BBB_PST_2024-03-13": [VALID]},
        "2024-03-14": {"CCC_PST_2024-03-14": [VALID]},
    })
    sink = MemorySink()

    # cycle 0: discover everything; past files go READY -> uploaded
    s0 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=0)
    assert s0["discovered"] == 3
    assert s0["uploaded"] == 2 and s0["failed"] == 0

    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state["AAA_PST_2024-03-13"] == "FINISHED"
    assert state["BBB_PST_2024-03-13"] == "FINISHED"
    assert state["CCC_PST_2024-03-14"] == "DOWNLOADING"  # today's file waits

    # 3 valid rows landed (invalid line dropped, batch not failed)
    assert sum(len(b[1]) for b in sink.batches) == 3

    # cycle 1: new file appears for yesterday; day rolls over
    _mk_tree(root, {"2024-03-13": {"DDD_PST_2024-03-13": [VALID]}})
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-15", cycle=1)
    assert s1["discovered"] == 1
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state["DDD_PST_2024-03-13"] == "FINISHED"
    # yesterday's DOWNLOADING file became READY and uploaded on rollover
    assert state["CCC_PST_2024-03-14"] == "FINISHED"

    # idempotence: a no-change cycle discovers/uploads nothing
    s2 = run_cycle(spark, root, reg, sink, today="2024-03-15", cycle=2)
    assert s2 == {"discovered": 0, "progressed": 0, "uploaded": 0, "failed": 0}


def test_service_cleanup_respects_retention(spark, tmp_path):
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {
        "2024-03-10": {"OLD_PST_2024-03-10": [VALID]},
        "2024-03-13": {"NEW_PST_2024-03-13": [VALID]},
    })
    sink = MemorySink()
    run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=0)
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1,
                   do_cleanup=True)
    # FINISHED window is 03-10..03-13, min+1 != today -> cleanup runs;
    # only dirs strictly older than last_uploaded-1 are eligible
    assert s1["skipped"] is False
    assert not os.path.exists(os.path.join(root, "2024-03-10", "OLD_PST_2024-03-10"))
    assert os.path.exists(os.path.join(root, "2024-03-13", "NEW_PST_2024-03-13"))


def test_registry_compaction_preserves_state(spark, tmp_path):
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    run_cycle(spark, root, reg, MemorySink(), today="2024-03-14", cycle=0)
    log = RegistryLog(spark, reg)
    before = {(r["filename"], r["status"]) for r in log.state().collect()}
    assert log.events().count() > len(before)  # multiple events per file
    kept = log.compact()
    assert kept == len(before)
    after = {(r["filename"], r["status"]) for r in log.state().collect()}
    assert after == before
    assert log.events().count() == len(before)  # log physically shrank
    # cycles resume with fresh seq/batch numbering after compaction
    assert log.next_cycle() >= 1


def test_empty_root_is_quiet_cycle(spark, tmp_path):
    out = run_cycle(spark, str(tmp_path / "nothing"), str(tmp_path / "reg"),
                    MemorySink(), today="2024-03-14", cycle=0)
    assert out == {"discovered": 0, "progressed": 0, "uploaded": 0, "failed": 0}


def test_scan_error_other_than_missing_path_surfaces(spark, tmp_path,
                                                     monkeypatch):
    """Only "path not found" is a quiet cycle: any other listing error
    (here an injected permission error) raises out of run_cycle instead of
    looking like an empty tree forever."""
    from crypto_data_service_loader_spark.streaming import service

    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})

    def denied(spark_, root_):
        raise PermissionError(f"listing denied: {root_}")

    monkeypatch.setattr(service, "scan_directory", denied)
    with pytest.raises(PermissionError, match="listing denied"):
        run_cycle(spark, root, str(tmp_path / "reg"), MemorySink(),
                  today="2024-03-14", cycle=0)


def test_scan_analysis_error_other_than_missing_path_surfaces(
    spark, tmp_path, monkeypatch
):
    """The quiet-cycle catch keys on the PATH_NOT_FOUND condition, not on
    the exception type: an AnalysisException with any other condition
    raises out of run_cycle."""
    from pyspark.errors import AnalysisException

    from crypto_data_service_loader_spark.streaming import service

    def unresolved(spark_, root_):
        return spark_.range(1).select("no_such_column")

    monkeypatch.setattr(service, "scan_directory", unresolved)
    with pytest.raises(AnalysisException) as info:
        run_cycle(spark, str(tmp_path / "data"), str(tmp_path / "reg"),
                  MemorySink(), today="2024-03-14", cycle=0)
    assert info.value.getCondition() != "PATH_NOT_FOUND"


@pytest.mark.parametrize("date_dirs", [[], ["2024-03-13"]])
def test_existing_empty_tree_is_quiet_cycle(spark, tmp_path, date_dirs):
    """An existing root with no files, or with only empty date directories,
    is a quiet cycle like a missing root."""
    root = tmp_path / "data"
    root.mkdir()
    for d in date_dirs:
        (root / d).mkdir()
    out = run_cycle(spark, str(root), str(tmp_path / "reg"), MemorySink(),
                    today="2024-03-14", cycle=0)
    assert out == {"discovered": 0, "progressed": 0, "uploaded": 0, "failed": 0}


def test_registry_read_error_other_than_missing_path_surfaces(
    spark, tmp_path, monkeypatch
):
    """Only a missing log reads as empty. Any other read failure (here a
    filesystem scheme nothing implements) raises out of events() and out
    of run_cycle before the cycle appends anything: read as empty, the
    cycle would re-claim every file on disk under new batch ids."""
    from crypto_data_service_loader_spark.streaming import service

    assert RegistryLog(spark, str(tmp_path / "no_log")).events().count() == 0
    broken = "nosuchfs://host/registry"
    with pytest.raises(Exception, match="nosuchfs"):
        RegistryLog(spark, broken).events()

    appended = []
    monkeypatch.setattr(service.RegistryLog, "append",
                        lambda self, rows: appended.append(rows))
    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    sink = MemorySink()
    with pytest.raises(Exception, match="nosuchfs"):
        run_cycle(spark, root, broken, sink, today="2024-03-14", cycle=0)
    assert appended == [] and sink.write_calls == 0


def _claim(spark, rows):
    """A claim frame as the cycle hands it to the upload: (filename,
    create_date, status, sink_batch) from (filename, date, sink batch)."""
    import datetime as dt

    return spark.createDataFrame(
        [(f, dt.date.fromisoformat(d), "READY_FOR_PROCESSING", b)
         for f, d, b in rows],
        "filename string, create_date date, status string, sink_batch long",
    )


def _outcomes(out):
    return sorted((r["filename"], str(r["create_date"]), r["sink_batch"],
                   r["ok"]) for r in out.collect())


def test_upload_listing_error_other_than_missing_path_surfaces(
    spark, tmp_path, caplog
):
    """With every claimed date directory gone the upload writes nothing
    and settles each claimed file ok=false, without raising; any other
    listing error (a filesystem scheme nothing implements) reaches the
    per-file isolation path, where the files settle ok=false too."""
    import logging

    from crypto_data_service_loader_spark.streaming.upload import (
        run_upload_batch,
    )

    claimed = _claim(spark, [("AAA_PST_2024-03-12", "2024-03-12", 4),
                             ("BBB_PST_2024-03-13", "2024-03-13", 4)])
    sink = MemorySink()
    out = run_upload_batch(spark, claimed, str(tmp_path / "data"), sink)
    assert {r["filename"]: r["ok"] for r in out.collect()} == {
        "AAA_PST_2024-03-12": False, "BBB_PST_2024-03-13": False}
    assert sink.write_calls == 0

    with caplog.at_level(logging.ERROR):
        out = run_upload_batch(spark, claimed, "nosuchfs://host", sink)
        assert {r["filename"]: r["ok"] for r in out.collect()} == {
            "AAA_PST_2024-03-12": False, "BBB_PST_2024-03-13": False}
    assert "isolating per file" in caplog.text and "nosuchfs" in caplog.text
    assert sink.write_calls == 0


def test_upload_returns_one_row_per_claimed_row(spark, tmp_path):
    """Each claimed row comes back exactly once, with its create_date and
    sink_batch, whichever path settles it: the main path (a file and a
    whole date directory missing from disk, an unclaimed file swept in by
    the glob), the isolation path (the group write fails once) and the
    path where no claimed directory is left."""
    from crypto_data_service_loader_spark.streaming.upload import (
        run_upload_batch,
    )

    root = str(tmp_path / "data")
    _mk_tree(root, {
        "2024-03-12": {"AAA_PST_2024-03-12": [VALID, VALID]},
        "2024-03-13": {"BBB_PST_2024-03-13": [VALID],
                       "ZZZ_PST_2024-03-13": [VALID]},
    })
    rows = [("AAA_PST_2024-03-12", "2024-03-12", 7),
            ("BBB_PST_2024-03-13", "2024-03-13", 7),
            ("CCC_PST_2024-03-13", "2024-03-13", 7),  # not on disk
            ("DDD_PST_2024-03-14", "2024-03-14", 8)]  # directory gone
    claimed = _claim(spark, rows)
    on_disk = {"AAA_PST_2024-03-12", "BBB_PST_2024-03-13"}
    settled = sorted((f, d, b, f in on_disk) for f, d, b in rows)

    sink = MemorySink()
    assert _outcomes(run_upload_batch(spark, claimed, root, sink)) == settled
    assert sum(len(b) for _, b in sink.batches) == 3  # ZZZ's row stays out

    flaky = MemorySink(fail_times=1)
    assert _outcomes(run_upload_batch(spark, claimed, root, flaky)) == settled
    assert sum(len(b) for _, b in flaky.batches) == 3

    gone = MemorySink()
    out = run_upload_batch(spark, claimed, str(tmp_path / "empty"), gone)
    assert _outcomes(out) == sorted((f, d, b, False) for f, d, b in rows)
    assert gone.write_calls == 0


def test_cycle_loads_file_names_that_need_uri_escaping(spark, tmp_path):
    """The CSV scan spells a path URI-encoded (`A%20B`, `C%25D`, `E%23F`)
    and the registry holds the decoded name, so a claimed file whose name
    holds a space, `%` or `#` must still land each valid row once and end
    FINISHED, like a plain one."""
    root, reg = str(tmp_path / "data"), str(tmp_path / "reg")
    names = {f"{t}_PST_2024-03-12": t for t in ("A B", "C%D", "E#F", "PLAIN")}
    _mk_tree(root, {"2024-03-12": {
        name: [f"{t},{i},0.5,10,0.51,5,0.49,7,1710400000000"
               for i in range(3)] + [INVALID]
        for name, t in names.items()
    }})
    sink = MemorySink()
    stats = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=0)
    assert stats["uploaded"] == 4 and stats["failed"] == 0
    stored = sorted((r["ticker"], r["sequence"])
                    for _, rows in sink.batches for r in rows)
    assert stored == sorted((t, i) for t in names.values() for i in range(3))
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state == {name: "FINISHED" for name in names}


def test_warm_cycle_job_budget(spark, tmp_path):
    """A warm `run_cycle` (10 new files in 2 new past-date directories,
    HTTP sink, cleanup on) runs at most 12 Spark jobs: the state window
    runs once, over the log and the listing, and discover, progress,
    claim and cleanup all read its one pinned frame; the upload runs one
    control collect and one sink write, and settles its files from the
    CSV scan's own file index, with no join. The log gains one file per
    append, two per cycle. Every file ends FINISHED and every row lands
    once."""
    from crypto_data_service_loader_spark.sinks.clickhouse_http import (
        ClickHouseHttpSink,
    )
    from tests.clickhouse_fake import FakeClickHouse

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # noqa: SLF001 — no Python API
    tracker = sc.statusTracker()

    def last_job():
        bus.waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(None), default=-1)

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "ticks")
        sink.execute("CREATE TABLE ticks (line String) ENGINE = MergeTree "
                     "PARTITION BY batch_id ORDER BY tuple()")
        jobs, parts = [], []
        for cycle in range(3):
            _mk_tree(root, {
                f"2024-03-{2 * cycle + d:02d}": {
                    f"T{i}C{cycle}_PST_2024-03-{2 * cycle + d:02d}":
                        [VALID] * 4
                    for i in range(5)
                }
                for d in (1, 2)
            })
            before, logged = last_job(), _log_files(reg)
            stats = run_cycle(spark, root, reg, sink, today="2024-03-20",
                              cycle=cycle, do_cleanup=True)
            jobs.append(last_job() - before)
            parts.append(_log_files(reg) - logged)
            assert stats["uploaded"] == 10 and stats["failed"] == 0
        assert len(fake.tables["ticks"]) == 3 * 10 * 4
        assert fake.duplicate_inserts_dropped == 0
    finally:
        fake.stop()
    state = RegistryLog(spark, reg).state()
    assert state.filter(F.col("status") != "FINISHED").count() == 0
    assert jobs[2] <= 12, jobs
    assert parts == [2, 2, 2], parts


def test_polling_and_streaming_share_one_cycle(spark, tmp_path):
    """Both service modes run the same cycle core: one tree through
    `run_cycle` and through a drained stream ends in the same registry
    events and the same sink rows."""
    from crypto_data_service_loader_spark.sinks.idempotent import (
        IdempotentParquetSink,
    )
    from crypto_data_service_loader_spark.streaming.service import (
        start_service_stream,
    )

    root = str(tmp_path / "data")
    _mk_tree(root, {
        "2024-03-12": {"AAA_PST_2024-03-12": [VALID, INVALID, VALID]},
        "2024-03-13": {"BBB_PST_2024-03-13": [VALID]},
        "2024-03-14": {"CCC_PST_2024-03-14": [VALID]},
    })
    poll, stream = tmp_path / "poll", tmp_path / "stream"
    run_cycle(spark, root, str(poll / "reg"),
              IdempotentParquetSink(str(poll / "out")), today="2024-03-14")
    start_service_stream(
        spark, root, str(stream / "reg"),
        IdempotentParquetSink(str(stream / "out")), str(stream / "ckpt"),
        today="2024-03-14", available_now=True,
    ).awaitTermination(180)

    def events(side):
        return sorted(tuple(r) for r in
                      RegistryLog(spark, str(side / "reg")).events().collect())

    def rows(side):
        return sorted(tuple(r) for r in
                      IdempotentParquetSink(str(side / "out")).read(spark)
                      .collect())

    assert events(poll) == events(stream)
    assert len(events(poll)) == 3 + 3 + 2 + 2  # CCC waits as DOWNLOADING
    assert rows(poll) == rows(stream) and len(rows(poll)) == 3


def test_polling_cycle_compacts_every_compact_every(spark, tmp_path):
    """`run_cycle` compacts the log on every COMPACT_EVERY-th cycle, and
    that cycle's cleanup still gets the cycle's state."""
    from crypto_data_service_loader_spark.streaming.service import (
        COMPACT_EVERY,
    )

    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID],
                                   "BBB_PST_2024-03-13": [VALID]}})
    out = run_cycle(spark, root, reg, MemorySink(), today="2024-03-14",
                    cycle=COMPACT_EVERY, do_cleanup=True)
    assert out == {"discovered": 2, "progressed": 2, "uploaded": 2,
                   "failed": 0, "skipped": True, "deleted": 0,
                   "dirs_removed": 0}
    events = RegistryLog(spark, reg).events().collect()
    assert sorted((r["filename"], r["status"]) for r in events) == [
        ("AAA_PST_2024-03-13", "FINISHED"), ("BBB_PST_2024-03-13", "FINISHED")]


def test_empty_delta_counts_without_waiting(spark, tmp_path, monkeypatch):
    """A cycle with nothing to do reports 0 counters, and every counter
    Observation has reported when it is read: none waits out its timeout,
    and no upload-row Observation is read at all."""
    from crypto_data_service_loader_spark.functions import metrics
    from crypto_data_service_loader_spark.streaming import service

    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    run_cycle(spark, root, reg, MemorySink(), today="2024-03-14", cycle=0)

    reads: dict[str, list] = {"service": [], "upload": []}

    def recording(side):
        def read(obs, timeout=5.0):
            got = metrics.observed_metrics(obs, timeout=timeout)
            reads[side].append(got)
            return got
        return read

    monkeypatch.setattr(service, "observed_metrics", recording("service"))
    out = run_cycle(spark, root, reg, MemorySink(), today="2024-03-14",
                    cycle=1)
    assert out == {"discovered": 0, "progressed": 0, "uploaded": 0, "failed": 0}
    assert reads["service"] == [{"discovered": 0, "progressed": 0},
                                {"uploaded": 0, "failed": 0}]
    assert reads["upload"] == []


def test_cli_resume_does_not_reuse_batch_ids(spark, tmp_path):
    from crypto_data_service_loader_spark.streaming.service import RegistryLog as RL

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    run_cycle(spark, root, reg, MemorySink(), today="2024-03-14", cycle=0)
    assert RL(spark, reg).next_cycle() == 1  # restart continues, not repeats


def test_stale_in_progress_files_are_reclaimed(spark, tmp_path):
    """A crash between the IN_PROGRESS claim and the FINISHED rollup must
    not orphan files: the next cycle reclaims stale claims and uploads."""
    import datetime

    from crypto_data_service_loader_spark.schemas import REGISTRY_EVENTS

    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    # simulate the crashed cycle 0: claim appended, rollup never happened
    spark.createDataFrame(
        [("AAA_PST_2024-03-13", datetime.date(2024, 3, 13), "DISCOVERED", 0, 0),
         ("AAA_PST_2024-03-13", datetime.date(2024, 3, 13), "IN_PROGRESS", 2, 0)],
        REGISTRY_EVENTS,
    ).write.parquet(reg)

    sink = MemorySink()
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1)
    assert s1["uploaded"] == 1
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state["AAA_PST_2024-03-13"] == "FINISHED"


def test_streaming_service_mode(spark, tmp_path):
    """Full pipeline driven by the discovery STREAM: files appearing in the
    tree are registered, progressed, uploaded, and rolled up within
    foreachBatch epochs; restart resumes from the checkpoint."""
    from crypto_data_service_loader_spark.streaming.service import (
        start_service_stream,
    )

    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    ckpt = str(tmp_path / "ckpt")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID, VALID]}})
    sink = MemorySink()

    q = start_service_stream(spark, root, reg, sink, ckpt,
                             today="2024-03-14", available_now=True)
    q.awaitTermination(180)
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state == {"AAA_PST_2024-03-13": "FINISHED"}
    assert sum(len(b[1]) for b in sink.batches) == 2

    # new file appears; a restarted stream processes only the delta
    _mk_tree(root, {"2024-03-13": {"BBB_PST_2024-03-13": [VALID]}})
    q2 = start_service_stream(spark, root, reg, sink, ckpt,
                              today="2024-03-14", available_now=True)
    q2.awaitTermination(180)
    state2 = {r["filename"]: r["status"]
              for r in RegistryLog(spark, reg).state().collect()}
    assert state2["BBB_PST_2024-03-13"] == "FINISHED"
    assert state2["AAA_PST_2024-03-13"] == "FINISHED"
    assert sum(len(b[1]) for b in sink.batches) == 3


def test_cli_entrypoint(spark, tmp_path):
    from crypto_data_service_loader_spark.__main__ import main

    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    rc = main([
        "run", "--root", root, "--registry", str(tmp_path / "reg"),
        "--cycles", "1", "--today", "2024-03-14", "--interval-sec", "0",
    ])
    assert rc == 0
    out = spark.read.parquet(root.rstrip("/") + "_out")
    assert out.count() == 1


def test_cli_http_sink_end_to_end(spark, tmp_path):
    """`--sink http:<url>|<table>` loads through the ClickHouse HTTP sink:
    the valid rows land at the server exactly once and every file ends
    FINISHED."""
    from crypto_data_service_loader_spark.__main__ import main
    from tests.clickhouse_fake import FakeClickHouse

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")
    _mk_tree(root, {
        "2024-03-12": {"AAA_PST_2024-03-12": [VALID] * 3 + [INVALID]},
        "2024-03-13": {"BBB_PST_2024-03-13": [VALID] * 2,
                       "CCC_PST_2024-03-13": [VALID]},
    })
    fake = FakeClickHouse()
    url = fake.start()
    try:
        fake.execute("CREATE TABLE ticks (x String) ENGINE = MergeTree "
                     "PARTITION BY batch_id ORDER BY tuple()", b"")
        rc = main([
            "run", "--root", root, "--registry", reg,
            "--sink", f"http:{url}|ticks", "--cycles", "2",
            "--today", "2024-03-14", "--interval-sec", "0",
        ])
        assert rc == 0
        assert len(fake.tables["ticks"]) == 6
        assert fake.duplicate_inserts_dropped == 0
    finally:
        fake.stop()
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state == {n: "FINISHED" for n in
                     ("AAA_PST_2024-03-12", "BBB_PST_2024-03-13",
                      "CCC_PST_2024-03-13")}


@pytest.mark.parametrize("scheme", ["parquet", "jdbc"])
def test_cli_rejects_removed_sink_specs(spark, tmp_path, capsys, scheme):
    """Only exactly-once sinks can be built: `parquet:` (append) and
    `jdbc:` (append, no driver) are unknown specs, and nothing is loaded."""
    from crypto_data_service_loader_spark.__main__ import main

    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    out = str(tmp_path / "out")
    rc = main([
        "run", "--root", root, "--registry", str(tmp_path / "reg"),
        "--sink", f"{scheme}:{out}", "--cycles", "1",
        "--today", "2024-03-14", "--interval-sec", "0",
    ])
    assert rc == 2
    assert f"unknown sink spec: {scheme}:" in capsys.readouterr().err
    assert not os.path.exists(out)


def test_cli_rejects_http_spec_without_table(spark, tmp_path, capsys):
    """`--sink http:<url>` without `|<table>` is an unknown spec (exit 2),
    not an uncaught unpacking error, and nothing is registered or
    loaded."""
    from crypto_data_service_loader_spark.__main__ import main

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    rc = main([
        "run", "--root", root, "--registry", reg,
        "--sink", "http:http://localhost:1", "--cycles", "1",
        "--today", "2024-03-14", "--interval-sec", "0",
    ])
    assert rc == 2
    assert "unknown sink spec: http:http://localhost:1" in (
        capsys.readouterr().err)
    assert not os.path.exists(reg)
    assert not os.path.exists(root + "_out")


def test_config_holds_read_keys_and_ignores_the_rest(tmp_path):
    """A YAML shaped like the reference's loads: the keys the engine reads
    reach the config, and the keys nothing reads are ignored."""
    import dataclasses

    from crypto_data_service_loader_spark.config import EngineConfig

    path = tmp_path / "engine.yaml"
    path.write_text(
        "root_path: /data\nregistry_path: /data/_reg\n"
        "checkpoint_path: /data/_ckpt\n"
        "ingest:\n  max_flush_data_attempts: 5\n"
        "  divide_data_parts_quantity: 32\n"
        "  compression_buffer_size: 131072\n  valid_expected_columns: 9\n"
        "discovery:\n  files_buffer_size: 8192\n"
        "  max_reconnect_attempts: 3\n  flush_timeout_sec: 7\n"
        "cycles:\n  status_flow_sec: 20\n"
    )
    cfg = EngineConfig.from_yaml(str(path))
    assert cfg.ingest.max_flush_data_attempts == 5
    assert cfg.discovery.flush_timeout_sec == 7
    values = {
        f"{sec.name}.{f.name}"
        for sec in dataclasses.fields(cfg)
        for f in dataclasses.fields(getattr(cfg, sec.name))
    }
    assert values == {
        "ingest.max_flush_data_attempts", "ingest.sleep_on_reconnect_ms",
        "discovery.flush_timeout_sec",
        "cycles.upload_flow_sec", "cycles.cleanup_hours",
    }


def test_two_day_rollover_soak(spark, tmp_path):
    """Two clock rollovers with discovery, upload, AND cleanup running in
    every cycle — the reference's day-rollover re-init hazard
    (SaveNewFilesToDbFlow.java:254-272). Each day's new file must upload
    exactly once after its date rolls past, retention cleanup must trail
    the upload watermark (delete < last_uploaded - 1, never fresher), and
    no file may regress status across the rollovers."""
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {
        "2024-03-11": {"AAA_PST_2024-03-11": [VALID, VALID]},
        "2024-03-12": {"BBB_PST_2024-03-12": [VALID]},
    })
    sink = MemorySink()

    # day 1 (today = 03-13): backfill uploads both past days; window
    # [03-11, 03-12] is too fresh for any deletion (cutoff 03-11)
    s0 = run_cycle(spark, root, reg, sink, today="2024-03-13", cycle=0,
                   do_cleanup=True)
    assert s0["discovered"] == 2 and s0["uploaded"] == 2 and s0["failed"] == 0
    assert s0["skipped"] is False and s0["deleted"] == 0

    # rollover 1: a file lands in yesterday's dir (03-13), clock -> 03-14
    _mk_tree(root, {"2024-03-13": {"CCC_PST_2024-03-13": [VALID, VALID, VALID]}})
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1,
                   do_cleanup=True)
    assert s1["discovered"] == 1 and s1["uploaded"] == 1 and s1["failed"] == 0
    # watermark moved to 03-13 -> 03-11 (< 03-12) is now deletable
    assert s1["deleted"] == 1 and s1["dirs_removed"] == 1
    assert not os.path.exists(os.path.join(root, "2024-03-11"))
    assert os.path.exists(os.path.join(root, "2024-03-12"))

    # rollover 2: same pattern one day later
    _mk_tree(root, {"2024-03-14": {"DDD_PST_2024-03-14": [VALID]}})
    s2 = run_cycle(spark, root, reg, sink, today="2024-03-15", cycle=2,
                   do_cleanup=True)
    assert s2["discovered"] == 1 and s2["uploaded"] == 1 and s2["failed"] == 0
    assert s2["deleted"] == 1 and s2["dirs_removed"] == 1
    assert not os.path.exists(os.path.join(root, "2024-03-12"))
    assert os.path.exists(os.path.join(root, "2024-03-13"))
    assert os.path.exists(os.path.join(root, "2024-03-14"))

    # nothing regressed, nothing double-uploaded: 4 files FINISHED (the
    # registry remembers deleted files), 7 valid rows landed exactly once
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert set(state.values()) == {"FINISHED"} and len(state) == 4
    assert sum(len(b[1]) for b in sink.batches) == 7


def test_cli_ingest_corpus(spark, tmp_path):
    """The ingest-corpus subcommand drains a drop dir through incremental
    dedup (with boilerplate cleaning + compaction flags) end-to-end."""
    import json as _json

    from crypto_data_service_loader_spark.__main__ import main

    docs = spark.createDataFrame(
        [(0, "HEADER\nunique one"), (1, "HEADER\nunique two"),
         (2, "HEADER\nunique one"), (3, "HEADER")],
        "doc_id long, text string",
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    )
    docs.write.parquet(str(tmp_path / "drop"), mode="append")
    rc = main([
        "ingest-corpus",
        "--input", str(tmp_path / "drop"),
        "--corpus", str(tmp_path / "corpus"),
        "--index", str(tmp_path / "index"),
        "--clean-boilerplate", "--compact",
    ])
    assert rc == 0
    corpus = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    # header stripped everywhere; 2 collapsed into 0; all-boilerplate 3 gone
    assert set(corpus) == {0, 1}
    assert corpus[0] == "unique one"


def test_cli_profile_and_convert(spark, tmp_path, capsys, sf_dir):
    import json as _json

    from crypto_data_service_loader_spark.__main__ import main

    src = f"{sf_dir}/documents.parquet"
    rc = main(["profile", "--input", src, "--columns", "doc_id,lang"])
    assert rc == 0
    lines = [_json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    byc = {l["column"]: l for l in lines}
    assert byc["doc_id"]["n_nulls"] == 0
    assert byc["doc_id"]["n_distinct"] == byc["doc_id"]["n_rows"]
    dst = str(tmp_path / "orc")
    rc = main(["convert", "--input", src, "--output", dst,
               "--to-format", "orc", "--files", "2"])
    assert rc == 0
    got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == spark.read.parquet(src).count()
    assert spark.read.orc(dst).count() == got["rows"]
    zdst = str(tmp_path / "z")
    rc = main(["convert", "--input", f"{sf_dir}/events.parquet",
               "--output", zdst, "--zorder", "user_id,event_id",
               "--files", "2"])
    assert rc == 0


def test_cli_mixture_subcommand(tmp_path, capsys, sf_dir):
    """`mixture` prints one JSON row per source: explicit targets give
    the rebalance table (weights realize the targets); omitting targets
    self-derives them via temperature smoothing (shares sum to ~1)."""
    import json as _json

    from crypto_data_service_loader_spark.__main__ import main

    src = f"{sf_dir}/documents.parquet"
    rc = main(["mixture", "--input", src,
               "--targets", "src0=0.6,src1=0.4"])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines()]
    by_src = {r["source"]: r for r in rows}
    assert by_src["src0"]["target_share"] == 0.6
    assert by_src["src2"]["weight"] == 0.0

    rc = main(["mixture", "--input", src, "--temperature", "0.5"])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines()]
    assert abs(sum(r["target_share"] for r in rows) - 1.0) < 1e-3
    assert all(r["weight"] is not None for r in rows)
