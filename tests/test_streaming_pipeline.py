"""End-to-end pipeline tests over a real temp directory tree — mirrors the
reference's filesystem-integration tests (SURVEY.md §5.2): discovery
streaming, CSV upload batch with per-file rollup, failure injection, and
cleanup with status-dependent keep/delete."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from crypto_data_service_loader_spark.operators.registry import (
    transition_statuses,
    upload_status_rollup,
)
from crypto_data_service_loader_spark.schemas import REGISTRY
from crypto_data_service_loader_spark.sinks.writers import MemorySink
from crypto_data_service_loader_spark.sources.csv_ingest import read_ticks_csv
from crypto_data_service_loader_spark.streaming.cleanup import run_cleanup
from crypto_data_service_loader_spark.streaming.service import (
    RegistryLog,
    start_service_stream,
)
from crypto_data_service_loader_spark.streaming.upload import run_upload_batch

D = datetime.date

VALID = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
INVALID = "AVA-USDT,1,0.5,10"  # 4 fields, dropped not failed


def _mk_tree(root, dates_files):
    for d, files in dates_files.items():
        os.makedirs(os.path.join(root, d), exist_ok=True)
        for name, lines in files.items():
            with open(os.path.join(root, d, name), "w") as fh:
                fh.write("\n".join(lines))


def _registrations(spark, reg_path):
    """filename -> number of DISCOVERED events in the registry event log."""
    events = RegistryLog(spark, reg_path).events()
    return {r["filename"]: r["count"] for r in
            events.filter(F.col("status") == "DISCOVERED")
            .groupBy("filename").count().collect()}


def test_discovery_stream_registers_new_files_once(spark, tmp_path):
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    ckpt = str(tmp_path / "ckpt")
    _mk_tree(root, {"2024-03-14": {"AAA_PST_2024-03-14": [VALID], "BBB_PST_2024-03-14": [VALID]}})

    def drain():
        # today's files: registered and progressed, never uploaded
        start_service_stream(spark, root, reg_path, MemorySink(), ckpt,
                             today="2024-03-14",
                             available_now=True).awaitTermination(120)

    drain()
    assert _registrations(spark, reg_path) == {
        "AAA_PST_2024-03-14": 1, "BBB_PST_2024-03-14": 1
    }
    state = RegistryLog(spark, reg_path).state().collect()
    assert {str(r["create_date"]) for r in state} == {"2024-03-14"}

    # second file appears; restart drains only the delta, dedup keeps one
    # registration each
    _mk_tree(root, {"2024-03-14": {"CCC_PST_2024-03-14": [VALID]}})
    drain()
    assert _registrations(spark, reg_path) == {
        "AAA_PST_2024-03-14": 1, "BBB_PST_2024-03-14": 1,
        "CCC_PST_2024-03-14": 1,
    }
    # the restart's epoch saw only CCC: its events are all CCC's
    events = RegistryLog(spark, reg_path).events()
    last = events.agg(F.max("seq")).first()[0] // 10
    assert {r["filename"] for r in events.filter(F.col("seq") >= last * 10)
            .collect()} == {"CCC_PST_2024-03-14"}


def test_csv_read_drops_invalid_lines(spark, tmp_path):
    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-14": {"AAA_PST_2024-03-14": [VALID, INVALID, VALID]}})
    df = read_ticks_csv(spark, os.path.join(root, "2024-03-14", "AAA_PST_2024-03-14"))
    rows = df.collect()
    assert len(rows) == 2  # invalid line dropped, not failed
    assert rows[0]["ticker"] == "AVA-USDT"
    assert str(rows[0]["transactionTime"]) is not None


def test_upload_batch_rollup_success_and_failure(spark, tmp_path):
    root = str(tmp_path / "data")
    _mk_tree(root, {
        "2024-03-13": {"AAA_PST_2024-03-13": [VALID, VALID], "BBB_PST_2024-03-13": [VALID]},
    })
    claimed = spark.createDataFrame(
        [("AAA_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING"),
         ("BBB_PST_2024-03-13", D(2024, 3, 13), "READY_FOR_PROCESSING")],
        REGISTRY,
    )
    path_for = lambda d: os.path.join(root, d)
    # the claim set as the cycle hands it over: each file under a sink batch
    batch = lambda b: claimed.withColumn("sink_batch", F.lit(b).cast("long"))

    sink = MemorySink()
    res = run_upload_batch(spark, batch(1), path_for, sink)
    statuses = {r["filename"]: r["status"] for r in upload_status_rollup(res).collect()}
    assert statuses == {"AAA_PST_2024-03-13": "FINISHED", "BBB_PST_2024-03-13": "FINISHED"}
    assert sum(len(b[1]) for b in sink.batches) == 3  # all valid rows landed

    # failure injection: sink always fails -> every file goes ERROR
    bad = MemorySink(fail_times=99)
    res2 = run_upload_batch(spark, batch(2), path_for, bad)
    statuses2 = {r["filename"]: r["status"] for r in upload_status_rollup(res2).collect()}
    assert set(statuses2.values()) == {"ERROR"}

    # transient failure: batch write fails once, per-file isolation then
    # succeeds -> FINISHED for every file (finer than the reference's
    # per-bundle ERROR, SURVEY.md §7)
    flaky = MemorySink(fail_times=1)
    res3 = run_upload_batch(spark, batch(3), path_for, flaky)
    statuses3 = {r["filename"]: r["status"] for r in upload_status_rollup(res3).collect()}
    assert set(statuses3.values()) == {"FINISHED"}
    assert sum(len(b[1]) for b in flaky.batches) == 3  # rows landed per-file


def test_sink_retry_then_success(spark, tmp_path):
    """Reference behavior: insert retried maxFlushDataAttempts times
    (TickersDataLoaderTest.java:87-116)."""
    from crypto_data_service_loader_spark.functions.retry import retry

    sink = MemorySink(fail_times=2)
    df = spark.range(3)
    retry(lambda: sink.write(df, 0), attempts=3, sleep_sec=0.01)
    assert sink.write_calls == 3 and len(sink.batches) == 1


def test_sink_retry_exhausted_rethrows(spark):
    """Reference FlowsUtil contract: after the last attempt the failure is
    rethrown, not swallowed."""
    from crypto_data_service_loader_spark.functions.retry import retry

    sink = MemorySink(fail_times=5)
    with pytest.raises(RuntimeError, match="injected sink failure #2"):
        retry(lambda: sink.write(spark.range(1), 0), attempts=2,
              sleep_sec=0.0)
    assert sink.write_calls == 2 and sink.batches == []


def test_cleanup_deletes_finished_keeps_error(spark, tmp_path):
    root = str(tmp_path / "data")
    _mk_tree(root, {
        "2024-03-10": {"OLD_FIN": [VALID], "OLD_ERR": [VALID]},
        "2024-03-13": {"NEW_FIN": [VALID]},
    })
    reg = spark.createDataFrame(
        [("OLD_FIN", D(2024, 3, 10), "FINISHED"),
         ("OLD_ERR", D(2024, 3, 10), "ERROR"),
         ("NEW_FIN", D(2024, 3, 13), "FINISHED")],
        REGISTRY,
    )
    fs = spark.createDataFrame(
        [("OLD_FIN", D(2024, 3, 10)), ("OLD_ERR", D(2024, 3, 10)),
         ("NEW_FIN", D(2024, 3, 13))],
        "filename string, create_date date",
    )
    out = run_cleanup(reg, fs, root, today="2024-03-14")
    assert out == {"skipped": False, "deleted": 1, "dirs_removed": 0}
    assert not os.path.exists(os.path.join(root, "2024-03-10", "OLD_FIN"))
    assert os.path.exists(os.path.join(root, "2024-03-10", "OLD_ERR"))  # kept
    assert os.path.exists(os.path.join(root, "2024-03-13", "NEW_FIN"))  # too new


def test_full_status_machine_cycle(spark, tmp_path):
    """DISCOVERED -> DOWNLOADING/READY -> IN_PROGRESS -> FINISHED end-to-end
    on the event-log registry."""
    from crypto_data_service_loader_spark.operators.registry import (
        apply_status_update, current_state,
    )
    from crypto_data_service_loader_spark.schemas import REGISTRY_EVENTS

    ev = spark.createDataFrame(
        [("a", D(2024, 3, 13), "DISCOVERED", 0, 0),
         ("b", D(2024, 3, 14), "DISCOVERED", 0, 0)],
        REGISTRY_EVENTS,
    )
    # status flow: past file becomes READY, today's becomes DOWNLOADING
    cur = transition_statuses(current_state(ev), "2024-03-14")
    ready = cur.filter(F.col("status") == "READY_FOR_PROCESSING").select("filename")
    ev = apply_status_update(ev, ready, "READY_FOR_PROCESSING",
                             expected_status="DISCOVERED", seq=1, batch_id=1)
    ev = apply_status_update(ev, ready, "IN_PROGRESS",
                             expected_status="READY_FOR_PROCESSING", seq=2, batch_id=2)
    ev = apply_status_update(ev, ready, "FINISHED",
                             expected_status="IN_PROGRESS", seq=3, batch_id=3)
    final = {r["filename"]: r["status"] for r in current_state(ev).collect()}
    assert final == {"a": "FINISHED", "b": "DISCOVERED"}


def test_streaming_histogram_matches_batch_twin(spark, tmp_path):
    """Each closed window's streaming histogram equals the batch
    numeric_histogram of exactly that window's rows (shared bin
    arithmetic); the watermark controls which windows have emitted."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crypto_data_service_loader_spark.operators.profile import (
        numeric_histogram,
    )
    from crypto_data_service_loader_spark.streaming.histogram import (
        start_histogram_stream,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = (
        [(t(0, i), float(v)) for i, v in enumerate([-5, 0, 12, 25, 49])]
        + [(t(1, i), float(v)) for i, v in enumerate([50, 75, 99, 100, 7])]
        # sentinel hour: pushes the final watermark past hours 0-1
        + [(t(5), 1.0)]
    )
    schema = "ts timestamp, value double"
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_histogram_stream(
        stream, str(tmp_path / "ckpt"), "value", 0.0, 100.0, n_bins=4,
        window="1 hour", delay="1 hour", query_name="hist_t",
    )
    q.awaitTermination(120)
    got = {}
    for r in spark.sql("SELECT * FROM hist_t").collect():
        got.setdefault(r["win_start"].hour, {})[r["bin_id"]] = (
            r["bin_lo"], r["bin_hi"], r["n_rows"]
        )
    # hours 0 and 1 closed (watermark = 05:00 - 1h); 5 still open
    assert set(got) == {0, 1}
    batch = spark.createDataFrame(rows, schema)
    for h in (0, 1):
        window_rows = batch.filter(F.hour("ts") == h)
        expect = {r["bin_id"]: (r["bin_lo"], r["bin_hi"], r["n_rows"])
                  for r in numeric_histogram(
                      window_rows, "value", 0.0, 100.0, 4).collect()}
        assert got[h] == expect
    # bounded state: every emitted row is one of the n_bins+2 buckets
    assert all(-1 <= b <= 4 for per in got.values() for b in per)


def test_streaming_drift_alerts_match_batch_twin(spark, tmp_path):
    """The stream-then-alert pipeline (windowed histogram stream ->
    histogram_drift over the emitted windows) equals the batch backfill
    (windowed_histogram_batch -> histogram_drift) on the same closed
    windows — the shared-bin-math contract extended to the drift op."""
    import datetime as dt

    from crypto_data_service_loader_spark.operators.profile import (
        histogram_drift, windowed_histogram_batch,
    )
    from crypto_data_service_loader_spark.streaming.histogram import (
        histogram_drift_alerts, start_histogram_stream,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = (
        # hour 0: mass in low bins; hour 1: shifted up; hour 2: shifted
        # hard (drift alert should fire for the 1->2 pair)
        [(t(0, i), float(v)) for i, v in enumerate([5, 10, 15, 20, 30])]
        + [(t(1, i), float(v)) for i, v in enumerate([30, 35, 55, 60, 5])]
        + [(t(2, i), float(v)) for i, v in enumerate([90, 95, 99, 98, 97])]
        + [(t(6), 1.0)]  # sentinel: watermark closes hours 0-2
    )
    schema = "ts timestamp, value double"
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_histogram_stream(
        stream, str(tmp_path / "ckpt"), "value", 0.0, 100.0, n_bins=4,
        window="1 hour", delay="1 hour", query_name="hist_drift_t",
    )
    q.awaitTermination(120)
    streamed = histogram_drift_alerts(spark, "hist_drift_t", threshold=0.0)
    closed = spark.createDataFrame(
        [r for r in rows if r[0].hour <= 2], schema
    )
    batch_h = windowed_histogram_batch(
        closed, "value", 0.0, 100.0, n_bins=4, window="hour"
    )
    batch = histogram_drift(batch_h)
    key = lambda r: r["win_start"]
    assert sorted(map(tuple, streamed.collect()), key=lambda x: x[0]) == \
        sorted(map(tuple, batch.collect()), key=lambda x: x[0])
    # and the hard shift is the bigger drift of the two pairs
    by_win = {r["win_start"].hour: r["tvd"] for r in batch.collect()}
    assert by_win[2] > by_win[1]
    assert histogram_drift_alerts(
        spark, "hist_drift_t", threshold=0.99
    ).count() <= 1


def test_streaming_category_mix_matches_batch_twin(spark, tmp_path):
    """Live category-mix monitoring equals the batch backfill: windowed
    category counts streamed (append mode, watermark-closed windows)
    into the shared drift comparator reproduce profile.category_drift
    row for row, and a planted mix swap fires the alert."""
    import datetime as dt

    from crypto_data_service_loader_spark.operators.profile import (
        category_drift,
    )
    from crypto_data_service_loader_spark.streaming.histogram import (
        category_drift_alerts, start_category_mix_stream,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = (
        [(t(0, i), c) for i, c in enumerate(["a", "a", "b", "b"])]
        + [(t(1, i), c) for i, c in enumerate(["a", "a", "b", "b"])]
        + [(t(2, i), c) for i, c in enumerate(["a", "c", "c", "c"])]
        + [(t(6), "a")]  # sentinel: watermark closes hours 0-2
    )
    schema = "ts timestamp, event_type string"
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_category_mix_stream(
        stream, str(tmp_path / "ckpt"), "event_type",
        window="1 hour", delay="1 hour", query_name="cat_mix_t",
    )
    q.awaitTermination(120)
    streamed = category_drift_alerts(
        spark, "cat_mix_t", "event_type", threshold=-1.0
    )
    closed = spark.createDataFrame(
        [r for r in rows if r[0].hour <= 2], schema
    )
    batch = category_drift(closed, "event_type", window="hour")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    by_win = {r["win_start"].hour: r for r in batch.collect()}
    assert by_win[1]["tvd"] == 0.0
    assert by_win[2]["tvd"] == 0.75  # a -0.25, b -0.5, c +0.75
    assert by_win[2]["linf_bin_id"] == "c"  # c's gain is the biggest move
    # the identical-mix pair is NOT an alert; the swap fires exactly once
    assert category_drift_alerts(
        spark, "cat_mix_t", "event_type", threshold=0.3
    ).count() == 1
