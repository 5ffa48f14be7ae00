"""Exactly-once semantics: replaying an epoch must not duplicate rows —
strictly better than the reference's at-least-once bundle restart
(SURVEY.md §7)."""

from __future__ import annotations

from crypto_data_service_loader_spark.sinks.idempotent import IdempotentParquetSink


def test_replayed_batch_does_not_duplicate(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    df1 = spark.range(10).withColumnRenamed("id", "v")

    sink.write(df1, batch_id=0)
    sink.write(df1, batch_id=0)  # epoch replay (e.g. post-failure re-execution)
    assert sink.read(spark).count() == 10  # not 20

    sink.write(spark.range(5).withColumnRenamed("id", "v"), batch_id=1)
    assert sink.read(spark).count() == 15

    # a replay with corrected data fully replaces the epoch's output
    sink.write(spark.range(3).withColumnRenamed("id", "v"), batch_id=1)
    assert sink.read(spark).count() == 13


def test_upload_fallback_preserves_all_files_under_idempotent_sink(spark, tmp_path):
    """Regression (review finding): the per-file failure fallback must not
    issue multiple writes under one batch_id — dynamic partition overwrite
    would keep only the LAST file's rows while marking all FINISHED."""
    import datetime
    import os

    from crypto_data_service_loader_spark.streaming.upload import run_upload_batch

    root = str(tmp_path / "data")
    os.makedirs(os.path.join(root, "2024-03-13"))
    line = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
    for name, n in [("AAA", 2), ("BBB", 3)]:
        with open(os.path.join(root, "2024-03-13", name), "w") as fh:
            fh.write("\n".join([line] * n))
    claimed = spark.createDataFrame(
        [("AAA", datetime.date(2024, 3, 13), "READY_FOR_PROCESSING", 5),
         ("BBB", datetime.date(2024, 3, 13), "READY_FOR_PROCESSING", 5)],
        "filename string, create_date date, status string, sink_batch long",
    )

    class FlakyIdempotent(IdempotentParquetSink):
        def __init__(self, path):
            super().__init__(path)
            self.calls = 0

        def write(self, df, batch_id=None):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("transient")
            super().write(df, batch_id=batch_id)

    sink = FlakyIdempotent(str(tmp_path / "out"))
    res = run_upload_batch(spark, claimed, root, sink)
    assert {r["filename"]: r["ok"] for r in res.collect()} == {"AAA": True, "BBB": True}
    assert sink.read(spark).count() == 5  # ALL rows survived, not just BBB's


def test_discovery_day_rollover(spark, tmp_path):
    """New date-dir appearing after the stream started is picked up by the
    globbed source — the reference needed explicit watcher re-init
    (SaveNewFilesToDbFlow.java:254-272); the glob makes rollover free."""
    import os

    from crypto_data_service_loader_spark.sinks.writers import MemorySink
    from crypto_data_service_loader_spark.streaming.service import (
        RegistryLog,
        start_service_stream,
    )

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")

    def drain(today):
        start_service_stream(spark, root, reg, MemorySink(),
                             str(tmp_path / "ck"), today=today,
                             available_now=True).awaitTermination(120)

    os.makedirs(os.path.join(root, "2024-03-14"))
    with open(os.path.join(root, "2024-03-14", "A_PST_2024-03-14"), "w") as fh:
        fh.write("x")
    drain("2024-03-14")

    # midnight: a new dir appears
    os.makedirs(os.path.join(root, "2024-03-15"))
    with open(os.path.join(root, "2024-03-15", "B_PST_2024-03-15"), "w") as fh:
        fh.write("y")
    drain("2024-03-15")

    events = RegistryLog(spark, reg).events()
    got = {(r["filename"], str(r["create_date"])) for r in
           events.filter(events.status == "DISCOVERED").collect()}
    assert got == {("A_PST_2024-03-14", "2024-03-14"),
                   ("B_PST_2024-03-15", "2024-03-15")}


def test_idempotent_sink_is_a_sink():
    """The local default obeys the one sink contract: it is a `Sink`, and
    its `reset_batch` is the base class's no-op (its overwrite already
    replaces the whole batch)."""
    from crypto_data_service_loader_spark.sinks.writers import Sink

    assert issubclass(IdempotentParquetSink, Sink)
    assert IdempotentParquetSink.reset_batch is Sink.reset_batch


def test_compact_requires_row_identity(spark, tmp_path):
    """ADVICE r5: a refold after a crash between the base rewrite and the
    epoch-dir deletes re-unions already-folded rows; without dedup_cols
    those duplicates would become PERMANENT — so compact() refuses None
    instead of silently degrading."""
    import pytest

    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink.write(spark.range(3).withColumnRenamed("id", "v"), batch_id=0)
    with pytest.raises(ValueError, match="dedup_cols"):
        sink.compact(spark)
    with pytest.raises(ValueError, match="dedup_cols"):
        sink.compact(spark, dedup_cols=[])
