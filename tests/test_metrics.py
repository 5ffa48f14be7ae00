"""Observability tests (reference O28/O29 parity): throughput events carry
the reference's MDC fields and flush to a queryable LOG_EVENT DataFrame."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from crypto_data_service_loader_spark.functions.metrics import (
    LogEventBuffer,
    timed,
)


def test_timed_block_emits_throughput_event(spark):
    buf = LogEventBuffer()
    with timed(buf, "upload bundle 3", rows=1000) as h:
        h["bytes"] = 2 * 1048576
        time.sleep(0.05)
    df = buf.flush(spark)
    row = df.collect()[0]
    assert row["message"] == "upload bundle 3"
    assert row["severity"] == "INFO"
    mdc = row["mdc_fields"]
    # the reference's MDC field set (CompressionHandler.java:123-125)
    assert set(mdc) >= {"data_size", "rate_mb_s", "total_time", "rows_per_s"}
    assert float(mdc["total_time"]) >= 0.05
    assert mdc["data_size"] == str(2 * 1048576)
    assert buf.events == []  # flushed


def test_log_events_are_queryable_like_tickers_logs(spark):
    buf = LogEventBuffer()
    for i in range(5):
        with timed(buf, f"bundle {i}", rows=10 * i):
            pass
    df = buf.flush(spark)
    # the log table is a normal DataFrame: filter + json-ify (O29 shape)
    out = df.filter(F.col("severity") == "INFO").select(
        F.to_json(F.struct("severity", "message", "mdc_fields")).alias("j")
    )
    assert out.count() == 5
    assert '"severity":"INFO"' in out.first()["j"]


def test_streaming_progress_listener(spark, tmp_path):
    from pyspark.sql import functions as F

    from crypto_data_service_loader_spark.streaming.progress import ProgressCapture

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    ).write.parquet(src)
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        q = (
            spark.readStream.schema("id long, v double")
            .parquet(src)
            .groupBy((F.col("id") % 10).alias("k"))
            .agg(F.sum("v").alias("s"))
            .writeStream.format("memory")
            .queryName("prog_test")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async; wait for the progress row to land
        import time
        for _ in range(50):
            if cap.rows:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(cap)
    df = cap.to_df(spark)
    rows = df.collect()
    assert len(rows) >= 1
    total = sum(r["num_input_rows"] for r in rows)
    assert total == 100
    assert all(r["query_name"] == "prog_test" for r in rows)
    assert any(r["state_rows_total"] == 10 for r in rows)  # 10 agg groups


def test_observed_metrics_bounded_wait(spark):
    """ADVICE r5: Observation.get BLOCKS until the observed plan runs an
    action — a sink that never executed the plan would hang the caller.
    observed_metrics() must give up within its timeout, and must return
    the real metrics once an action has run."""
    import time

    from pyspark.sql import Observation, functions as F

    from crypto_data_service_loader_spark.functions.metrics import (
        observed_metrics,
    )

    df = spark.range(100).select(F.col("id"))
    obs = Observation("bounded_probe")
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    t0 = time.perf_counter()
    assert observed_metrics(obs, timeout=1.0) is None  # no action yet
    assert time.perf_counter() - t0 < 5.0  # bounded, not a hang
    observed.write.format("noop").mode("overwrite").save()
    got = observed_metrics(obs, timeout=5.0)
    assert got is not None and got["rows"] == 100
