"""Integration tests for the ClickHouse HTTP path — DDL bootstrap, gzip
pass-thru bulk insert from executors, read-back, TRUNCATE (O26), retries —
against the protocol fake (no server binary ships in this image; see
sinks/clickhouse_http.py for the documented attempt)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from crypto_data_service_loader_spark.sinks.clickhouse_http import (
    ClickHouseHttpSink,
)
from tests.clickhouse_fake import FakeClickHouse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DDL = os.path.join(REPO, "sql", "clickhouse_ddl.sql")


def _ticks_df(spark, n=100):
    return spark.range(n).select(
        F.concat(F.lit("T"), (F.col("id") % 7).cast("string")).alias("ticker"),
        F.col("id").alias("sequence"),
        (F.col("id") * 1.5).alias("price"),
        F.lit(10.0).alias("size"),
        (F.col("id") * 1.501).alias("bestAsk"),
        F.lit(5.0).alias("bestAskSize"),
        (F.col("id") * 1.499).alias("bestBid"),
        F.lit(7.0).alias("bestBidSize"),
        F.lit(datetime.datetime(2024, 3, 14, 6, 46, 40)).alias("transactionTime"),
    )


def test_ddl_script_roundtrip():
    with FakeClickHouse() as url:
        sink = ClickHouseHttpSink(url, "tickers_data")
        ran = sink.run_script(DDL)
        assert ran == 3
        # the server now knows the reference's three tables (README.md:33-36)
        srv_tables = set()
        import urllib.request
        for t in ("ticker_files", "tickers_data", "tickers_logs"):
            assert sink.count(t) == 0
            srv_tables.add(t)
        assert srv_tables == {"ticker_files", "tickers_data", "tickers_logs"}


def test_bulk_insert_gzip_passthru_and_readback(spark):
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "tickers_data")
        sink.run_script(DDL)
        sent = sink.write(_ticks_df(spark, 100), batch_id=7)
        assert sent == 100
        assert sink.count() == 100
        # the bodies really crossed the wire gzip'd (pass-thru contract,
        # ClickHouseDAO.java:152) — one gzip POST per non-empty partition
        assert fake.gzip_bodies_seen >= 1
        rows = fake.tables["tickers_data"]
        assert all(len(r) == 10 for r in rows)  # 9 tick fields + batch_id
        assert {r[-1] for r in rows} == {"7"}  # ReplacingMergeTree version col
        tickers = {r[0] for r in rows}
        assert tickers == {f"T{i}" for i in range(7)}
        # DateTime64(3)-compatible framing
        assert rows[0][8].startswith("2024-03-14 06:46:40")
    finally:
        fake.stop()


def test_compression_metrics_parity(spark):
    """CompressionHandler.java:113-134 parity: each write records the
    MDC-shaped throughput event (data_size / rate / total_time)."""
    from crypto_data_service_loader_spark.functions.metrics import LogEventBuffer

    with FakeClickHouse() as url:
        buf = LogEventBuffer()
        sink = ClickHouseHttpSink(url, "tickers_data", metrics=buf)
        sink.run_script(DDL)
        sink.write(_ticks_df(spark, 50), batch_id=3)
        assert len(buf.events) == 1
        ev = buf.flush(spark).collect()[0]
        assert ev["message"] == "clickhouse insert tickers_data"
        mdc = ev["mdc_fields"]
        assert int(mdc["rows"]) == 50
        assert int(mdc["data_size"]) > 0
        assert float(mdc["total_time"]) > 0


def test_truncate_o26(spark):
    with FakeClickHouse() as url:
        sink = ClickHouseHttpSink(url, "tickers_data")
        sink.run_script(DDL)
        sink.write(_ticks_df(spark, 10), batch_id=0)
        assert sink.count() == 10
        sink.truncate()
        assert sink.count() == 0
        sink.truncate("ticker_files")  # parameterized form, O26 signature


def test_insert_retries_then_succeeds(spark):
    """Reference maxFlushDataAttempts=3: two injected failures, third
    attempt lands — all rows present exactly once."""
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(
            url, "tickers_data", attempts=3, sleep_sec=0.05
        )
        fake.fail_times = 0
        sink.run_script(DDL)
        fake.fail_times = 2
        sent = sink.write(_ticks_df(spark, 20), batch_id=1)
        assert sent == 20
        assert sink.count() == 20
    finally:
        fake.stop()


def test_insert_fails_after_exhausted_retries(spark):
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(
            url, "tickers_data", attempts=2, sleep_sec=0.01
        )
        sink.run_script(DDL)
        fake.fail_times = 10
        with pytest.raises(Exception):
            sink.write(_ticks_df(spark, 5), batch_id=2)
    finally:
        fake.stop()


def test_service_cycle_through_clickhouse_sink(spark, tmp_path):
    """The full pipeline (discover -> progress -> claim -> upload -> rollup)
    with the ClickHouse HTTP path as the tick sink — the reference's actual
    deployment shape, previously zero-covered."""
    from crypto_data_service_loader_spark.streaming.service import (
        RegistryLog,
        run_cycle,
    )

    root = str(tmp_path / "data")
    os.makedirs(os.path.join(root, "2024-03-13"))
    line = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
    with open(os.path.join(root, "2024-03-13", "AAA_PST_2024-03-13"), "w") as fh:
        fh.write("\n".join([line] * 4))

    with FakeClickHouse() as url:
        sink = ClickHouseHttpSink(url, "tickers_data", send_batch_id=False)
        sink.run_script(DDL)
        reg = str(tmp_path / "registry")
        # one cycle takes the file DISCOVERED -> READY -> IN_PROGRESS -> FINISHED
        stats = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=0)
        assert stats["uploaded"] == 1
        assert sink.count() == 4
        # a second cycle is a no-op: nothing re-claimed, nothing re-sent
        stats1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1)
        assert stats1["uploaded"] == 0
        assert sink.count() == 4
        state = {r["filename"]: r["status"]
                 for r in RegistryLog(spark, reg).state().collect()}
        assert state["AAA_PST_2024-03-13"] == "FINISHED"


def test_insert_dedup_token_sent_and_idempotent(spark):
    """Every insert chunk carries a content-hash insert_deduplication_token;
    a re-POST of the same chunk (ambiguous-failure retry: server committed
    but the response was lost) is dropped server-side, not duplicated."""
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "tickers_data")
        sink.run_script(DDL)
        sent = sink.write(_ticks_df(spark, 50), batch_id=1)
        assert sent == 50
        # tokens crossed the wire — one per non-empty chunk
        assert len(fake.tokens_seen) >= 1
        assert sink.count() == 50
        # simulate the ambiguous-failure retry: identical payload + token
        import gzip as _gzip
        from crypto_data_service_loader_spark.sinks.clickhouse_http import _post
        import hashlib
        raw = b"T0,999,1.0,1.0,1.0,1.0,1.0,1.0,2024-03-14 06:46:40.000,1\n"
        token = hashlib.md5(raw).hexdigest()
        for _ in range(3):  # same chunk re-POSTed thrice
            _post(url, "INSERT INTO tickers_data FORMAT CSV",
                  _gzip.compress(raw), gzipped=True, timeout=10,
                  params={"insert_deduplication_token": token})
        assert sink.count() == 51  # stored once
        assert fake.duplicate_inserts_dropped == 2
    finally:
        fake.stop()


def test_control_statement_ships_as_body():
    """execute() sends the statement AS the POST body (no ?query= param) —
    long DDL must not ride the URL through proxy length limits."""
    seen = {}

    class RecordingFake(FakeClickHouse):
        def handle(self, req):
            from urllib.parse import parse_qs, urlparse
            seen["params"] = parse_qs(urlparse(req.path).query)
            return super().handle(req)

    fake = RecordingFake()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "t")
        sink.execute("CREATE TABLE t (x String) ENGINE = MergeTree ORDER BY x")
        assert "query" not in seen["params"]
        assert sink.count("t") == 0
    finally:
        fake.stop()


def test_payload_zero_copy_layouts():
    """_payload assembles the wire bytes straight from the Arrow string
    column's data buffer: plain, sliced, and large_string arrays all yield
    the exact byte-concatenation of the lines; null-bearing arrays fall
    back to a safe join that drops the nulls."""
    import pyarrow as pa

    from crypto_data_service_loader_spark.sinks.clickhouse_http import _payload

    lines = ["a,1\n", "b,2\n", "c,3\n"]
    plain = pa.array(lines, type=pa.string())
    assert bytes(_payload(plain)) == b"a,1\nb,2\nc,3\n"
    assert isinstance(_payload(plain), memoryview)  # zero-copy branch

    # sliced array: offsets no longer start at 0 — the slice must honor
    # arr.offset or the payload silently includes evicted rows
    assert bytes(_payload(plain.slice(1))) == b"b,2\nc,3\n"
    assert bytes(_payload(plain.slice(1, 1))) == b"b,2\n"

    large = pa.array(lines, type=pa.large_string())
    assert bytes(_payload(large)) == b"a,1\nb,2\nc,3\n"
    assert bytes(_payload(large.slice(2))) == b"c,3\n"

    with_null = pa.array(["a,1\n", None, "c,3\n"], type=pa.string())
    assert bytes(_payload(with_null)) == b"a,1\nc,3\n"

    empty = pa.array([], type=pa.string())
    assert bytes(_payload(empty)) == b""


def test_lite_fake_acks_gzip_without_inflating(spark):
    """Lite mode (bench throughput double) must count the compressed bytes
    and ack without decompressing; the client-side rows_sent accounting is
    the source of truth there."""
    import gzip as _gzip

    fake = FakeClickHouse(lite=True)
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "t", send_batch_id=False)
        sink.execute("CREATE TABLE t (x String) ENGINE = Null")
        df = spark.range(1000).selectExpr("cast(id as string) AS s")
        sent = sink.write(df)
        assert sent == 1000
        assert fake.gz_bytes_received > 0
        assert fake.row_counts == {}  # rows never parsed server-side
        assert fake.gzip_bodies_seen >= 1
    finally:
        fake.stop()


def test_no_shuffle_when_num_partitions_none(spark):
    """The sink posts from the input partitioning (narrowed, never
    repartitioned) — the plan must carry no Exchange (at 100 TB a
    repartition of the rendered lines is a full shuffle of the payload)."""
    fake = FakeClickHouse(lite=True)
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "t", send_batch_id=False)
        sink.execute("CREATE TABLE t (x String) ENGINE = Null")
        df = spark.range(0, 10000, 1, 8).selectExpr("cast(id as string) AS s")
        from crypto_data_service_loader_spark.sinks.clickhouse_http import (
            _csv_line,
        )
        plan = _csv_line(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert sink.write(df) == 10000
    finally:
        fake.stop()
