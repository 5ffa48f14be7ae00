"""The upload path is shuffle-free from the CSV scan to the POST: no sort,
no bundle split, no repartition between `read_ticks_csv` and the sink's
`mapInArrow`, and the number of POSTs comes from the plan's size estimate
(at most one per core) instead of a fixed bundle count. Because the chunks
follow the scan, not the claim, a reclaimed batch is reset before its
rewrite; the last test crashes a cycle after its POSTs to check that."""

from __future__ import annotations

import collections
import datetime
import os
import re

import pytest

from crypto_data_service_loader_spark.plans.explain import physical_plan
from crypto_data_service_loader_spark.sinks import clickhouse_http
from crypto_data_service_loader_spark.sinks.clickhouse_http import (
    POST_TARGET_BYTES,
    ClickHouseHttpSink,
    post_partitions,
)
from crypto_data_service_loader_spark.streaming.service import (
    RegistryLog,
    run_cycle,
)
from crypto_data_service_loader_spark.streaming.upload import run_upload_batch
from tests.clickhouse_fake import FakeClickHouse

VALID = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
INVALID = "AVA-USDT,1,0.5"

#: a shuffle exchange node (not a BroadcastExchange) at a plan line start
_SHUFFLE = re.compile(r"^[\s:+*\-()0-9]*Exchange\b")


def _tree(root, n_files=6, rows=30):
    """`n_files` files over two dates, each with `rows` valid lines and one
    invalid one; returns their (filename, date) pairs."""
    names = []
    for i in range(n_files):
        date = "2024-03-12" if i % 2 else "2024-03-13"
        name = f"T{i}_PST_{date}"
        os.makedirs(os.path.join(root, date), exist_ok=True)
        with open(os.path.join(root, date, name), "w") as fh:
            fh.write("\n".join([VALID] * rows + [INVALID]))
        names.append((name, datetime.date.fromisoformat(date)))
    return names


def _claimed(spark, tmp_path, names, batch=5):
    """The claim set as `run_cycle` hands it over: a plan over the parquet
    registry log, pinned by `localCheckpoint` (which keeps the scan's size
    estimate, so the planner broadcasts it into the semi-join)."""
    path = str(tmp_path / "claimed")
    spark.createDataFrame(
        [(n, d, "READY_FOR_PROCESSING", batch) for n, d in names],
        "filename string, create_date date, status string, sink_batch long",
    ).write.parquet(path)
    return spark.read.parquet(path).localCheckpoint()


def _fake_sink():
    fake = FakeClickHouse()
    url = fake.start()
    sink = ClickHouseHttpSink(url, "tickers_data")
    sink.execute("CREATE TABLE tickers_data (x String) "
                 "ENGINE = MergeTree PARTITION BY batch_id ORDER BY tuple()")
    return fake, sink


def test_upload_write_plan_has_no_exchange(spark, tmp_path, monkeypatch):
    """The sink's write job reads the CSV scan and POSTs from its
    partitions: no shuffle exchange and no sort anywhere in the plan."""
    root = str(tmp_path / "data")
    claimed = _claimed(spark, tmp_path, _tree(root))
    plans = []
    cls = type(claimed)
    orig = cls.mapInArrow

    def spy(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        plans.append(out)
        return out

    monkeypatch.setattr(cls, "mapInArrow", spy)
    fake, sink = _fake_sink()
    try:
        out = run_upload_batch(spark, claimed, lambda d: os.path.join(root, d),
                               sink)
        assert all(r["ok"] for r in out.collect())
    finally:
        fake.stop()
    assert len(plans) == 1
    plan = physical_plan(plans[0])
    assert "MapInArrow" in plan and "Scan csv" in plan, plan
    shuffles = [ln for ln in plan.splitlines() if _SHUFFLE.match(ln)]
    assert not shuffles, plan
    assert not re.search(r"^[\s:+*\-()0-9]*Sort \[", plan, re.M), plan


def test_small_batch_posts_at_most_default_parallelism(spark, tmp_path):
    """A multi-file batch goes out in at most `defaultParallelism` POSTs
    (here one: the files are far below POST_TARGET_BYTES), and every valid
    row lands at the server exactly once."""
    root = str(tmp_path / "data")
    names = _tree(root, n_files=8, rows=25)
    fake, sink = _fake_sink()
    try:
        out = run_upload_batch(spark, _claimed(spark, tmp_path, names),
                               lambda d: os.path.join(root, d), sink)
        assert {r["filename"]: r["ok"] for r in out.collect()} == {
            n: True for n, _ in names
        }
        assert fake.gzip_bodies_seen <= spark.sparkContext.defaultParallelism
        assert fake.gzip_bodies_seen == 1
        stored = fake.tables["tickers_data"]
        assert len(stored) == 8 * 25
        # the batch id rides as the last field; no row was sent twice
        assert {r[-1] for r in stored} == {"5"}
        assert fake.duplicate_inserts_dropped == 0
    finally:
        fake.stop()


def test_post_partitions_from_plan_size(spark):
    """The POST count is ceil(estimated bytes / POST_TARGET_BYTES), capped
    at defaultParallelism, at least 1 — read from the optimized plan."""
    cores = spark.sparkContext.defaultParallelism
    assert post_partitions(spark.range(10)) == 1
    assert post_partitions(spark.range(0)) == 1
    # Range estimates 8 bytes a row: just over one target needs two POSTs
    n = POST_TARGET_BYTES // 8 + 1
    assert post_partitions(spark.range(n)) == min(cores, 2)
    assert post_partitions(spark.range(10**12)) == cores


class _Crash(BaseException):
    """A process death: not an Exception, so no handler on the upload path
    catches it and the cycle stops where it is."""


class _CrashAfterCommit(ClickHouseHttpSink):
    def write(self, df, batch_id=None):
        super().write(df, batch_id=batch_id)
        raise _Crash


def _ticker_file(root, date, ticker, lines):
    os.makedirs(os.path.join(root, date), exist_ok=True)
    with open(os.path.join(root, date, f"{ticker}_PST_{date}"), "w") as fh:
        fh.write("\n".join(
            f"{ticker},{i},0.5,10,0.51,5,0.49,7,1710400000000"
            for i in range(lines)
        ))


@pytest.mark.parametrize("extra_file,retry_cycle", [
    (False, 1),  # plain reclaim: the retry's chunks repeat the first POSTs
    (True, 1),   # a new file in the claimed date directory moves the chunks
    (True, 0),   # the same, with the crashed cycle id replayed
])
def test_http_reclaim_after_commit_lands_rows_once(
    spark, tmp_path, monkeypatch, extra_file, retry_cycle
):
    """Cycle 0 POSTs its batch to the ClickHouse HTTP sink and dies before
    the FINISHED rollup. The retry reclaims the files under sink batch 0.
    A file landing in the claimed date directory in between changes how
    the CSV scan packs its splits and, with a small POST target, how many
    POSTs the write makes, so the retry's chunks and dedup tokens are not
    the first attempt's. The server must still hold every row once."""
    monkeypatch.setattr(clickhouse_http, "POST_TARGET_BYTES", 1024)
    root, reg = str(tmp_path / "data"), str(tmp_path / "registry")
    date, today = "2024-03-13", "2024-03-14"
    sizes = {"AAA-USDT": 20, "BBB-USDT": 20, "CCC-USDT": 30}
    for ticker, n in sizes.items():
        _ticker_file(root, date, ticker, n)
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "tickers_data")
        sink.execute("CREATE TABLE tickers_data (x String) ENGINE = "
                     "MergeTree PARTITION BY batch_id ORDER BY tuple()")
        with pytest.raises(_Crash):
            run_cycle(spark, root, reg, _CrashAfterCommit(url, "tickers_data"),
                      today=today, cycle=0)
        assert len(fake.tables["tickers_data"]) == sum(sizes.values())
        expected = {(t, "0"): n for t, n in sizes.items()}
        if extra_file:
            _ticker_file(root, date, "ZZZ-USDT", 60)
            expected[("ZZZ-USDT", str(retry_cycle))] = 60

        stats = run_cycle(spark, root, reg, sink, today=today,
                          cycle=retry_cycle)
        assert stats["failed"] == 0
        assert stats["uploaded"] == len(expected)
        state = {r["filename"]: r["status"]
                 for r in RegistryLog(spark, reg).state().collect()}
        assert set(state.values()) == {"FINISHED"}, state
        stored = collections.Counter(
            (r[0], r[-1]) for r in fake.tables["tickers_data"]
        )
        assert stored == expected
        assert fake.partitions_dropped == 1
    finally:
        fake.stop()
