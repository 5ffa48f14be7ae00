"""Generated code is compiled once per JVM: the session's codegen cache
holds the engine's working set, so a query or a service cycle that runs
again reuses its compiled classes instead of compiling them afresh.

Both tests read Spark's compile counter, which counts every Janino
compilation of a generated class (a cache hit compiles nothing)."""

from __future__ import annotations

import os

from crypto_data_service_loader_spark.streaming.service import run_cycle
from crypto_data_service_loader_spark.suite import QUERIES

#: the analytics mix of the service benchmark: time series, relational,
#: heavy shuffle and text
MIX = (
    "vwap_bars", "ohlc_bars", "asof_last_tick", "win_moving_avg",
    "sessionize_events", "range_join_events", "hll_rolling_distinct",
    "flagship_pricing_summary", "agg_multikey", "join_broadcast_dim",
    "tpch_q3", "tpch_q9", "tpch_q18",
    "dedup_minhash_lsh", "bm25_topk",
)

VALID = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _noop_pass(spark, sf_dir) -> dict[str, int]:
    """Run every mix key to the noop sink; classes compiled per key."""
    per_key = {}
    for key in MIX:
        before = _compiled(spark)
        QUERIES[key](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        per_key[key] = _compiled(spark) - before
    return per_key


def test_second_analytics_pass_compiles_nothing(spark, sf_dir):
    """A pass over the mix needs about 225 classes, more than Spark's
    default cache of 100 holds; with the session's cache the second pass
    compiles none. That holds for bm25_topk too, whose three broadcasts
    finish in any order: class names leave out the adaptive stage id."""
    _noop_pass(spark, sf_dir)
    second = _noop_pass(spark, sf_dir)
    assert {k: n for k, n in second.items() if n} == {}


def test_warm_service_cycle_reuses_its_classes(spark, tmp_path):
    """A cycle over new files runs the plans of the cycle before it: the
    third of three cycles over a day directory that gains files before
    each one compiles at most 30 classes (28 in a fresh JVM, 20 from the
    fourth cycle on; Spark's default cache of 100: about 70). What still
    compiles are plans that carry the cycle number as a literal."""
    from crypto_data_service_loader_spark.sinks.clickhouse_http import (
        ClickHouseHttpSink,
    )
    from tests.clickhouse_fake import FakeClickHouse

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "ticks")
        sink.execute("CREATE TABLE ticks (line String) ENGINE = MergeTree "
                     "PARTITION BY batch_id ORDER BY tuple()")
        compiled = []
        day = os.path.join(root, "2024-03-13")
        os.makedirs(day)
        for cycle in range(3):
            for sym in ("AAA", "BBB", "CCC"):
                name = f"{sym}{cycle}_PST_2024-03-13"
                with open(os.path.join(day, name), "w") as fh:
                    fh.write("\n".join([VALID] * 4))
            before = _compiled(spark)
            stats = run_cycle(spark, root, reg, sink, today="2024-03-14",
                              cycle=cycle, do_cleanup=True)
            compiled.append(_compiled(spark) - before)
            assert stats["uploaded"] == 3
        assert len(fake.tables["ticks"]) == 36
    finally:
        fake.stop()
    assert compiled[2] <= 30, compiled
