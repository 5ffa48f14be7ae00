"""The benchmark's own tests. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import proc  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


# -- generator ---------------------------------------------------------------

def test_tree_is_a_function_of_the_seed(tmp_path):
    dates = gen.past_dates("2030-01-01", 3)
    trees = []
    for run, seed in enumerate((7, 7, 8)):
        root = tmp_path / f"t{run}"
        valid = gen.build_tree(seed, str(root), str(tmp_path / f"s{run}"),
                               dates, [50, 60, 70, 80], 0.05)
        trees.append((_tree_bytes(str(root)), valid))
    assert trees[0] == trees[1]
    assert trees[0][0].keys() == trees[2][0].keys()
    assert trees[0][0] != trees[2][0]
    names = {os.path.basename(p) for p in trees[0][0]}
    assert names == set(trees[0][1])
    assert all(n.endswith(tuple(f"_PST_{d}" for d in dates)) for n in names)


def test_tick_lines_layout_and_invalid_share():
    lines, valid = gen.tick_lines(random.Random(1), "AVA-USDT", 4000, 0.02)
    whole = [ln for ln in lines if len(ln.split(",")) == gen.TICK_FIELDS]
    assert len(lines) == 4000 and len(whole) == valid
    assert 40 <= 4000 - valid <= 120  # ~2% invalid
    assert all(ln.startswith("AVA-USDT,") for ln in lines)
    assert gen.tick_lines(random.Random(1), "X", 50, 0.0)[1] == 50


def test_land_is_an_atomic_rename(tmp_path):
    dst = gen.land(str(tmp_path / "stage"), str(tmp_path / "tree"),
                   "2029-01-01", "A_PST_2029-01-01", "x\n")
    assert dst == str(tmp_path / "tree" / "2029-01-01" / "A_PST_2029-01-01")
    assert os.listdir(tmp_path / "stage") == []
    assert open(dst).read() == "x\n"


def test_analytics_tables_are_a_function_of_the_seed():
    a = gen.analytics_tables(3, 0.0005)
    assert a == gen.analytics_tables(3, 0.0005)
    assert a != gen.analytics_tables(4, 0.0005)
    assert set(a) == {"nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents"}
    assert all(len(set(map(len, cols.values()))) == 1 for cols in a.values())


# -- statistics --------------------------------------------------------------

@pytest.mark.parametrize("n, rank", [
    (1, 0), (10, 9), (11, 0), (40, 29), (100, 89), (1000, 989), (2000, 1979),
])
def test_tail_rank_keeps_ten_samples_beyond(n, rank):
    assert stats.tail_rank(n) == rank
    if n > stats.TAIL_BEYOND:
        assert n - 1 - rank >= stats.TAIL_BEYOND


def test_tail_value_and_percentile():
    assert stats.tail([float(i) for i in range(40, 0, -1)]) == (30.0, 75.0)


# -- /proc figures ----------------------------------------------------------

def test_tree_cpu_counts_a_busy_child():
    busy = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "time.sleep(1)")
    before, own = proc.tree_cpu_s(), time.process_time()

    def child_cpu():
        return proc.tree_cpu_s() - before - (time.process_time() - own)

    child = subprocess.Popen([sys.executable, "-c", busy])
    try:
        while child_cpu() < 0.25:  # counted while it runs
            assert child.poll() is None, "busy child not counted"
            time.sleep(0.02)
    finally:
        child.wait(timeout=30)
    assert child_cpu() >= 0.25  # and once it has ended


# -- names -------------------------------------------------------------------

def test_printed_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER
    assert bench["paths"] == ["perfbench"]


# -- correctness checks catch injected faults --------------------------------

def test_row_checks_catch_a_dropped_row():
    assert checks.check_rows("t", 100, 100) == []
    assert checks.check_rows("t", 99, 100)
    assert checks.check_whole_rows("t", 9 * 5, 5, 10) == []
    assert checks.check_whole_rows("t", 9 * 5 - 1, 5, 10)
    assert checks.check_no_dup_tokens(0) == [] and checks.check_no_dup_tokens(1)


def _events():
    d = dt.date.fromisoformat
    ev = []
    for i, day in enumerate(["2029-01-01", "2029-01-02", "2029-01-03",
                             "2029-01-04"]):
        cycle = i // 2  # two files per cycle
        name = f"F{i}_PST_{day}"
        ev += [(name, d(day), "DISCOVERED", 10 * cycle, cycle),
               (name, d(day), "READY_FOR_PROCESSING", 10 * cycle + 1, cycle),
               (name, d(day), "IN_PROGRESS", 10 * cycle + 2, cycle),
               (name, d(day), "FINISHED", 10 * cycle + 3, cycle)]
    return ev


def test_registry_state_and_unfinished():
    ev = _events()
    state = checks.latest_state(ev)
    assert {s for _, s in state.values()} == {"FINISHED"}
    assert checks.unfinished(state, ["F0_PST_2029-01-01", "nope"]) == ["nope"]
    early = checks.latest_state(ev, before_seq=12)
    assert early["F2_PST_2029-01-03"][1] == "READY_FOR_PROCESSING"


def test_cleanup_rule_and_check():
    ev = _events()
    # cycle 0: FINISHED dates 01-01..01-02 -> min + 1 == max; cutoff 01-01
    assert checks.cleanup_eligible(ev, [0], "2030-01-01") == set()
    # cycle 1: dates 01-01..01-04, cutoff 01-03 -> the two oldest
    eligible = checks.cleanup_eligible(ev, [1], "2030-01-01")
    assert eligible == {"F0_PST_2029-01-01", "F1_PST_2029-01-02"}
    # yesterday's minimum skips cleanup altogether
    assert checks.cleanup_eligible(ev, [1], "2029-01-02") == set()
    assert checks.check_cleanup(eligible, eligible, 2) == []
    assert checks.check_cleanup(eligible | {"F3_PST_2029-01-04"}, eligible, 3)
    assert checks.check_cleanup(eligible, eligible, 1)


def test_frame_check_catches_a_wrong_value():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    assert checks.check_frame("q", want.iloc[::-1][["v", "k"]], want) == []
    assert checks.check_frame("q", pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]}),
                              want)
    assert checks.check_frame("q", want.iloc[:1], want)
    assert checks.check_frame("q", want.rename(columns={"v": "w"}), want)


def test_stand_in_counts_inflated_rows_and_drops_duplicate_tokens():
    from crypto_data_service_loader_spark.sinks.clickhouse_http import _post
    from stand_in import CountingClickHouse

    srv = CountingClickHouse()
    url = srv.start()
    try:
        _post(url, None, b"CREATE TABLE t (x String) ENGINE = Memory",
              gzipped=False, timeout=10)
        body = gzip.compress(b"a,b,c\nd,e,f\n")
        for token in ("x", "x", "y"):
            _post(url, "INSERT INTO t FORMAT CSV", body, gzipped=True,
                  timeout=10, params={"insert_deduplication_token": token})
    finally:
        srv.stop()
    assert srv.row_counts["t"] == 4
    assert srv.duplicate_inserts_dropped == 1
    assert srv.inserts["t"] == 3 and srv.accepted["t"] == 2
    assert srv.commas["t"] == 8 and srv.bytes_raw["t"] == 24
    assert srv.bytes_gz["t"] == 3 * len(body)


def test_stand_in_takes_a_reset_batch_back_out():
    from crypto_data_service_loader_spark.sinks.clickhouse_http import _post
    from stand_in import CountingClickHouse

    srv = CountingClickHouse()
    url = srv.start()

    def run(sql, body=None):
        if body is None:
            _post(url, None, sql.encode(), gzipped=False, timeout=10)
        else:
            _post(url, sql, gzip.compress(body), gzipped=True, timeout=10)

    try:
        run("CREATE TABLE t (x String) ENGINE = MergeTree PARTITION BY batch_id")
        run("INSERT INTO t FORMAT CSV", b"a,b,7\nc,d,7\ne,f,8\n")
        run("ALTER TABLE t DROP PARTITION 7")
        assert srv.row_counts["t"] == 1 and srv.commas["t"] == 2
        run("INSERT INTO t FORMAT CSV", b"a,b,7\nc,d,7\n")  # the retry
        assert srv.row_counts["t"] == 3 and srv.commas["t"] == 6
        run("ALTER TABLE t DELETE WHERE batch_id = 8 SETTINGS mutations_sync = 1")
        assert srv.row_counts["t"] == 2 and srv.commas["t"] == 4
    finally:
        srv.stop()


# -- tracing -----------------------------------------------------------------

def test_self_time_subtracts_children_and_rounds_sum():
    spans = [
        {"id": 0, "name": "cycle", "parent": None, "round": 1,
         "start": 0.0, "end": 10.0, "counts": {}},
        {"id": 1, "name": "append", "parent": 0, "round": 1,
         "start": 1.0, "end": 3.0, "counts": {"calls": 1}},
        {"id": 2, "name": "append", "parent": 0, "round": 1,
         "start": 4.0, "end": 5.0, "counts": {"calls": 1}},
    ]
    assert tracing.self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}
    assert tracing.per_round(spans, "append") == {1: 3.0}
    assert tracing.per_round(spans, "append", count="calls") == {1: 2}
    assert tracing.per_round(spans, "cycle", self_time=True) == {1: 7.0}


def test_tracer_wraps_and_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = tracing.Tracer("r")
    t.wrap(Box, "f", "box.f", lambda rec, a, kw, out: rec["counts"].update(v=out))
    assert Box.f(1) == 2 and t.spans == []  # inactive: nothing recorded
    t.active, t.round = True, 3
    assert Box.f(2) == 3
    t.restore()
    Box.f(5)
    assert [(s["name"], s["round"], s["counts"]) for s in t.spans] == [
        ("box.f", 3, {"v": 3})]
