"""Mid-stream fault injection on the ClickHouse HTTP wire path (round 15,
VERDICT r14 #7 — reference parity: TickersDataLoader.java:112-170's
maxFlushDataAttempts exhaustion marking the bundle's files ERROR).

The fake fails INSERTs by CONTENT (a marker ticker riding one file's
rows), so the failure lands mid-stream regardless of partition/task
interleaving, and the three windows a real wire flake opens are each
pinned:

1. transient failure -> per-chunk retry succeeds within the 3-attempt
   budget, rows committed exactly once;
2. AMBIGUOUS failure (server committed, response lost) -> the retried
   identical chunk carries the same insert_deduplication_token and the
   server drops it — no double count;
3. attempts exhaustion -> the whole bundle rolls up ERROR (reference
   bundle semantics) after EXACTLY 3 marker posts per write, and the
   reshaped isolation retry resets the batch partition first so the
   partially-committed chunks are never duplicated.
"""

from __future__ import annotations

import datetime
import os

from crypto_data_service_loader_spark.sinks.clickhouse_http import (
    ClickHouseHttpSink,
)
from crypto_data_service_loader_spark.streaming.upload import run_upload_batch
from tests.clickhouse_fake import FakeClickHouse

D = datetime.date
GOOD = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
POISON = "POISONT-USDT,2,0.5,10,0.51,5,0.49,7,1710400000000"


def _mk_file(root, date, name, lines):
    os.makedirs(os.path.join(root, date), exist_ok=True)
    with open(os.path.join(root, date, name), "w") as fh:
        fh.write("\n".join(lines))


def _claimed(spark, names, date="2024-03-13", batch=7):
    return spark.createDataFrame(
        [(n, D(2024, 3, 13), "READY_FOR_PROCESSING", batch) for n in names],
        "filename string, create_date date, status string, sink_batch long",
    )


def _setup(spark, tmp_path, n_good=40, n_poison=8, **fake_kw):
    root = str(tmp_path / "data")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13", [GOOD] * n_good)
    _mk_file(root, "2024-03-13", "BBB_PST_2024-03-13",
             [GOOD] * 4 + [POISON] * n_poison)
    fake = FakeClickHouse(fail_marker=b"POISONT", **fake_kw)
    url = fake.start()
    # the sink posts straight from the CSV scan's partitions, narrowed to
    # the size-derived count (one here: the files are tiny) — the poison
    # rows ride ONE deterministic chunk, so the attempt budget is countable
    # exactly
    sink = ClickHouseHttpSink(url, "tickers_data")
    sink.execute(
        "CREATE TABLE IF NOT EXISTS tickers_data (x String) ENGINE = Null"
    )
    claimed = _claimed(spark, ["AAA_PST_2024-03-13", "BBB_PST_2024-03-13"])
    dir_for_date = lambda d: os.path.join(root, d)  # noqa: E731
    return fake, sink, claimed, dir_for_date


def _stored_lines(fake):
    return [",".join(r[:-1]) for r in fake.tables["tickers_data"]]


def test_transient_mid_stream_failure_retries_and_commits_once(
    spark, tmp_path
):
    """Two injected 500s on the poison chunk; the third (in-budget)
    attempt lands. Every row exactly once, both files FINISHED, and the
    marker chunk was posted exactly maxFlushDataAttempts times."""
    fake, sink, claimed, dfd = _setup(spark, tmp_path, fail_marker_times=2)
    try:
        out = run_upload_batch(spark, claimed, dfd, sink)
        got = {r["filename"]: r["ok"] for r in out.collect()}
        assert got == {"AAA_PST_2024-03-13": True, "BBB_PST_2024-03-13": True}
        lines = _stored_lines(fake)
        assert len(lines) == 52  # 40 + 4 + 8, exactly once
        assert len([x for x in lines if "POISONT" in x]) == 8
        assert fake.marker_posts == 3  # 2 fails + 1 success: the budget
    finally:
        fake.stop()


def test_ambiguous_failure_deduped_by_token(spark, tmp_path):
    """The server commits the poison chunk but the response is lost; the
    client's retry re-POSTs the identical chunk under the SAME
    insert_deduplication_token and the server drops it — rows exactly
    once, no ERROR."""
    fake, sink, claimed, dfd = _setup(spark, tmp_path,
                                      ambiguous_marker_times=1)
    try:
        out = run_upload_batch(spark, claimed, dfd, sink)
        assert all(r["ok"] for r in out.collect())
        lines = _stored_lines(fake)
        assert len(lines) == 52
        assert len([x for x in lines if "POISONT" in x]) == 8
        assert fake.duplicate_inserts_dropped >= 1
    finally:
        fake.stop()


def test_attempts_exhaustion_rolls_up_error_without_double_count(
    spark, tmp_path
):
    """The poison chunk fails EVERY attempt: the group write exhausts its
    3-attempt budget (exactly 3 marker posts), the per-file isolation
    retry resets the batch partition before rewriting (so the group
    write's partially-committed chunks are never duplicated), fails its
    own 3 attempts, and the bundle rolls up ERROR — reference
    maxFlushDataAttempts -> per-bundle ERROR semantics. Every surviving
    stored row is unique."""
    fake, sink, claimed, dfd = _setup(spark, tmp_path,
                                      fail_marker_times=10**9)
    try:
        out = run_upload_batch(spark, claimed, dfd, sink)
        got = {r["filename"]: r["ok"] for r in out.collect()}
        assert got == {
            "AAA_PST_2024-03-13": False, "BBB_PST_2024-03-13": False,
        }
        assert fake.marker_posts == 6  # 3 per write, two writes
        assert fake.partitions_dropped == 1  # reset_batch before retry
        lines = _stored_lines(fake)
        # the poison bundle (BBB: 4 good + 8 poison rows) never landed;
        # AAA's bundle may commit in the group write (dropped by
        # reset_batch) and again in the retry — whether its task beat the
        # poison task's abort is scheduling timing, so the committed set
        # is 0 or exactly-once 40, NEVER the doubled 80 a reshaped retry
        # without reset_batch would produce
        assert len([x for x in lines if "POISONT" in x]) == 0
        assert len(lines) in (0, 40), f"double-counted: {len(lines)}"
    finally:
        fake.stop()


def test_reset_batch_falls_back_to_mutation_on_unpartitioned_table(
    spark, tmp_path
):
    """ADVICE r15: on a table NOT PARTITION BY batch_id the server
    rejects reset_batch's DROP PARTITION — the sink must fall back to
    the ALTER ... DELETE WHERE batch_id mutation instead of failing
    every retry cycle (which left the first attempt's partial chunks
    committed while the files looped in ERROR). Same no-double-count
    invariant as the partitioned-table test."""
    fake, sink, claimed, dfd = _setup(spark, tmp_path,
                                      fail_marker_times=10**9)
    fake.partition_by_batch = False
    try:
        out = run_upload_batch(spark, claimed, dfd, sink)
        got = {r["filename"]: r["ok"] for r in out.collect()}
        assert got == {
            "AAA_PST_2024-03-13": False, "BBB_PST_2024-03-13": False,
        }
        assert fake.partitions_dropped == 0  # the DROP was rejected
        assert fake.mutations_run == 1      # the fallback ran instead
        lines = _stored_lines(fake)
        assert len([x for x in lines if "POISONT" in x]) == 0
        assert len(lines) in (0, 40), f"double-counted: {len(lines)}"
    finally:
        fake.stop()


# ---------------------------------------------------------------------------
# Control-path fault injection (round 16, VERDICT r15 #8): the data path
# above is covered; these schedules kill a cycle at each of its crash
# windows — the claim append (discover + progress + claim events), the
# FINISHED/ERROR rollup append, and the sink write before and after its
# commit — cleanly or TORN (half the rows land, then the crash), and
# assert the reference's state-machine invariants (SURVEY §5) hold across
# the retry cycle: statuses only move forward within a cycle, no
# (filename, seq) ever carries two conflicting statuses (the
# compaction-ambiguity hazard — the event-log form of "a file both
# FINISHED and ERROR"), and the retry converges with every row committed
# exactly once.
# ---------------------------------------------------------------------------

import pytest

from crypto_data_service_loader_spark.sinks.idempotent import (
    IdempotentParquetSink,
)
from crypto_data_service_loader_spark.streaming import service as service_mod
from crypto_data_service_loader_spark.streaming.service import (
    RegistryLog, run_cycle,
)

GOOD_LINE = GOOD


class _InjectedFault(BaseException):
    """A crash, not an error: the upload's per-file isolation path catches
    `Exception`, and a killed process is never isolated."""


#: (kill point, torn) of the running test: 0 and 1 index the cycle's two
#: registry appends, 2 and 3 are the sink write before and after commit
_SCHEDULE = {"kill": -1, "torn": False}


class _FaultyLog(RegistryLog):
    """RegistryLog whose Nth append dies — optionally AFTER writing half
    of its rows (the torn-append window a mid-write crash opens)."""

    calls = 0

    def append(self, rows):
        i = _FaultyLog.calls
        _FaultyLog.calls += 1
        if i == _SCHEDULE["kill"]:
            if _SCHEDULE["torn"]:
                n = rows.count()
                if n > 1:
                    super().append(rows.limit(n // 2))
            raise _InjectedFault(f"injected at append #{i}")
        super().append(rows)


class _FaultySink(IdempotentParquetSink):
    """Sink whose write dies before its commit (torn: after committing
    half the rows) or after a whole commit, before the rollup append. A
    commit is whole by definition, so torn changes nothing at kill 3."""

    def write(self, df, batch_id=None):
        kill = _SCHEDULE["kill"]
        if kill == 2:
            if _SCHEDULE["torn"]:
                # collect, not count(): the CSV scan refuses a bare count
                rows = df.collect()
                half = df.sparkSession.createDataFrame(
                    rows[: len(rows) // 2], df.schema)
                super().write(half, batch_id=batch_id)
            raise _InjectedFault("injected before the sink commit")
        super().write(df, batch_id=batch_id)
        if kill == 3:
            raise _InjectedFault("injected after the sink commit")


_RANK = {"DISCOVERED": 0, "READY_FOR_PROCESSING": 1, "IN_PROGRESS": 2,
         "FINISHED": 3, "ERROR": 3}


@pytest.mark.parametrize("torn", [False, True])
@pytest.mark.parametrize("kill", [0, 1, 2, 3])
def test_status_machine_survives_control_path_faults(
    spark, tmp_path, monkeypatch, kill, torn
):
    """Every (crash point x clean/torn) fault schedule: cycle 0 dies at
    the scheduled append or sink write; the retry cycle must converge to
    FINISHED with exactly-once sink rows, and the whole event log must
    satisfy the forward-only / no-conflicting-status invariants."""
    root = str(tmp_path / "data")
    reg_path = str(tmp_path / "registry")
    _mk_file(root, "2024-03-13", "AAA_PST_2024-03-13", [GOOD_LINE] * 3)
    _mk_file(root, "2024-03-13", "BBB_PST_2024-03-13", [GOOD_LINE] * 2)
    out = str(tmp_path / "out")

    monkeypatch.setattr(service_mod, "RegistryLog", _FaultyLog)
    _FaultyLog.calls = 0
    monkeypatch.setitem(_SCHEDULE, "kill", kill)
    monkeypatch.setitem(_SCHEDULE, "torn", torn)
    with pytest.raises(_InjectedFault):
        run_cycle(spark, root, reg_path, _FaultySink(out),
                  today="2024-03-14", cycle=0)

    # recovery: a fresh process — real log class, next cycle id
    monkeypatch.setattr(service_mod, "RegistryLog", RegistryLog)
    log = RegistryLog(spark, reg_path)
    cycle1 = max(log.next_cycle(), 1)
    sink = IdempotentParquetSink(out)
    stats = run_cycle(
        spark, root, reg_path, sink, today="2024-03-14", cycle=cycle1
    )
    assert stats["failed"] == 0

    # convergence: both files FINISHED, all 5 rows exactly once
    final = {r["filename"]: r["status"] for r in log.state().collect()}
    assert final == {
        "AAA_PST_2024-03-13": "FINISHED", "BBB_PST_2024-03-13": "FINISHED",
    }
    assert sink.read(spark).count() == 5

    events = log.events().collect()
    # (b) no (filename, seq) with conflicting statuses — the event-log
    # form of "a file both FINISHED and ERROR": latest-wins compaction
    # would become ambiguous
    seen: dict = {}
    for r in events:
        key = (r["filename"], r["seq"])
        assert seen.setdefault(key, r["status"]) == r["status"], (
            f"conflicting statuses at {key}")
    # (a) forward-only WITHIN each cycle (seq DIV 10 groups a cycle's
    # appends; cross-cycle reclaim legitimately re-opens IN_PROGRESS)
    percyc: dict = {}
    for r in events:
        percyc.setdefault((r["filename"], r["seq"] // 10), []).append(
            (r["seq"], _RANK[r["status"]]))
    for key, rows in percyc.items():
        ranks = [rk for _, rk in sorted(rows)]
        assert ranks == sorted(ranks), (
            f"status moved backward within cycle: {key} {rows}")
        # and never FINISHED and ERROR in one cycle for one file
        statuses = {s for r2 in events
                    if (r2["filename"], r2["seq"] // 10) == key
                    for s in [r2["status"]]}
        assert not ({"FINISHED", "ERROR"} <= statuses), key
