"""The benchmark's workloads.

Each workload is driven through the program's public entry points only
(`session.get_spark`, `streaming.service.run_cycle` and `RegistryLog`,
`sinks.clickhouse_http.ClickHouseHttpSink`, `suite.QUERIES` and
`suite.ORACLES`) with the program's own defaults. A workload object goes
through `prepare` (untimed input generation), `warm_up` (timed as part of
set-up), `measure` (the timed window) and `check` (untimed correctness
checks and metric derivation).

Besides `setup_s` and `peak_rss_mb` (see `run.py`), every workload
reports `round_cpu_s`: the CPU seconds that the driver, the JVM and
Spark's Python workers spend on one round of the workload's loop (see
`proc.tree_cpu_s`). The wall-clock figures (round time, freshness, query
times) spread too much from run to run on a shared host to be bounded;
they go to the detail line.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import threading
import time
from statistics import mean, median

import checks
import gen
import proc
import stats
from tracing import SparkProbe, Tracer, per_round

#: every generated date lies before this day, so a discovered file is
#: READY_FOR_PROCESSING in the same cycle and uploaded at once
TODAY = "2030-01-01"
TABLE = "tickers_data"
WARMUP_TABLE = "warmup_ticks"
#: fields per row at the server: the 9 tick fields plus the sink's batch_id
SERVER_FIELDS = gen.TICK_FIELDS + 1


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, work: str,
                 tracer: Tracer | None):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer = tracer
        self.probe: SparkProbe | None = None
        self.rounds: list[dict] = []  # start, end, traced, spark counters
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    @contextlib.contextmanager
    def _round(self):
        """One round of the loop. In the traced run every other round (from
        the second on) is traced and carries Spark counters."""
        traced = self.tracer is not None and len(self.rounds) % 2 == 1
        if traced:
            self.tracer.active, self.tracer.round = True, len(self.rounds)
            mark = self.probe.mark()
        rec = {"traced": traced, "steady": True, "cpu0": proc.tree_cpu_s(),
               "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu"] = proc.tree_cpu_s() - rec.pop("cpu0")
            if traced:
                self.tracer.active = False
                rec["spark"] = self.probe.since(mark)
            self.rounds.append(rec)

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def round_cpu(self) -> list[float]:
        return [r["cpu"] for r in self.rounds]

    def round_times(self, traced: bool | None = None) -> list[float]:
        """Durations of the steady rounds, those typical of the loop (all
        rounds when none is)."""
        rounds = [r for r in self.rounds
                  if traced is None or r["traced"] == traced]
        steady = [r for r in rounds if r["steady"]] or rounds
        return [r["end"] - r["start"] for r in steady]

    def layers(self) -> dict[str, float]:
        """Per-layer metrics every workload has (traced run)."""
        traced = [r for r in self.rounds if r["traced"]]
        get_spark = next(s for s in self.tracer.spans
                         if s["name"] == "session.get_spark")
        out = {"session.get_spark_s": get_spark["end"] - get_spark["start"]}
        for key in SparkProbe.COUNTERS:
            out[f"spark.{key}"] = median([r["spark"][key] for r in traced])
        out["trace.overhead_s"] = (median(self.round_times(True))
                                   - median(self.round_times(False)))
        return out

    def median_per_round(self, name: str, **kw) -> float:
        """Median over traced rounds of a span's per-round total."""
        by_round = per_round(self.tracer.spans, name, **kw)
        return median([by_round.get(i, 0.0)
                       for i, r in enumerate(self.rounds) if r["traced"]])


# -- trickle_files -----------------------------------------------------------

class _Generator(threading.Thread):
    """Open-loop file source: file `i` is due at `t0 + i / rate` and is
    landed by atomic rename into a past-date directory; a few files per
    day, so the tree spans several dates and retention cleanup has work."""

    def __init__(self, seed, root, staging, rate, seconds, rows, invalid,
                 per_day, first_day):
        super().__init__(name="perfbench-generator", daemon=True)
        self.seed, self.root, self.staging = seed, root, staging
        self.rate, self.seconds, self.rows = rate, seconds, rows
        self.invalid, self.per_day, self.first_day = invalid, per_day, first_day
        self.t0 = 0.0
        self.landed: list[dict] = []  # name, date, due, landed, valid
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def run(self):
        try:
            i = 0
            while i / self.rate < self.seconds and not self._halt.is_set():
                due = self.t0 + i / self.rate
                self._halt.wait(max(0.0, due - time.perf_counter()))
                rnd = random.Random(f"trickle:{self.seed}:{i}")
                date = (self.first_day
                        + dt.timedelta(days=i // self.per_day)).isoformat()
                ticker = f"F{i:05d}-USDT"
                lines, valid = gen.tick_lines(rnd, ticker, self.rows,
                                              self.invalid)
                name = gen.file_name(ticker, date)
                gen.land(self.staging, self.root, date, name,
                         "\n".join(lines) + "\n")
                self.landed.append({"name": name, "date": date, "due": due,
                                    "landed": time.perf_counter(),
                                    "lines": len(lines), "valid": valid})
                i += 1
        except BaseException as exc:  # noqa: BLE001 — re-raised by the caller
            self.error = exc

    def halt(self):
        self._halt.set()


class TrickleFiles(Workload):
    """Open loop: one generator thread lands small files at a fixed rate;
    the main thread runs `run_cycle` back to back, each with retention
    cleanup. The registry log is never compacted.

    Round = one `run_cycle`; latency = file freshness, from its due time
    to the end of the cycle whose rollup marked it FINISHED."""

    name = "trickle_files"
    RATE = 2.0          # files per second
    ROWS = 40           # lines per file
    INVALID = 0.01      # share of invalid lines
    PER_DAY = 4         # files per date directory

    def prepare(self):
        from stand_in import CountingClickHouse

        self.server = CountingClickHouse()
        self.url = self.server.start()
        first = dt.date.fromisoformat(TODAY) - dt.timedelta(days=365)
        self.warm_root = os.path.join(self.work, "warmup")
        self.warm_valid = gen.build_tree(
            self.seed, self.warm_root, os.path.join(self.work, "staging"),
            gen.past_dates(TODAY, 2), [200] * 4, self.INVALID, prefix="W")
        self.root = os.path.join(self.work, "tree")
        self.registry = os.path.join(self.work, "registry")
        self.gen = _Generator(
            self.seed, self.root, os.path.join(self.work, "staging"),
            self.RATE, self.seconds, self.ROWS, self.INVALID, self.PER_DAY,
            first)

    def _sink(self, table):
        from crypto_data_service_loader_spark.sinks.clickhouse_http import (
            ClickHouseHttpSink,
        )

        sink = ClickHouseHttpSink(self.url, table)
        sink.execute(f"CREATE TABLE IF NOT EXISTS {table} (line String) "
                     "ENGINE = MergeTree PARTITION BY batch_id ORDER BY tuple()")
        return sink

    def warm_up(self, spark):
        from crypto_data_service_loader_spark.streaming.service import run_cycle

        run_cycle(spark, self.warm_root, os.path.join(self.work, "warm_reg"),
                  self._sink(WARMUP_TABLE), today=TODAY, cycle=0,
                  do_cleanup=True)

    def measure(self, spark):
        from crypto_data_service_loader_spark.streaming import service

        self.sink = self._sink(TABLE)
        if self.tracer is not None:
            self.probe = SparkProbe(spark)
            _install_service_tracing(self.tracer, self.sink, self.probe)
        self.cycle_stats: list[dict] = []
        self.gen.t0 = self.t0 = time.perf_counter()
        self.gen.start()
        while True:
            last = not self.gen.is_alive()
            with self._round() as cycle, self._span(
                    "streaming.service.run_cycle") as rec:
                # under load: not the first cycle, which starts on an
                # empty tree, nor the last, which drains the tree
                cycle["steady"] = bool(self.cycle_stats) and not last
                st = service.run_cycle(
                    spark, self.root, self.registry, self.sink,
                    today=TODAY, cycle=len(self.cycle_stats), do_cleanup=True)
                if rec is not None:
                    rec["counts"]["files_claimed"] = (
                        st["uploaded"] + st["failed"])
            self.cycle_stats.append(st)
            if last:
                break
        self.gen.join()
        if self.gen.error is not None:
            raise self.gen.error

    def check(self, spark) -> dict[str, float]:
        from crypto_data_service_loader_spark.streaming.service import RegistryLog

        events = [tuple(r) for r in RegistryLog(spark, self.registry)
                  .events().collect()]
        self.registry_events = len(events)
        state = checks.latest_state(events)
        landed = self.gen.landed
        names = [f["name"] for f in landed]
        missing = checks.unfinished(state, names)
        self.attempted += len(names)
        self.failed += len(missing)
        self.failures += [f"file not FINISHED: {n} "
                          f"({state.get(n, (None, 'missing'))[1]})"
                          for n in missing[:5]]
        srv = self.server
        expected = sum(f["valid"] for f in landed)
        rows = srv.row_counts.get(TABLE, 0)
        checks_run = [
            checks.check_rows(TABLE, rows, expected),
            checks.check_rows(WARMUP_TABLE, srv.row_counts.get(WARMUP_TABLE, 0),
                              sum(self.warm_valid.values())),
            checks.check_whole_rows(TABLE, srv.commas[TABLE], rows,
                                    SERVER_FIELDS),
            checks.check_no_dup_tokens(srv.duplicate_inserts_dropped),
        ]
        cleanups = list(range(len(self.cycle_stats)))
        deleted = {f["name"] for f in landed
                   if not os.path.exists(
                       os.path.join(self.root, f["date"], f["name"]))}
        self.files_deleted = sum(s.get("deleted", 0) for s in self.cycle_stats)
        checks_run.append(checks.check_cleanup(
            deleted, checks.cleanup_eligible(events, cleanups, TODAY),
            self.files_deleted))
        self.attempted += len(checks_run)
        for msgs in checks_run:
            self.failed += bool(msgs)
            self.failures += msgs

        starts, ends = ([r[k] for r in self.rounds] for k in ("start", "end"))
        # the cycle whose rollup wrote a file's FINISHED event (10 seqs a cycle)
        fin_cycle = {n: seq // 10 for n, _, s, seq, _ in events
                     if s == "FINISHED"}
        fresh = [ends[fin_cycle[f["name"]]] - f["due"]
                 for f in landed if f["name"] in fin_cycle]
        tail, self.tail_pct = stats.tail(fresh)
        done = max((ends[fin_cycle[n]] for n in names if n in fin_cycle),
                   default=self.t0)
        self.detail = {
            "files": len(names), "cycles": len(self.rounds),
            "cycle_mean_s": mean(r["end"] - r["start"] for r in self.rounds),
            "cycle_p50_s": median(self.round_times()),
            "freshness_p50_s": median(fresh), "freshness_tail_s": tail,
            "freshness_samples": len(fresh), "tail_percentile": self.tail_pct,
            # the backlog: files landed before a cycle starts and finished
            # by it or a later one; flat when the service keeps up
            "pending_at_cycle_start": [
                sum(f["landed"] < t and fin_cycle.get(f["name"], c) >= c
                    for f in landed) for c, t in enumerate(starts)],
            "claimed_per_cycle": [st["uploaded"] + st["failed"]
                                  for st in self.cycle_stats],
            "ingest_rows_per_s": rows / (done - self.t0) if done > self.t0 else 0.0,
            "rows": rows, "files_deleted": self.files_deleted,
            "registry_events": self.registry_events,
            "gen_late_p50_s": median([f["landed"] - f["due"] for f in landed])
            if landed else 0.0,
        }
        # a mean over every cycle of the run, the first and the draining
        # one too: a cycle's cost is mostly fixed, and the four or five
        # cycles of a run are too few for a steady median
        return {"round_cpu_s": mean(self.round_cpu())}

    def layers(self) -> dict[str, float]:
        out = super().layers()
        m = self.median_per_round
        srv = self.server
        rows = srv.row_counts.get(TABLE, 0)
        scan, log = "sources.fs_scan.scan_directory", "streaming.service.RegistryLog"
        upload = "streaming.upload.run_upload_batch"
        out.update({
            "sources.fs_scan.scan_directory_s": m(scan),
            "sources.fs_scan.files_listed": m(scan, count="files"),
            "streaming.service.run_cycle_self_s":
                m("streaming.service.run_cycle", self_time=True),
            "streaming.service.RegistryLog.events_s": m(f"{log}.events"),
            "streaming.service.RegistryLog.append_s": m(f"{log}.append"),
            "streaming.service.RegistryLog.append_calls":
                m(f"{log}.append", count="calls"),
            "streaming.service.registry_events": self.registry_events,
            "operators.registry.plan_s": m("operators.registry.plan"),
            "streaming.upload.run_upload_batch_s": m(upload),
            "streaming.upload.run_upload_batch_self_s": m(upload, self_time=True),
            "streaming.upload.files_claimed":
                m("streaming.service.run_cycle", count="files_claimed"),
            "streaming.upload.spark.jobs": m(upload, count="jobs"),
            "streaming.upload.spark.shuffle_write_b":
                m(upload, count="shuffle_write_b"),
            "sources.csv_ingest.read_ticks_csv_plan_s":
                m("sources.csv_ingest.read_ticks_csv"),
            "sources.csv_ingest.lines_dropped":
                sum(f["lines"] for f in self.gen.landed) - rows,
            "sinks.clickhouse_http.write_s": m("sinks.clickhouse_http.write"),
            "sinks.clickhouse_http.rows": rows,
            "sinks.clickhouse_http.posts": srv.inserts[TABLE],
            "sinks.clickhouse_http.bytes_raw": srv.bytes_raw[TABLE],
            "sinks.clickhouse_http.bytes_gz": srv.bytes_gz[TABLE],
            "sinks.clickhouse_http.retries": (
                srv.inserts[TABLE] - srv.accepted[TABLE]
                - srv.duplicate_inserts_dropped),
            "sinks.clickhouse_http.dup_tokens_dropped":
                srv.duplicate_inserts_dropped,
            "streaming.cleanup.run_cleanup_s": m("streaming.cleanup.run_cleanup"),
            "streaming.cleanup.files_deleted": self.files_deleted,
            "gen.late_s": self.detail["gen_late_p50_s"],
        })
        return out

    def close(self):
        self.gen.halt()
        if self.gen.is_alive():
            self.gen.join()
        self.server.stop()


def _install_service_tracing(tracer: Tracer, sink, probe: SparkProbe) -> None:
    """Wrap the calls `run_cycle` makes into each layer."""
    from crypto_data_service_loader_spark.streaming import service, upload

    def files(rec, args, kwargs, out):
        rec["counts"]["files"] = len(out.inputFiles())

    def calls(rec, args, kwargs, out):
        rec["counts"]["calls"] = 1

    tracer.wrap(service, "scan_directory", "sources.fs_scan.scan_directory",
                files)
    for fn in ("dedup_new_files", "current_state", "transition_statuses",
               "claim_ready_files", "upload_status_rollup"):
        tracer.wrap(service, fn, "operators.registry.plan")
    tracer.wrap(service.RegistryLog, "events",
                "streaming.service.RegistryLog.events")
    tracer.wrap(service.RegistryLog, "append",
                "streaming.service.RegistryLog.append", calls)
    tracer.wrap(upload, "read_ticks_csv", "sources.csv_ingest.read_ticks_csv")
    tracer.wrap(sink, "write", "sinks.clickhouse_http.write")
    tracer.wrap(service, "run_cleanup", "streaming.cleanup.run_cleanup")
    tracer.wrap(service, "run_upload_batch", "streaming.upload.run_upload_batch",
                probe=probe)


# -- analytics_mix -----------------------------------------------------------

#: the query mix: time series, relational, heavy shuffle and text
MIX = (
    "vwap_bars", "ohlc_bars", "asof_last_tick", "win_moving_avg",
    "sessionize_events", "range_join_events", "hll_rolling_distinct",
    "flagship_pricing_summary", "agg_multikey", "join_broadcast_dim",
    "tpch_q3", "tpch_q9", "tpch_q18",
    "dedup_minhash_lsh", "bm25_topk",
)


class AnalyticsMix(Workload):
    """Closed loop, one client: passes over the mix in a seeded order, each
    key written to the noop sink. Round = one pass; latency = one key's
    execution. The warm-up pass collects every result; after the timed
    window each is compared with its DuckDB oracle."""

    name = "analytics_mix"
    SCALE = 0.02  # TPC-H scale factor of the generated tables

    def prepare(self):
        self.sf = os.path.join(self.work, "tables")
        tables = gen.analytics_tables(self.seed, self.SCALE)
        self.tables = sorted(tables)
        gen.write_tables(tables, self.sf)
        self.key_times: dict[str, list[float]] = {k: [] for k in MIX}
        self.key_cpu: dict[str, list[float]] = {k: [] for k in MIX}

    def _noop(self, spark, key: str) -> tuple[float, float] | None:
        """Run one key to the noop sink; its (wall, CPU) seconds, or None
        if it raised."""
        from crypto_data_service_loader_spark.suite import QUERIES

        cpu0, t0 = proc.tree_cpu_s(), time.perf_counter()
        try:
            QUERIES[key](spark, self.sf).write.format("noop").mode(
                "overwrite").save()
        except Exception as exc:  # noqa: BLE001 — counted as a failure
            self.failures.append(f"{key} raised: {exc!r}"[:300])
            return None
        return time.perf_counter() - t0, proc.tree_cpu_s() - cpu0

    def warm_up(self, spark):
        """One pass that collects every result for the oracle check, then
        one pass to the noop sink: the JIT is still compiling through the
        first, and a pass after it costs about 40% more CPU than the
        ones that follow."""
        from crypto_data_service_loader_spark.suite import QUERIES

        self.results = {}
        for key in MIX:
            try:
                self.results[key] = QUERIES[key](spark, self.sf).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                self.failures.append(f"{key} raised in warm-up: {exc!r}"[:300])
        for key in self.results:
            self._noop(spark, key)

    def measure(self, spark):
        """Passes until the window ends, stopping between two keys; the
        first pass always runs whole, so every key has a sample."""
        if self.tracer is not None:
            self.probe = SparkProbe(spark)
        rnd = random.Random(f"mix:{self.seed}")
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline:
            order = list(MIX)
            rnd.shuffle(order)
            with self._round() as rec:
                for key in order:
                    if self.rounds and time.perf_counter() >= deadline:
                        rec["steady"] = False  # cut by the window's end
                        break
                    self.attempted += 1
                    with self._span(f"suite.{key}"):
                        took = self._noop(spark, key)
                    if took is None:
                        self.failed += 1
                    else:
                        self.key_times[key].append(took[0])
                        self.key_cpu[key].append(took[1])

    def check(self, spark) -> dict[str, float]:
        import duckdb

        from crypto_data_service_loader_spark.suite import ORACLES

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf, t + '.parquet')}'")
            for key in MIX:
                self.attempted += 1
                if key not in self.results:
                    self.failed += 1
                    continue
                want = con.execute(ORACLES[key]).fetch_arrow_table().to_pandas()
                msgs = checks.check_frame(key, self.results[key], want)
                self.failed += bool(msgs)
                self.failures += msgs
        finally:
            con.close()
        times = [t for ts in self.key_times.values() for t in ts]
        tail, self.tail_pct = stats.tail(times)
        key_p50 = {k: median(v) for k, v in self.key_times.items() if v}
        key_cpu = {k: median(v) for k, v in self.key_cpu.items() if v}
        self.detail = {"passes": len(self.rounds), "executions": len(times),
                       "query_mix_s": sum(key_p50.values()),
                       "query_p50_s": median(times),
                       "query_tail_s": tail, "tail_percentile": self.tail_pct,
                       "key_p50_s": key_p50, "key_cpu_p50_s": key_cpu}
        # a pass as the sum of each key's median: steadier than the median
        # of a few whole passes, and it uses the cut last pass
        return {"round_cpu_s": sum(key_cpu.values())}

    def layers(self) -> dict[str, float]:
        out = super().layers()
        for key in MIX:
            out[f"suite.{key}_s"] = self.median_per_round(f"suite.{key}")
        return out

    def close(self):
        pass


WORKLOADS = {w.name: w for w in (TrickleFiles, AnalyticsMix)}

#: every end-to-end metric a run reports with tracing off, and its unit
END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: every per-layer metric of the traced run, and its unit; a workload
#: reports 0 for a layer its loop never calls
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.fs_scan.scan_directory_s": "s",
    "sources.fs_scan.files_listed": "count",
    "streaming.service.run_cycle_self_s": "s",
    "streaming.service.RegistryLog.events_s": "s",
    "streaming.service.RegistryLog.append_s": "s",
    "streaming.service.RegistryLog.append_calls": "count",
    "streaming.service.registry_events": "count",
    "operators.registry.plan_s": "s",
    "streaming.upload.run_upload_batch_s": "s",
    "streaming.upload.run_upload_batch_self_s": "s",
    "streaming.upload.files_claimed": "count",
    "streaming.upload.spark.jobs": "count",
    "streaming.upload.spark.shuffle_write_b": "B",
    "sources.csv_ingest.read_ticks_csv_plan_s": "s",
    "sources.csv_ingest.lines_dropped": "count",
    "sinks.clickhouse_http.write_s": "s",
    "sinks.clickhouse_http.rows": "count",
    "sinks.clickhouse_http.posts": "count",
    "sinks.clickhouse_http.bytes_raw": "B",
    "sinks.clickhouse_http.bytes_gz": "B",
    "sinks.clickhouse_http.retries": "count",
    "sinks.clickhouse_http.dup_tokens_dropped": "count",
    "streaming.cleanup.run_cleanup_s": "s",
    "streaming.cleanup.files_deleted": "count",
    **{f"suite.{key}_s": "s" for key in MIX},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_b": "B",
    "spark.spill_b": "B",
    "gen.late_s": "s",
    "trace.overhead_s": "s",
}
