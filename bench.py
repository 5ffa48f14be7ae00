"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Measures the headline operator suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the reference's one
published number: bulk CSV ingest throughput (validate -> typed load ->
columnar sink), reported against BASELINE.md's 300k-500k rows/sec
(reference hardware: 32 threads + ClickHouse Cloud over HTTP; ours: local
sink — per-stage timings recorded for the apples-to-apples segment).

Output: {"metric": "suite_total", "value": <sec>, "unit": "sec",
         "queries": {...per-query sec...}, "sf": ..., "extra": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from crypto_data_service_loader_spark.session import get_spark
from crypto_data_service_loader_spark.suite import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline queries: the hot-path shapes (scan-agg, joins, window, as-of,
#: dedup, similarity, text) — each stressed end-to-end via a noop sink.
HEADLINE = [
    "flagship_pricing_summary",
    "join_broadcast_dim",
    "join_sortmerge",
    "asof_last_tick",
    "agg_multikey",
    "win_moving_avg",
    # ROTATION CHECKLIST: any HEADLINE edit MUST re-run
    # tests/test_bench_contract.py — it pins the WORST-CASE (123.456-valued)
    # stdout line under the driver's tail-capture guard with margin. r7
    # landed 5 keys without re-running it and went red (the real line
    # survived by 96 chars of luck; a slow round would have lost all
    # per-query bench data, the BENCH_r03 failure mode).
    #
    # join_semi / agg_rollup / win_row_number / topk_by_price /
    # status_transition_case rotated out of the stdout line in late r7
    # (stable micro-queries; family cover stays via join_broadcast_dim,
    # join_sortmerge, agg_multikey, win_moving_avg, flagship; full
    # history in BENCH_DETAIL.json) to keep the line under 1900 chars
    # after the five new analytics joined.
    # dedup_anti_join rotated out late r7 (stable control-plane
    # micro-query; dedup family cover stays via dedup_exact et al.)
    # r8 rotation (VERDICT r7 #1): groupby_collect_set, dedup_simhash,
    # text_stats, tpch_q6, win_ewma, gap_fill_interpolate rotated out —
    # stable micro-queries; family cover stays via agg_multikey,
    # dedup_exact/dedup_minhash_lsh, profile_columns/bm25_topk, the six
    # remaining TPC-H keys, win_moving_avg, and interpolate's sibling
    # asof_last_tick. All still measured in BENCH_DETAIL.json history.
    "dedup_exact",
    "dedup_minhash_lsh",
    # token_count rotated out late r7 (text family cover stays via
    # profile_columns; history in BENCH_DETAIL.json)
    "tpch_q3",
    "tpch_q5",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "sessionize_events",
    # r15 rotation: stateful_running_total, scd2_apply, ngram_lm_score
    # and dedup_boilerplate_lines rotate out of the stdout line (stable
    # micros) to fund the sent_min/sent_max attribution extras plus the
    # two new r15 keys (webdataset_pipeline, media_decode_png_palette).
    # Family cover stays: streaming via stream_sliding_window +
    # sessionize_events, incremental via dedup_minhash_indexed +
    # hll_rolling_distinct, text scoring via bm25_topk + profile_columns
    # + quality_percentile_gate, boilerplate dedup via dedup_ngram_spans
    # + dedup_exact_substrings. Full history in BENCH_DETAIL.json.
    "stream_sliding_window",
    "range_join_events",
    "docs_prep_pipeline",
    # train_val_split / corpus_mix rotated out of the stdout line in r8
    # (stable micro-queries; family cover stays via training_set_pipeline
    # and corpus_curation_pipeline) to make room for the linkage + CM
    # join-sizing keys below. Full history in BENCH_DETAIL.json.
    "pack_sequences",
    "training_set_pipeline",
    "corpus_curation_pipeline",
    "semantic_dedup",
    "knn_graph_lsh",
    # corpus_report rotated out in r8 (stable micro-query; rollup family
    # cover stays via profile_columns) for the indexed near-dup key

    "dedup_ngram_spans",
    # dedup_ngram_spans_sampled rotated out of the stdout line in r7 to
    # stay under the driver's 1900-char tail guard (the unsampled twin
    # covers the plan shape; full history stays in BENCH_DETAIL.json)
    # r16 rotation REVERTED at round close: quality_percentile_gate,
    # events_cusum, media_decode_png and media_decode_gif briefly
    # rotated out mid-round to fund the contention-verdict flags plus
    # the two new r16 keys, but an optimization round may only ADD
    # bench keys, never drop them (the driver diffs the queries map
    # against BENCH_r15). All four restored; the quiet closing line
    # measures 1781 chars with them, inside the 1900-char tail guard.
    "quality_percentile_gate",
    "vwap_bars",
    "profile_columns",
    "bm25_topk",
    # agg_median_groups + hll_distinct rotated out in r11 (stable micros;
    # agg family cover stays via agg_multikey/profile_columns, sketch
    # cover via kll_quantile/hll_rolling_distinct) to make room for the
    # clickhouse_http_rows_per_sec_6m extra. History in BENCH_DETAIL.json.
    "knn_triangles",
    # events_mad_outliers rotated out late r9 with scd2_history (events
    # family cover stays via events_cusum/events_funnel/equi_depth)
    # round 7: precompute-once graph analytics + incremental/monitoring
    "knn_triangles_indexed",
    "pagerank_knn_indexed",
    # late round 7: retrieval + monitoring + data-selection analytics
    "hybrid_search",
    "events_cusum",
    # events_ols_trend / events_acf rotated out of the stdout line in r9
    # (stable micro-queries; events family cover stays via events_cusum,
    # events_funnel, events_mad_outliers; full
    # history in BENCH_DETAIL.json) to make room for the media near-dup
    # and KLL keys below.
    # late round 7: portable sketches + contract + monitoring + PPS
    # round 8: record linkage + sketch-based join pre-sizing + the
    # persisted-index cross-epoch near-dup query
    "dedup_minhash_indexed",
    # round 9: codec-free media near-dup (fingerprint + banded join) and
    "dedup_media_near",
    # late round 9: register-algebra rolling distinct + time-weighted
    # bars (scd2_history rotated out — its incremental twin scd2_apply
    # keeps the family's bench cover; history in BENCH_DETAIL.json)
    "hll_rolling_distinct",
    # round 12: the two new data-plane flagships join the stdout line —
    # exact substring dedup (the heaviest new shuffle: stride-1 window
    # hashes) and the real PNG deflate/inflate round trip. To stay under
    # the 1900-char guard, bpe_segment_pinned + equi_depth_histogram
    # rotate out (stable micros; text/profile family cover stays via
    # ngram_lm_score and profile_columns; history in BENCH_DETAIL.json).
    "dedup_exact_substrings",
    # round 13: extras gain sentinel_sec (the box-speed sentinel) and
    # the real baseline-JPEG decode joins the line (forward DCT +
    # Huffman per payload — the heaviest per-byte media path). To stay
    # under the guard, twap_bars and kll_quantile rotate out (stable
    # micros; bars keep cover via vwap/ohlc_bars, sketches via
    # hll_rolling_distinct; history in BENCH_DETAIL.json).
    "media_decode_png",
    "media_decode_jpeg",
    "media_decode_gif",
    # late round 13: the LZW GIF round trip (third real compressed
    # codec), label-propagation communities (iterative join+mode over
    # the co-supplier graph), and the persisted IVF-PQ probe (the
    # compressed-ANN production path) join the line. To stay under the
    # guard, sample_pps, data_contract_check, histogram_drift and
    # join_size_estimate rotate out (stable micros; sampling cover stays
    # via quality_percentile_gate, contract/monitoring cover via
    # events_cusum + scd2_apply, sketch-sizing via hll_rolling_distinct;
    # history in BENCH_DETAIL.json).
    "community_lpa",
    "sim_topk_ivfpq_indexed",
    # round 14: the 4:2:0 JPEG decode (the real-world sampling, now the
    # heaviest per-byte media path), animated-GIF per-frame compositing,
    # the WebDataset sample-grouping read, the real-container video
    # dedup, and curriculum_order (the r13 weak component, re-benched on
    # its new histogram-ntile plan). To stay under the 1900-char guard,
    # sim_cosine_topk, ohlc_bars, fuzzy_join_customers, tpch_q13,
    # dedup_incremental and events_funnel rotate out
    # (stable micros; similarity cover stays via knn_graph_lsh +
    # sim_topk_ivfpq_indexed, bars via vwap_bars, linkage via
    # dedup_media_near, TPC-H via q3/q5/q9/q18/q21, incremental dedup
    # via dedup_minhash_indexed, events via events_cusum + vwap_bars;
    # history in BENCH_DETAIL.json).
    "media_decode_jpeg_420",
    "media_decode_gif_frames",
    "tar_corpus_samples",
    "dedup_gif_frames",
    "curriculum_order",
    # round 15: the multimodal WebDataset flagship (tar -> sample groupBy
    # -> real PNG + gzip decode -> fingerprint dedup -> pack) and the
    # paletted/16-bit PNG decode join the line; headroom funded by the
    # r15 rotation above.
    "webdataset_pipeline",
    "media_decode_png_palette",
    # round 16: the restart-marker JPEG decode (DRI/RSTn segmentation —
    # the parallel-decode seam) and the persisted tar member-offset
    # index read (byte-range fetch, the shard random-access path) join
    # the line; headroom funded by the r16 rotation above.
    "media_decode_jpeg_restart",
    "tar_corpus_members_indexed",
]


TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

#: Machine adjudication of box contention (round 16, VERDICT r15 #2).
#: The r15 channels made contention VISIBLE (sentinel series, per-trial
#: metrics) but a human still had to read them; these dials make the
#: harness decide: a segment whose bracketing sentinel readings exceed
#: CONTENDED_FACTOR x the pinned quiet reference is `contended`, the
#: harness settles and re-runs it, and the stdout headline carries the
#: quiet number with both readings preserved in BENCH_DETAIL.json.
#: Quiet ref pinned from the r12-r15 record: quiet boxes read the
#: sentinel at 0.39-0.65 s (driver ~0.5); contended starts read 3-5.6 s.
SENTINEL_QUIET_REF = float(
    os.environ.get("SPARK_GRAFT_SENTINEL_QUIET", "0.55"))
#: 2.5 (not 2.0): measured on a PROVABLY quiet box (round 16 close —
#: nothing else running, free -g ~123 GB free), warm single-shot
#: sentinel observations range 0.33-1.13 s — the mid-suite JVM residue
#: the bench's own ingest comment describes pushes single shots past
#: the 2.0x0.55=1.10 line even with zero contention, so 2.0 flagged
#: every run contended and burned a settle+rerun pass for nothing.
#: Genuine contention signatures read >= 2.2 (the r15 artifact's
#: wire[pre]); 2.5x0.55=1.375 separates the two cleanly.
CONTENDED_FACTOR = float(
    os.environ.get("SPARK_GRAFT_CONTENDED_FACTOR", "2.5"))
SETTLE_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_SEC", "45"))
#: cap on the settle-pass query re-runs — the adjudication must never
#: double the suite's wall time on a badly contended box
RERUN_CAP = int(os.environ.get("SPARK_GRAFT_BENCH_RERUN_CAP", "16"))


def _is_contended(readings, quiet_ref: float | None = None,
                  factor: float | None = None) -> bool:
    """The machine verdict: True when any sentinel reading in
    `readings` exceeds factor x the pinned quiet reference. Pure —
    pinned by tests/test_bench_contract.py."""
    quiet_ref = SENTINEL_QUIET_REF if quiet_ref is None else quiet_ref
    factor = CONTENDED_FACTOR if factor is None else factor
    good = [r for r in readings if r is not None and r >= 0]
    return bool(good) and max(good) > factor * quiet_ref


def _query_sentinel_divisors(series, n_queries: int):
    """Nearest-in-time sentinel divisor per query index (VERDICT r15
    #7): linear interpolation over the interleaved `queries[...]`
    observations — dividing every query by the single post-ingest
    reading misattributed early-query slowness as plan cost on a
    ramping box (the committed r15 artifact: start 5.57 s -> end 0.65).
    Returns a list of length n_queries (None where no observation
    exists). Pure — pinned by tests/test_bench_contract.py."""
    pts = []
    for label, sec in series:
        if sec is None or sec < 0:
            continue
        if label == "queries[end]":
            pts.append((float(n_queries), float(sec)))
        elif label.startswith("queries[") and label.endswith("]"):
            try:
                pts.append((float(label[8:-1]), float(sec)))
            except ValueError:
                continue
    pts.sort()
    out = []
    for i in range(n_queries):
        x = i + 0.5  # the query runs between its bracketing observations
        lo = hi = None
        for px, ps in pts:
            if px <= x:
                lo = (px, ps)
            else:
                hi = (px, ps)
                break
        if lo is None and hi is None:
            out.append(None)
        elif lo is None:
            out.append(hi[1])
        elif hi is None:
            out.append(lo[1])
        else:
            t = (x - lo[0]) / (hi[0] - lo[0])
            out.append(lo[1] + t * (hi[1] - lo[1]))
    return out

#: interleaved-sentinel cadence (VERDICT r14 #1): one single-shot sentinel
#: reading every N headline queries, so SUSTAINED box contention shows as a
#: ramp in the recorded series instead of being invisible to the one
#: start-of-run reading (the r14 adjudication gap: driver sentinel FASTER
#: than the builder's box while TPC-H read 2x slower, and nothing in the
#: artifact could say why).
SENTINEL_EVERY = 10


class _Sentinel:
    """Fixed sentinel workload (VERDICT r12 #3): a pinned parquet
    scan-shuffle-agg over CONSTANT generated data — spark.range is
    engine-version-stable and touches scan, exchange, and hash-agg
    machinery but NONE of this repo's operators, so its wall time moves
    only with the box (contention, JVM, disk), never with engine code.
    Workload is FROZEN: changing it breaks cross-round comparability —
    add a second sentinel instead.

    Round 15 (VERDICT r14 #1) lifts it from one start-of-run number into
    an instrument: the data stages once (untimed), `observe(label)`
    takes a single-shot reading anywhere in the run and appends it to
    `series` (recorded in BENCH_DETAIL.json), and `best_of(n)` is the
    canonical extras.sentinel_sec — same workload, same post-ingest
    measurement point as r12-r14, so the cross-round series stays
    comparable."""

    def __init__(self, spark):
        self.spark = spark
        self.series: list[list] = []  # [label, sec] observations in order
        self.tmp = tempfile.mkdtemp(prefix="bench_sentinel_")
        try:
            (
                spark.range(0, 20_000_000, 1, 32)
                .selectExpr(
                    "id",
                    "id % 1000 AS k",
                    "CAST(id % 7919 AS DOUBLE) AS v",
                )
                .write.mode("overwrite")
                .parquet(self.tmp)
            )
            self.ok = True
            # Warm the workload UNTIMED before the first observation
            # (round 16 measurement fix): on a provably quiet box the
            # first run reads 4.26 s, then 1.53 / 1.15 / 0.91 — JIT,
            # codegen, and cold page cache, not the box. Without this,
            # observe("start") always reported 4-5.6 s and the machine
            # verdict flagged EVERY run contended (including the two
            # r16 closing runs on an idle box). Two warm runs put the
            # first observation inside the workload's steady band; the
            # workload itself is unchanged, so the canonical
            # extras.sentinel_sec series stays comparable (it was
            # always measured post-ingest, long after warm-up).
            for _ in range(2):
                self.run_once()
        except Exception:  # noqa: BLE001 — the bench line must still emit
            self.ok = False

    def run_once(self) -> float:
        if not self.ok:
            return -1.0
        from pyspark.sql import functions as F

        try:
            t0 = time.perf_counter()
            _run_noop(
                self.spark.read.parquet(self.tmp)
                .groupBy("k")
                .agg(
                    F.sum("v").alias("sv"),
                    F.count(F.lit(1)).alias("n"),
                    F.max("id").alias("mx"),
                )
            )
            return round(time.perf_counter() - t0, 4)
        except Exception:  # noqa: BLE001
            return -1.0

    def observe(self, label: str) -> float:
        sec = self.run_once()
        self.series.append([label, sec])
        return sec

    def best_of(self, n: int) -> float:
        runs = [self.run_once() for _ in range(n)]
        good = [r for r in runs if r >= 0]
        return min(good) if good else -1.0

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


class _MetricsProbe:
    """Per-segment Spark executor metrics (VERDICT r14 #1b): reads the
    status store through the local UI's REST v1 API (the same
    AppStatusStore the SQL-metrics hooks in plans/explain.py walk, but
    with per-stage task aggregates already summed). `start()` sets a
    stage-id watermark; `finish()` sums the metrics of every stage that
    completed after it — GC time, cpu-vs-wall, shuffle bytes, spill,
    input bytes — so a slow driver-box reading carries its own
    explanation: cpu ≈ wall means the plan did the work; wall >> cpu
    with flat GC means the box, not the plan (the r14 2x TPC-H
    discrepancy was exactly this, unprovable from the artifact).

    Stage-id watermarking (not cumulative-sum diffing) keeps the numbers
    correct when the UI evicts old stages past spark.ui.retainedStages.
    Fails soft: UI disabled or endpoint errors -> empty dicts, the bench
    line must never die on instrumentation."""

    FIELDS = (
        ("executorRunTime", "run_ms", 1),
        ("executorCpuTime", "cpu_ms", 1_000_000),  # ns -> ms
        ("jvmGcTime", "gc_ms", 1),
        ("shuffleReadBytes", "shuffle_read_b", 1),
        ("shuffleWriteBytes", "shuffle_write_b", 1),
        ("memoryBytesSpilled", "spill_mem_b", 1),
        ("diskBytesSpilled", "spill_disk_b", 1),
        ("inputBytes", "input_b", 1),
        ("outputBytes", "output_b", 1),
        ("numTasks", "tasks", 1),
    )

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = getattr(sc, "uiWebUrl", None)
        self.app = sc.applicationId
        self.enabled = bool(self.base)
        self._watermark = -1

    def _stages(self) -> list[dict]:
        import urllib.request

        url = f"{self.base}/api/v1/applications/{self.app}/stages"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.loads(resp.read())

    def _drain_listener_bus(self) -> None:
        # status-store updates ride the async listener bus; drain it so
        # finish() sees the stages the query just ran (private API — any
        # failure degrades to a short grace sleep)
        try:
            bus = self.spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001
            try:
                bus.waitUntilEmpty()
            except Exception:  # noqa: BLE001 — older signature
                bus.waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001
            time.sleep(0.2)

    def start(self) -> None:
        if not self.enabled:
            return
        try:
            self._drain_listener_bus()
            stages = self._stages()
            self._watermark = max(
                (s["stageId"] for s in stages), default=-1
            )
        except Exception:  # noqa: BLE001
            self.enabled = False

    def finish(self) -> dict:
        if not self.enabled:
            return {}
        try:
            self._drain_listener_bus()
            out = {alias: 0 for _, alias, _ in self.FIELDS}
            n_stages = 0
            for s in self._stages():
                if s["stageId"] <= self._watermark:
                    continue
                if s.get("status") not in ("COMPLETE", "FAILED"):
                    continue
                n_stages += 1
                for field, alias, div in self.FIELDS:
                    out[alias] += int(s.get(field, 0) or 0) // div
            out["stages"] = n_stages
            return out
        except Exception:  # noqa: BLE001
            return {}


def _run_noop(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_queries(
    spark, sentinel: _Sentinel | None = None,
    probe: _MetricsProbe | None = None,
) -> tuple[dict[str, float], dict[str, dict], dict[str, dict],
           dict[str, list]]:
    """Per-query wall time over N trials. Headline value = min (the
    standard throughput estimator: least-noise run); medians and the
    max/min spread ride along so a reader can tell a plan regression from
    box contention — the r01→r02 adjudication needed exactly that.
    Round 15 adds the other two attribution channels (VERDICT r14 #1):
    a sentinel reading every SENTINEL_EVERY queries (sustained
    contention = a visible ramp) and per-query executor metrics
    (GC / cpu-vs-wall / shuffle / spill) summed over the trials."""
    times: dict[str, float] = {}
    stats: dict[str, dict] = {}
    metrics: dict[str, dict] = {}
    trials_all: dict[str, list] = {}
    for i, name in enumerate(HEADLINE):
        if sentinel is not None and i % SENTINEL_EVERY == 0:
            sentinel.observe(f"queries[{i}]")
        fn = QUERIES[name]
        if probe is not None:
            probe.start()
        trials: list[float] = []
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            try:
                _run_noop(fn(spark, SF_DIR))
            except Exception:  # noqa: BLE001 — one broken query must not
                continue  # silence the whole bench line
            trials.append(round(time.perf_counter() - t0, 4))
        if probe is not None:
            m = probe.finish()
            if m:
                metrics[name] = m
        trials_all[name] = list(trials)
        if not trials:
            times[name] = -1.0
            stats[name] = {"median": -1.0, "spread": 0.0}
            continue
        trials.sort()
        times[name] = round(trials[0], 4)
        stats[name] = {
            "median": round(trials[len(trials) // 2], 4),
            "spread": round(trials[-1] / trials[0], 2),
        }
    if sentinel is not None:
        sentinel.observe("queries[end]")
    return times, stats, metrics, trials_all


def bench_ingest(
    spark, sentinel: _Sentinel | None = None,
    probe: _MetricsProbe | None = None,
) -> dict[str, float]:
    """Reference-comparable bulk ingest: stage lineitem as CSV (untimed prep),
    then time validated CSV read -> typed ticks-shaped load -> parquet sink."""
    from pyspark.sql import functions as F

    from crypto_data_service_loader_spark.sources.csv_ingest import read_ticks_csv
    from crypto_data_service_loader_spark.tables import load

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    csv_dir = os.path.join(tmp, "csv")
    out_dir = os.path.join(tmp, "out")
    try:
        li = load(spark, SF_DIR, "lineitem")
        n = li.count()
        # 9-field CSV in the tick layout (untimed staging)
        staged = li.select(
            F.concat_ws(
                ",",
                F.concat(F.lit("T"), (F.col("l_partkey") % 100).cast("string")),
                F.col("l_orderkey").cast("string"),
                F.col("l_extendedprice").cast("string"),
                F.col("l_quantity").cast("string"),
                (F.col("l_extendedprice") * 1.001).cast("string"),
                F.col("l_quantity").cast("string"),
                (F.col("l_extendedprice") * 0.999).cast("string"),
                F.col("l_quantity").cast("string"),
                F.lit("1710400000000"),
            ).alias("value")
        )
        staged.repartition(32).write.mode("overwrite").text(csv_dir)
        csv_bytes = sum(
            os.path.getsize(os.path.join(csv_dir, f))
            for f in os.listdir(csv_dir)
            if f.endswith(".txt") or f.startswith("part-")
        )

        elapsed = parse_only = float("inf")
        for _ in range(max(TRIALS - 1, 1)):
            # stage split: parse+validate+type (noop sink) vs full write —
            # the write delta is the apples-to-apples "compression+write"
            # segment BASELINE.md asks to report separately
            t0 = time.perf_counter()
            read_ticks_csv(spark, csv_dir).drop("_source_file").write.format(
                "noop"
            ).mode("overwrite").save()
            parse_only = min(parse_only, time.perf_counter() - t0)

            t0 = time.perf_counter()
            ticks = read_ticks_csv(spark, csv_dir)
            ticks.drop("_source_file").write.mode("overwrite").parquet(out_dir)
            elapsed = min(elapsed, time.perf_counter() - t0)
        # apples-to-apples segment: the same validated CSV read pushed
        # through the ClickHouse HTTP wire path (gzip CSV POST per
        # partition) against the in-process protocol fake in lite mode —
        # the measured side is the client pipeline, exactly what the
        # reference's 300-500k rows/s covers (minus their server's ingest,
        # which the fake acks in O(1))
        ch = _bench_clickhouse(spark, csv_dir, n, sentinel, probe)
        return {
            "ingest_rows": n,
            "ingest_sec": round(elapsed, 4),
            "ingest_rows_per_sec": round(n / elapsed, 1),
            "ingest_mb_per_sec": round(csv_bytes / 1048576 / elapsed, 1),
            "ingest_parse_sec": round(parse_only, 4),
            "ingest_write_sec": round(elapsed - parse_only, 4),
            **ch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bench_clickhouse(
    spark, csv_dir: str, n: int,
    sentinel: _Sentinel | None = None,
    probe: _MetricsProbe | None = None,
) -> dict[str, float]:
    try:
        from crypto_data_service_loader_spark.sinks.clickhouse_http import (
            ClickHouseHttpSink,
        )
        from crypto_data_service_loader_spark.sources.csv_ingest import (
            read_ticks_csv,
        )
        from tests.clickhouse_fake import FakeClickHouse
    except Exception:  # noqa: BLE001 — bench must never die on an import
        return {}
    fake = FakeClickHouse(lite=True)
    url = fake.start()
    try:
        sink = ClickHouseHttpSink(url, "tickers_data", send_batch_id=False)
        sink.execute("CREATE TABLE IF NOT EXISTS tickers_data (x String) ENGINE = Null")
        # untimed warm-up: pays Python-worker spawn + first-use imports once,
        # so the timed trials measure sustained throughput (what the
        # reference's 300-500k rows/s number is)
        sink.write(read_ticks_csv(spark, csv_dir).drop("_source_file").limit(20000))
        # Both wire segments run best-of-TRIALS, INTERLEAVED in one trial
        # loop (VERDICT r11 #3): the r11 driver record showed a single
        # contention window can sink whichever segment runs alone — with
        # interleaving a transient stall costs one trial of each segment,
        # never a segment's whole measurement. The 6M segment is the same
        # wire path over the validated scan unioned 10x (wire throughput
        # does not care that the bytes repeat) — PARITY.md's 6M claim on
        # the per-round driver record.
        import functools

        from pyspark.sql import DataFrame

        ten = functools.reduce(
            DataFrame.unionAll,
            [read_ticks_csv(spark, csv_dir).drop("_source_file")
             for _ in range(10)],
        )
        # VERDICT r14 #1: the 6M segment missed its gate on the driver
        # box with NOTHING in the artifact able to attribute it — so the
        # wire loop now records per-trial series, bracketing sentinel
        # readings, and per-trial executor metrics for the 6M segment
        # (all in BENCH_DETAIL.json under "wire").
        def wire_pass():
            small: list[float] = []
            m6: list[float] = []
            m6m: list[dict] = []
            for _ in range(TRIALS):
                t0 = time.perf_counter()
                sent = sink.write(
                    read_ticks_csv(spark, csv_dir).drop("_source_file")
                )
                small.append(round(time.perf_counter() - t0, 4))
                assert sent == n, f"clickhouse path sent {sent} of {n} rows"
                if probe is not None:
                    probe.start()
                t0 = time.perf_counter()
                sent10 = sink.write(ten)
                m6.append(round(time.perf_counter() - t0, 4))
                if probe is not None:
                    m = probe.finish()
                    if m:
                        m6m.append(m)
                assert sent10 == 10 * n, (
                    f"6M wire path sent {sent10} of {10 * n}")
            return small, m6, m6m

        pre = sentinel.observe("wire[pre]") if sentinel is not None else -1.0
        small_trials, m6_trials, m6_metrics = wire_pass()
        post = (sentinel.observe("wire[post]")
                if sentinel is not None else -1.0)
        # round 16 (VERDICT r15 #2): the harness adjudicates its own
        # wire numbers. Contended brackets -> settle, re-measure the
        # sentinel, re-run BOTH segments; the headline is the best trial
        # across passes (the quiet pass wins by construction) and both
        # readings + the machine verdict are preserved.
        verdict = {
            "contended": _is_contended([pre, post]),
            "quiet_ref": SENTINEL_QUIET_REF,
            "factor": CONTENDED_FACTOR,
            "brackets": {"pre": pre, "post": post},
            "settle": None,
            "headline_source": "primary",
        }
        if verdict["contended"] and SETTLE_SEC > 0:
            time.sleep(SETTLE_SEC)
            s_pre = (sentinel.observe("wire[settle-pre]")
                     if sentinel is not None else -1.0)
            r_small, r_m6, r_m6m = wire_pass()
            s_post = (sentinel.observe("wire[settle-post]")
                      if sentinel is not None else -1.0)
            verdict["settle"] = {
                "settle_sec": SETTLE_SEC,
                "brackets": {"pre": s_pre, "post": s_post},
                "still_contended": _is_contended([s_pre, s_post]),
                "small_trials": r_small,
                "m6_trials": r_m6,
                "m6_rows_per_sec_trials": [
                    round(10 * n / t, 1) for t in r_m6
                ],
                "m6_metrics": r_m6m,
            }
            if min(r_m6) < min(m6_trials):
                verdict["headline_source"] = "settled"
            small_trials = small_trials + r_small
            m6_trials = m6_trials + r_m6
        best, best10 = min(small_trials), min(m6_trials)
        return {
            "clickhouse_http_sec": round(best, 4),
            "clickhouse_http_rows_per_sec": round(n / best, 1),
            "clickhouse_http_rows_per_sec_6m": round(10 * n / best10, 1),
            "_wire_detail": {
                "small_trials": small_trials,
                "m6_trials": m6_trials,
                "m6_rows_per_sec_trials": [
                    round(10 * n / t, 1) for t in m6_trials
                ],
                "m6_metrics": m6_metrics,
                "verdict": verdict,
            },
        }
    finally:
        fake.stop()


def main() -> None:
    # Local-scale knob: testdata files are ~10 MiB, so the default 128 MiB
    # split gives 1-3 tasks on 32 cores. 1 MiB splits restore parallelism;
    # at production scale (many 100 MiB+ files) the default is correct.
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
            # the engine session disables the UI; the bench session needs
            # it for the REST status endpoint _MetricsProbe reads (the
            # AppStatusListener feeding it runs either way — the UI adds
            # only the in-process HTTP server, not listener load)
            "spark.ui.enabled": "true",
        },
    )
    # warmup: JVM/codegen, not measured
    spark.range(1000).selectExpr("sum(id)").collect()

    probe = _MetricsProbe(spark)
    # sentinel data stages FIRST (one untimed range->parquet write — far
    # less JVM residue than the suite) so single-shot readings can bracket
    # the wire segments inside ingest; extras.sentinel_sec still measures
    # at its canonical post-ingest point, so the r12+ cross-round series
    # stays comparable.
    sent_obj = _Sentinel(spark)
    sent_obj.observe("start")
    # ingest first: the suite's 90+ jobs leave the driver JVM with enough
    # residue (GC pressure, listener/shuffle state) to triple the measured
    # ClickHouse segment (4.0s vs 1.6s fresh) — sustained-throughput numbers
    # come from the clean process, like the reference's
    try:
        ingest = bench_ingest(spark, sent_obj, probe)
    except Exception as exc:  # noqa: BLE001 — the JSON line must still emit
        ingest = {"ingest_error": str(exc)[:120]}
    wire_detail = ingest.pop("_wire_detail", None)
    sentinel = sent_obj.best_of(TRIALS)
    queries, qstats, qmetrics, qtrials = bench_queries(
        spark, sent_obj, probe
    )
    # round 16 (VERDICT r15 #2): the harness adjudicates the QUERY
    # numbers too. Queries bracketed by contended sentinel observations
    # get ONE settle re-run (capped), and the headline carries the
    # quiet (min) reading; both passes stay in BENCH_DETAIL.json.
    divisors = _query_sentinel_divisors(sent_obj.series, len(HEADLINE))
    contended_idx = [
        i for i, d in enumerate(divisors)
        if d is not None and _is_contended([d])
    ]
    adjudication = {
        "quiet_ref": SENTINEL_QUIET_REF,
        "factor": CONTENDED_FACTOR,
        "contended_queries": [HEADLINE[i] for i in contended_idx],
        "rerun": None,
    }
    if contended_idx and SETTLE_SEC > 0:
        # re-run the slowest contended queries first, capped
        order = sorted(
            contended_idx,
            key=lambda i: -(queries.get(HEADLINE[i], 0.0) or 0.0),
        )[:RERUN_CAP]
        time.sleep(SETTLE_SEC)
        r_pre = sent_obj.observe("rerun[pre]")
        rerun_times: dict[str, float] = {}
        for i in sorted(order):
            name = HEADLINE[i]
            t0 = time.perf_counter()
            try:
                _run_noop(QUERIES[name](spark, SF_DIR))
            except Exception:  # noqa: BLE001
                continue
            rerun_times[name] = round(time.perf_counter() - t0, 4)
        r_post = sent_obj.observe("rerun[post]")
        adjudication["rerun"] = {
            "settle_sec": SETTLE_SEC,
            "brackets": {"pre": r_pre, "post": r_post},
            "still_contended": _is_contended([r_pre, r_post]),
            "times": rerun_times,
        }
        for name, sec in rerun_times.items():
            if queries.get(name, -1.0) < 0 or sec < queries[name]:
                queries[name] = sec
    sent_obj.cleanup()
    medians = {k: v["median"] for k, v in qstats.items()}
    # stated noise band (VERDICT r7 #3): the median and max of per-query
    # max/min trial spreads — a reader of BENCH_r{N} can tell host
    # contention (broad spread, no plan change) from a real regression
    # without opening BENCH_DETAIL.json.
    spreads = sorted(v["spread"] for v in qstats.values()) or [0.0]
    noise = {
        "spread_med": round(spreads[len(spreads) // 2], 2),
        "spread_max": round(spreads[-1], 2),
    }
    # The driver captures only the LAST 2000 chars of stdout and json-parses
    # that tail; BENCH_r03 came back parsed=null because the full
    # medians+spread payload pushed the line past 2000 chars. The stdout
    # line stays compact (queries at 2 decimals, slim extra); the full
    # per-trial detail goes to BENCH_DETAIL.json next to this script.
    detail = {
        "query_medians": medians,
        "query_spread_max_over_min": {k: v["spread"] for k, v in qstats.items()},
        "trials": TRIALS,
        "queries_min": queries,
        "query_trials": qtrials,
        "ingest": ingest,
        "sentinel_sec": sentinel,
        # VERDICT r14 #1a: the full interleaved sentinel series — one
        # single-shot reading at start, bracketing the wire segments,
        # every SENTINEL_EVERY headline queries, and at the end. A ramp
        # here IS the sustained-contention evidence the r14 artifact
        # lacked; a flat series pins a slow query on its plan.
        "sentinel_series": sent_obj.series,
        # VERDICT r14 #1b: per-query executor metrics summed over the
        # trials (ms for run/cpu/gc, bytes for the rest). wall >> cpu at
        # flat gc and unchanged shuffle bytes = box contention; cpu or
        # shuffle moving with wall = the plan.
        "query_metrics": qmetrics,
        # VERDICT r14 #1c: per-trial wire-segment series + per-trial
        # executor metrics for the 6M segment, bracketed by the
        # wire[pre]/wire[post] sentinel readings above.
        "wire": wire_detail,
        # per-query time divided by the NEAREST-IN-TIME interpolated
        # sentinel (VERDICT r15 #7) — box-speed-free units that stay
        # honest on a ramping box; the canonical post-ingest
        # sentinel_sec above keeps the cross-round series comparable
        "queries_sentinel_normalized": {
            HEADLINE[i]: round(queries[HEADLINE[i]] / divisors[i], 3)
            for i in range(len(HEADLINE))
            if HEADLINE[i] in queries and queries[HEADLINE[i]] >= 0
            and divisors[i] is not None and divisors[i] > 0
        },
        # round 16 (VERDICT r15 #2): the machine contention verdict for
        # the query segment — which queries ran under contended
        # brackets, and what the settle re-run read for them
        "adjudication": adjudication,
    }
    try:
        detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "BENCH_DETAIL.json")
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # detail file is best-effort; the stdout line is the contract
    good_series = [s for _, s in sent_obj.series if s >= 0]
    sent_range = (
        {"sent_min": round(min(good_series), 3),
         "sent_max": round(max(good_series), 3)}
        if good_series else None
    )
    wire_verdict = (wire_detail or {}).get("verdict") or {}
    adjud_flags = {}
    if wire_verdict.get("contended") or adjudication["contended_queries"]:
        # compact on purpose (stdout budget): full verdicts live in
        # BENCH_DETAIL.json under wire.verdict / adjudication
        adjud_flags["contended"] = True
        adjud_flags["reran"] = len(
            (adjudication.get("rerun") or {}).get("times", {}))
    print(format_line(queries, medians, ingest, SF_DIR, noise, sentinel,
                      sent_range, adjud_flags))


def format_line(
    queries: dict[str, float],
    medians: dict[str, float],
    ingest: dict,
    sf_dir: str,
    noise: dict | None = None,
    sentinel: float | None = None,
    sent_range: dict | None = None,
    adjud_flags: dict | None = None,
) -> str:
    """The driver-facing stdout line. MUST stay under 1900 chars: the
    driver json-parses only the last 2000 chars of stdout, and BENCH_r03
    was lost to an overlong line (tests/test_bench_contract.py pins this)."""
    out = {
        "metric": "suite_total",
        "value": round(sum(v for v in queries.values() if v >= 0), 4),
        "unit": "sec",
        # 2 decimals on the stdout line (round 16: the four r16-rotated
        # keys were restored — an optimization round may only ADD bench
        # keys — and at 50 keys the all-slow worst case needed the
        # centisecond trim to keep the queries map under the 1900-char
        # degrade guard WITH contention flags present; box noise is
        # +-20%, and BENCH_DETAIL.json keeps full 4-decimal trials)
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "sf": sf_dir,
        "extra": {
            **{k: ingest[k] for k in (
                "ingest_rows", "ingest_sec", "ingest_rows_per_sec",
                "ingest_mb_per_sec", "clickhouse_http_sec",
                "clickhouse_http_rows_per_sec",
                "clickhouse_http_rows_per_sec_6m", "ingest_error",
            ) if k in ingest},
            "baseline_rows_per_sec": "300000-500000",
            "suite_total_median": round(sum(medians.values()), 4),
            "trials": TRIALS,
            **({"sentinel_sec": sentinel} if sentinel is not None else {}),
            # min/max over the INTERLEAVED sentinel series: a wide range
            # on the stdout line alone says "box moved mid-run" — the
            # full labeled series is in BENCH_DETAIL.json
            **(sent_range or {}),
            **(noise or {}),
            # round 16: machine contention verdict flags — present only
            # on a contended run; the full per-segment verdicts live in
            # BENCH_DETAIL.json (wire.verdict / adjudication)
            **(adjud_flags or {}),
            "detail": "BENCH_DETAIL.json",
        },
    }
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # hard guard against ever re-overflowing the tail
        out.pop("queries", None)
        out["extra"]["queries_omitted"] = "see BENCH_DETAIL.json"
        line = json.dumps(out, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
