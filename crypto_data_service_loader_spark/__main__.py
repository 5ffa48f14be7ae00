"""CLI entry point — the reference's MainApplication equivalent.

    python -m crypto_data_service_loader_spark run \
        --root /data/ticks --registry /data/_registry [--config engine.yaml]
        [--cycles N] [--today YYYY-MM-DD]
        [--sink idempotent:/data/out | http:http://host:8123|tickers_data]

Runs service cycles (discover -> progress -> upload -> cleanup) against a
dir-per-day tree, mirroring application.origin.yaml's flow scheduling with
Spark micro-batches instead of a 4-thread flow scheduler.
"""

from __future__ import annotations

import argparse
import datetime
import json
import sys
import time

from .config import EngineConfig
from .session import get_spark
from .streaming.service import run_cycle


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="crypto_data_service_loader_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    runp = sub.add_parser("run", help="run service cycles")
    runp.add_argument("--root", required=True, help="dir-per-day data tree")
    runp.add_argument("--registry", required=True, help="registry event-log path")
    runp.add_argument("--sink", default=None,
                      help="idempotent:<path> (parquet, one partition "
                           "per batch) | http:<url>|<table> (ClickHouse); "
                           "both write each row exactly once "
                           "(default: idempotent:<root>_out)")
    runp.add_argument("--config", default=None, help="YAML config (optional)")
    runp.add_argument("--cycles", type=int, default=1)
    runp.add_argument("--today", default=None, help="fix 'today' (tests)")
    runp.add_argument("--interval-sec", type=int, default=None,
                      help="sleep between cycles (default: config upload cycle)")
    runp.add_argument("--mode", choices=["cycles", "stream"], default="cycles",
                      help="cycles: polling batch loop; stream: Structured "
                           "Streaming service (runs until interrupted, or "
                           "drains once with --cycles 0)")
    runp.add_argument("--checkpoint", default=None,
                      help="stream-mode checkpoint dir (default: <registry>_ckpt)")
    corp = sub.add_parser(
        "ingest-corpus",
        help="streaming corpus ingestion with cross-epoch incremental dedup",
    )
    corp.add_argument("--input", required=True, help="document parquet drop dir")
    corp.add_argument("--corpus", required=True, help="deduped corpus dir")
    corp.add_argument("--index", required=True, help="fingerprint index dir")
    corp.add_argument("--checkpoint", default=None,
                      help="checkpoint dir (default: <corpus>_ckpt)")
    corp.add_argument("--clean-boilerplate", action="store_true",
                      help="per-batch line-level boilerplate removal before "
                           "dedup (cleaned text is fingerprinted and stored)")
    corp.add_argument("--compact", action="store_true",
                      help="fold settled epoch partitions after the drain")
    corp.add_argument("--follow", action="store_true",
                      help="keep watching (default: drain once and exit)")
    prof = sub.add_parser(
        "profile",
        help="per-column profile of a parquet/ORC table (one scan)",
    )
    prof.add_argument("--input", required=True, help="table path")
    prof.add_argument("--format", default="parquet",
                      choices=["parquet", "orc"])
    prof.add_argument("--columns", default=None,
                      help="comma-separated subset (default: all)")
    prof.add_argument("--approx", action="store_true",
                      help="HLL distinct counts (expand-free at scale)")
    conv = sub.add_parser(
        "convert",
        help="one-pass columnar format conversion (parquet <-> orc)",
    )
    conv.add_argument("--input", required=True)
    conv.add_argument("--output", required=True)
    conv.add_argument("--from-format", default="parquet",
                      choices=["parquet", "orc"], dest="src_fmt")
    conv.add_argument("--to-format", default="orc",
                      choices=["parquet", "orc"], dest="dst_fmt")
    conv.add_argument("--files", type=int, default=None,
                      help="target output file count")
    conv.add_argument("--sort-by", default=None,
                      help="comma-separated within-file sort columns")
    conv.add_argument("--zorder", default=None,
                      help="two comma-separated int columns for Z-order "
                           "clustering (overrides --sort-by)")
    mixp = sub.add_parser(
        "mixture",
        help="per-source token shares and resampling weights "
             "(explicit targets or temperature smoothing)",
    )
    mixp.add_argument("--input", required=True, help="documents parquet path")
    mixp.add_argument("--targets", default=None,
                      help="comma-separated source=share pairs "
                           "(e.g. web=0.6,code=0.4); omit for temperature")
    mixp.add_argument("--temperature", type=float, default=0.5,
                      help="alpha for self-derived targets when --targets "
                           "is omitted (1.0, 0.5, or 0.25)")
    mixp.add_argument("--source-col", default="source")
    mixp.add_argument("--text-col", default="text")
    args = p.parse_args(argv)

    spark = get_spark("crypto_data_service_loader_spark")

    if args.cmd == "ingest-corpus":
        return _ingest_corpus(spark, args)
    if args.cmd == "profile":
        from .operators.profile import profile_columns
        from .sources.interchange import read_columnar

        df = read_columnar(spark, args.input, args.format)
        cols = args.columns.split(",") if args.columns else None
        for r in profile_columns(
            df, cols, exact_distinct=not args.approx
        ).collect():
            print(json.dumps(r.asDict()))
        return 0
    if args.cmd == "mixture":
        from .operators.training import mixture_rebalance, mixture_temperature

        docs = spark.read.parquet(args.input)
        if args.targets:
            targets = {}
            for pair in args.targets.split(","):
                src, share = pair.split("=")
                targets[src.strip()] = float(share)
            plan = mixture_rebalance(
                docs, targets,
                source_col=args.source_col, text_col=args.text_col,
            )
        else:
            plan = mixture_temperature(
                docs, alpha=args.temperature,
                source_col=args.source_col, text_col=args.text_col,
            )
        for r in plan.orderBy(args.source_col).collect():
            print(json.dumps(r.asDict()))
        return 0
    if args.cmd == "convert":
        from .sources.interchange import convert_corpus, zorder_write, read_columnar

        if args.zorder:
            a, b = [c.strip() for c in args.zorder.split(",")]
            zorder_write(
                read_columnar(spark, args.input, args.src_fmt),
                args.output, a, b, fmt=args.dst_fmt, n_files=args.files,
            )
            n = read_columnar(spark, args.output, args.dst_fmt).count()
        else:
            n = convert_corpus(
                spark, args.input, args.output, args.src_fmt, args.dst_fmt,
                n_files=args.files,
                sort_within_by=(args.sort_by.split(",") if args.sort_by
                                else None),
            )
        print(json.dumps({"rows": n, "output": args.output,
                          "format": args.dst_fmt}))
        return 0

    cfg = EngineConfig.from_yaml(args.config) if args.config else EngineConfig()

    # default sink lives NEXT TO the tree, never inside it (the discovery
    # scan must not see sink output); idempotent = exactly-once per cycle
    sink_spec = args.sink or f"idempotent:{args.root.rstrip('/')}_out"
    if sink_spec.startswith("idempotent:"):
        from .sinks.idempotent import IdempotentParquetSink

        sink = IdempotentParquetSink(sink_spec.split(":", 1)[1])
    elif sink_spec.startswith("http:") and "|" in sink_spec:
        from .sinks.clickhouse_http import ClickHouseHttpSink

        url, table = sink_spec.split(":", 1)[1].rsplit("|", 1)
        sink = ClickHouseHttpSink(url=url, table=table,
                                  attempts=cfg.ingest.max_flush_data_attempts,
                                  sleep_sec=cfg.ingest.sleep_on_reconnect_ms / 1000)
    else:
        print(f"unknown sink spec: {sink_spec}", file=sys.stderr)
        return 2

    if args.mode == "stream":
        from .streaming.service import start_service_stream

        ckpt = args.checkpoint or f"{args.registry.rstrip('/')}_ckpt"
        q = start_service_stream(
            spark, args.root, args.registry, sink, ckpt,
            today=args.today,
            trigger_seconds=args.interval_sec or cfg.discovery.flush_timeout_sec,
            available_now=(args.cycles == 0),
        )
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "status": "drained"}))
        return 0

    interval = args.interval_sec
    if interval is None:
        interval = cfg.cycles.upload_flow_sec
    from .streaming.service import RegistryLog

    base = RegistryLog(spark, args.registry).next_cycle()  # resume-safe seqs
    for i in range(args.cycles):
        cycle = base + i
        today = args.today or datetime.date.today().isoformat()
        stats = run_cycle(
            spark, args.root, args.registry, sink, today,
            cycle=cycle, do_cleanup=(i % max(1, 3600 * cfg.cycles.cleanup_hours
                                             // max(interval, 1)) == 0 and i > 0),
        )
        print(json.dumps({"cycle": cycle, "today": today, **stats}))
        if i + 1 < args.cycles and interval > 0:
            time.sleep(interval)
    return 0


def _ingest_corpus(spark, args) -> int:
    """Drive streaming corpus ingestion from the CLI: drain (or follow)
    the drop directory through gate-free incremental dedup, optionally
    cleaning boilerplate per batch and compacting epoch partitions after
    the drain."""
    from .streaming.corpus_ingest import CorpusIngest

    pre = None
    if args.clean_boilerplate:
        from pyspark.sql import functions as F

        from .operators.dedup import remove_boilerplate_lines

        def pre(batch):  # noqa: F811 — the optional hook
            cleaned = remove_boilerplate_lines(batch, max_doc_freq=2)
            return (
                batch.drop("text", "n_chars")
                .join(cleaned.select(
                    "doc_id", F.col("text_clean").alias("text")), "doc_id")
                .withColumn("n_chars", F.length("text"))
                .filter(F.col("text") != "")
            )

    ingest = CorpusIngest(
        input_dir=args.input,
        corpus_dir=args.corpus,
        index_dir=args.index,
        checkpoint_dir=args.checkpoint or f"{args.corpus.rstrip('/')}_ckpt",
        pre_transform=pre,
    )
    q = ingest.start(available_now=not args.follow)
    q.awaitTermination()
    stats = {"mode": "follow" if args.follow else "drain"}
    if args.compact:
        ingest.compact_index(spark)
        stats["corpus_partitions_folded"] = ingest.compact_corpus(spark)
    try:
        stats["corpus_docs"] = ingest.corpus(spark).count()
    except Exception:  # noqa: BLE001 — nothing ingested yet
        stats["corpus_docs"] = 0
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
