"""Service-level benchmark: one run of one workload.

    python3 perfbench/run.py --workload trickle_files --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Inputs are generated from `--seed` under
`.perfbench_work/` in the working directory, which the run removes again.
The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1` (that run also
writes its spans to `.perfbench_out/`). The line before it carries the
sample counts and workload details. Exit code 1 when a correctness check
fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env(work: str) -> None:
    """Keep every file the run writes inside `work`, and size the session
    for a shared box: at most 4 cores and a 1 GiB driver (Spark's own
    default; it also keeps the JVM's peak RSS steady), unless set."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(cpus, 4)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Spark's Python workers import the program from the checkout
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT if not path else f"{ROOT}{os.pathsep}{path}"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001 — owns the JVM process
    try:
        spark.stop()  # fails when a signal cut a py4j call short
    finally:
        if gateway is not None:
            proc = gateway.proc
            with contextlib.suppress(Py4JError, OSError):
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — TimeoutExpired: force it
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so the JVM and the work directory
    # are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    # fails here, before any work, when the program is not beside us
    from crypto_data_service_loader_spark.session import get_spark
    import proc
    from tracing import Tracer
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(os.getcwd(), ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)

    tracer = Tracer(run_id) if args.trace else None
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, tracer)
    spark = None
    try:
        wl.prepare()
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.active = True
            with tracer.span("session.get_spark"):
                spark = get_spark()
            tracer.active = False
        else:
            spark = get_spark()
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        wl.measure(spark)
        e2e = wl.check(spark)
        from pyspark import SparkContext

        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = proc.peak_rss_mb(
            [os.getpid(), SparkContext._gateway.proc.pid])  # noqa: SLF001
        layers = wl.layers() if tracer is not None else {}
    finally:
        if tracer is not None:
            tracer.restore()
        try:
            wl.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # left when other runs share it
                os.rmdir(os.path.dirname(work))

    if tracer is not None:
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{run_id}.json"))
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = wl.failed == 0 and not wl.failures
    for msg in wl.failures:
        print(f"check failed: {msg}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "end_to_end": e2e,
                      "rounds_wall_s": [r["end"] - r["start"] for r in wl.rounds],
                      "rounds_cpu_s": wl.round_cpu(),
                      **wl.detail}))
    print(json.dumps({"correct": correct, "attempted": max(wl.attempted, 1),
                      "failed": wl.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
