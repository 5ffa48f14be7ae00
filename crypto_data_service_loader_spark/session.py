"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow enabled for any Pandas-UDF path, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.

The codegen cache holds the engine's whole working set of generated
classes (1024, not Spark's 100): the service runs the same plans every
cycle and the suite the same keys every pass, so each class is compiled
and JIT-warmed once per JVM instead of once per run.

On a real cluster the same builder applies — only master/memory change; the
operator code never assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crypto_data_service_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 2)

    # Shuffle scratch on the fastest local storage (round 16, guide §2):
    # a thread-dump sweep showed the dominant blocked-task time of the
    # small-shuffle bench keys inside shuffle-FILE syscalls (map/unmap/
    # open on /tmp) — with 1 MiB input splits every map task creates and
    # concatenates one file per reduce partition for kilobytes of data.
    # RAM-backed scratch removed it wholesale: interleaved ABAB x0.84
    # over the affected keys with EVERY key improving (tpch_q21 x0.92,
    # pagerank_knn_indexed x0.69). Production: point SPARK_GRAFT_LOCAL_DIR
    # at the NVMe scratch array — at 100 TB shuffle working sets exceed
    # RAM and tmpfs would be wrong; the env override IS the deployment
    # knob (same pattern as SPARK_GRAFT_DRIVER_MEM). Applied only at JVM
    # launch; Spark cleans the blockmgr dirs on exit.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        local_dir = "/dev/shm/spark-graft-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode the driver IS the whole "cluster"; Spark's 1 GiB
        # driver default starves broadcast builds and shuffle buffers on a
        # many-core box. Applied only at JVM launch (no-op on an already-
        # running session). On a real cluster this is the submit-time knob.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Static threshold stays at the conservative default: pre-shuffle
        # size ESTIMATES (scan bytes x column fraction) undershoot real
        # in-memory size several-fold for narrow projections of wide facts,
        # and a statically-planned broadcast is never re-examined by AQE
        # (no shuffle stage to measure) — the 10x scale probe OOMed on
        # exactly this. The adaptive threshold is generous because AQE
        # decides from MEASURED shuffle sizes, which are trustworthy.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        # At 100 TB the default 128 MiB input split is right; keep it explicit
        # so scale-up doesn't silently inherit a local-mode override.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Runtime bloom-filter join pushdown: when one join side is small
        # and filtered, Spark builds a bloom filter over its join keys and
        # pushes might_contain() into the OTHER side's scan — a selective
        # fact-side pre-filter before the shuffle. Kept explicit with its
        # gates: creation side <= 10 MiB (filter build must be cheap),
        # application side >= 10 GiB scan (only worth it on big facts — it
        # never fires at local test SF, exactly right; at 100 TB it prunes
        # shuffles on every dim-filtered fact join).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # PySpark 4's per-op error-context capture wraps every DataFrame
        # API call in a conf RPC + traceback walk + origin set/clear on
        # the JVM — ~4 extra py4j round trips per operation. On this
        # engine's deep declarative pipelines that debugging chrome was
        # measured (round 16, guide §1.2) at ~15% of total driver-side
        # plan-construction time. Off here; re-enable via extra_conf when
        # debugging an operator's error context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Every generated class is compiled once per JVM, not once per run.
        # Spark keeps 100 compiled classes by default; measured working
        # sets are ~225 classes per analytics_mix pass, up to ~110 per
        # service cycle, and tier-1 runs all 273 keys in one session.
        # Past the cap each run recompiles (~225 classes a pass) and the
        # JIT warms every fresh class again. Static: fixed when the JVM
        # first generates code.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
