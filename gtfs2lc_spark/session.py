"""SparkSession factory tuned for the Linked Connections engine.

Scale posture (local[<cores available>] by default; the same settings are
what we'd submit on a 1000-executor cluster, with shuffle partitions sized
to the data):

- AQE on (runtime coalescing + skew-join splitting — mega-trip skew after
  the service-day explode is the known hot spot, SURVEY.md §4).
- Session timezone pinned to UTC: all GTFS local-time interpretation is
  done explicitly via ``to_utc_timestamp(feed_tz)``, so rendering with
  ``date_format`` is always the reference's ``Date.toISOString()`` form.
- Arrow enabled for the pandas-UDF extraction layer (input_hint mandates
  vectorized Arrow/pandas UDFs, never per-row Python).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver JVM settings. ``build_session`` applies them when it starts the
# JVM itself (plain ``python``); under ``spark-submit`` the JVM is already
# running by then, so scripts/submit.sh passes the same two values as
# --driver-java-options / --driver-memory.
#
# Wide codegen'd plans overflow the default 240m code cache and stall JIT
# compilation (measured: first big run 66 s -> 8 s with 512m); throughput
# GC suits the string-heavy batch workload. The JIT compiler thread count
# is left to the JVM, which sizes it from the cores it sees (3 on 4 cores,
# 12 on 16, 15 on 32). A fixed -XX:CICompilerCount=12, sized for 32
# cores, cost a 4-core host about 30% of the cold first job.run's CPU
# time; that call (perfbench, medians of 5 interleaved runs) took
# 31.7 s / 86 CPU-s on feeds_skewed and 30.7 s / 89 CPU-s on
# history_sorted with it, 20.8 s / 61 CPU-s and 23.2 s / 67 CPU-s
# without.
DRIVER_JAVA_OPTIONS = "-XX:ReservedCodeCacheSize=512m -XX:+UseParallelGC"
DEFAULT_DRIVER_MEMORY = "12g"


def driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` or the default."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEMORY)


def default_master() -> str:
    """``local[SPARK_GRAFT_CPUS]``, else one task thread per available core."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def build_session(
    app_name: str = "gtfs2lc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or default_master()
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE") or len(os.sched_getaffinity(0))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r6 negative result (guide §1.2 — config only with
        # measurement): lowering skewJoin.skewedPartitionThresholdInBytes
        # / advisoryPartitionSizeInBytes to make AQE split the explosive
        # rule x service-date join was measured SLOWER (1m/1m: 10.2 s vs
        # 8.1 s default on the 60k-rule skew join) — input-byte
        # detection cannot price a 180x output fan-out, and sub-MB
        # advisory sizes fragment every other exchange. Defaults kept;
        # explicit salting (pipeline salt_n) remains
        # the fix for that shape, as PLANS.md documents.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # python workers cost ~1.5s CPU each to import pandas; reuse them
        .config("spark.python.worker.reuse", "true")
        # PySpark's DataFrame call-site capture (on by default) wraps every
        # functions/Column call in an active-session lookup, a conf read,
        # a Python stack walk and two JVM PySparkCurrentOrigin calls. Off,
        # a cold job.run of the sample-feed pages (fixtures.pages_df with
        # 10 noise pages) makes 6,367 py4j round trips instead of 12,558.
        # The cost: runtime errors lose the Python file:line DataFrame
        # context. PySpark caches the value for the process on first use,
        # so it is set here, at session build.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # dimension tables (stops/routes/trips/services) are always small
        # relative to stop_times/pages; raise the broadcast ceiling a bit.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's codegen cache (one per JVM, 100 classes by default) is
        # smaller than one call: a cold job.run compiles 113-114 Janino
        # classes on perfbench's feeds_skewed and 241-251 on
        # history_sorted (CodegenMetrics), so every later call in the
        # process recompiled most of them (each sample-feed streaming
        # micro-batch recompiled all its ~168). 1000 holds a call's
        # classes with room to spare.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        # reliable materialize() checkpoints (materialize.py) are deleted
        # once their DataFrame is garbage collected; Spark's default
        # (false) leaves every rdd-* dir in the checkpoint dir forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
