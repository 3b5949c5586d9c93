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

import contextlib
import glob
import hashlib
import logging
import os
import shutil

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Driver JVM settings. ``build_session`` applies them when it starts the
# JVM itself (plain ``python``); under ``spark-submit`` the JVM is already
# running by then, so scripts/submit.sh passes the same values as
# --driver-java-options / --driver-memory (and SPARK_CONF_DIR), read from
# ``driver_launch`` and ``driver_memory``.
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

# Class-data sharing (CDS, JEP 350). A cold driver JVM loads about 23k
# classes from Spark's jars before its first call returns (9.4k in
# session start, 14.1k more in the first job.run). With a dynamic CDS
# archive the JVM maps them, already parsed and verified, from one file
# instead. ``driver_launch`` gives the JVM the archive when it exists
# (-XX:SharedArchiveFile) and otherwise has the JVM write it as it exits
# (-XX:ArchiveClassesAtExit), so the first session on a host pays for
# the archive and the later ones map it. perfbench on a 4-core host, 10
# interleaved pairs from an empty cache (AB_r17_cds.json): feeds_skewed
# setup_s 6.22 -> 3.54 s median, job_s 16.2 -> 13.6 s (the first call
# loads fewer classes too). The session that writes the archive starts
# 2.5-3 s slower, and its JVM takes about 10 s to exit while it writes.
#
# - The archive (~180 MB after a perfbench run; it holds the classes that
#   the session which wrote it loaded) lives in the user cache dir
#   ($XDG_CACHE_HOME or ~/.cache, under gtfs2lc_spark/). Its name hashes
#   the Java home, the Spark jars (names, sizes, mtimes) and
#   DRIVER_JAVA_OPTIONS, so a new JDK, Spark or option set writes a new
#   archive. Writing one keeps the most recently written other
#   ``driver-*.jsa`` and deletes the rest: two keys on one host (two
#   checkouts with different DRIVER_JAVA_OPTIONS, or the two sides of an
#   A/B) each keep their own archive instead of deleting each other's on
#   every run, and at most two archives (~360 MB) stay.
# - CDS refuses to dump or map with a non-empty directory on the
#   classpath, and the launcher puts the conf dir there, so the JVM gets
#   an empty SPARK_CONF_DIR. That is only equivalent when the effective
#   conf dir holds nothing but ``*.template`` files; any real file there
#   (spark-defaults.conf, log4j2.properties, ...) turns CDS off.
# - An unwritable cache dir turns CDS off, and so does a JDK without its
#   own base archive (lib/server/classes*.jsa), which a dynamic archive
#   extends. A JVM that is already running (spark-submit, or a second
#   session in one process) gets nothing: scripts/submit.sh asks
#   ``driver_launch`` for the same options before it starts the JVM.
# - The JDK's unified logging writes warnings to stdout; the writing JVM
#   prints about 1,100 "[cds]" warnings (Skipping ..., Preload Warning
#   ...) at exit, after job.main's JSON summary. CDS sessions send JVM
#   warnings to stderr instead.
# - A rejected archive (stale, or torn by two first sessions writing at
#   once) makes the JVM start without it. ``cds_state`` sees that in
#   /proc and deletes the file, so the next session writes a fresh one.
#   A truncated archive whose header is intact crashes the JVM instead
#   (JDK 17 maps past the end of the file): ``build_session`` deletes it
#   and starts the JVM again, writing a fresh one. The JVM writes the
#   header last, so an archive whose writer was killed (kill -9 mid-dump
#   leaves a zeroed header) is rejected, not mapped past its end.
#   -XX:ErrorFile puts such a crash's hs_err_pid*.log in the cache dir,
#   not in the caller's working directory. It rides with the CDS flags,
#   not DRIVER_JAVA_OPTIONS, whose text names the archive. The crash's
#   fatal-error banner still goes to stdout.
# A static archive (-XX:DumpLoadedClassList, then java -Xshare:dump) took
# 41 s to build and mapped no faster (session start 2.50 / 2.54 s against
# 2.33 / 2.36 s).
CDS_LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning:stderr"
_MAP_FLAG = "-XX:SharedArchiveFile="
_WRITE_FLAG = "-XX:ArchiveClassesAtExit="


def driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` or the default."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEMORY)


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "gtfs2lc_spark")


def _java_home() -> str:
    """The JDK that Spark's launcher runs: ``JAVA_HOME``, else ``java``
    on the PATH."""
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(shutil.which("java") or "java")
    )
    return os.path.realpath(java_home)


def _archive_key(java_home: str, spark_home: str) -> str:
    """Hash of what a dynamic archive depends on: the JDK, the Spark
    jars and the driver options."""
    h = hashlib.sha256(f"{java_home}\n{DRIVER_JAVA_OPTIONS}\n".encode())
    jars = os.path.join(spark_home, "jars")
    for e in sorted(os.scandir(jars) if os.path.isdir(jars) else [], key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def driver_launch() -> tuple[str, str | None]:
    """The driver JVM's options and the ``SPARK_CONF_DIR`` to start it
    with: ``DRIVER_JAVA_OPTIONS`` plus the CDS flags and an empty conf
    dir when class-data sharing applies, else ``DRIVER_JAVA_OPTIONS``
    and None (see the CDS comment above)."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(not f.endswith(".template") for f in os.listdir(conf)):
        return DRIVER_JAVA_OPTIONS, None
    java_home = _java_home()
    # a dynamic archive extends the JDK's own base archive
    if not glob.glob(os.path.join(java_home, "lib", "server", "classes*.jsa")):
        return DRIVER_JAVA_OPTIONS, None
    cache = _cache_dir()
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return DRIVER_JAVA_OPTIONS, None
    if not os.access(cache, os.W_OK):
        return DRIVER_JAVA_OPTIONS, None
    archive = os.path.join(cache, f"driver-{_archive_key(java_home, spark_home)}.jsa")
    if os.path.exists(archive):
        flag = _MAP_FLAG + archive
    else:
        _prune_archives(cache)
        flag = _WRITE_FLAG + archive
    error_file = os.path.join(cache, "hs_err_pid%p.log")
    return f"{DRIVER_JAVA_OPTIONS} {flag} {CDS_LOG_OPTIONS} -XX:ErrorFile={error_file}", empty_conf


def _prune_archives(cache: str) -> None:
    """Before a new archive is written: keep the most recently written
    ``driver-*.jsa`` in ``cache`` and delete the others."""
    archives = []
    for path in glob.glob(os.path.join(cache, "driver-*.jsa")):
        with contextlib.suppress(FileNotFoundError):
            archives.append((os.stat(path).st_mtime_ns, path))
    for _, old in sorted(archives)[:-1]:
        with contextlib.suppress(FileNotFoundError):
            os.remove(old)


def _given_archive(args: list[str]) -> str | None:
    """The archive that JVM arguments ``args`` ask to map."""
    return next((a[len(_MAP_FLAG):] for a in args if a.startswith(_MAP_FLAG)), None)


def _discard(archive: str) -> None:
    """Delete an archive the driver JVM rejected; the next session
    writes a fresh one."""
    try:
        os.remove(archive)
    except FileNotFoundError:  # another session discarded it first
        return
    logging.getLogger(__name__).warning("driver JVM rejected CDS archive %s; deleted it", archive)


def cds_state(spark: SparkSession) -> str:
    """``"mapped"`` when the driver JVM runs from a CDS archive,
    ``"writing"`` when it writes one as it exits, else ``"off"``. Reads
    the JVM's /proc cmdline and maps (no Spark job). An archive of ours
    that the JVM was given but did not map was rejected, and is
    discarded."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().decode().split("\0")
        with open(f"/proc/{pid}/maps") as f:
            maps = f.read()
    except OSError:
        return "off"
    if any(a.startswith(_WRITE_FLAG) for a in args):
        return "writing"
    archive = _given_archive(args)
    if archive and archive in maps:
        return "mapped"
    if archive and os.path.dirname(archive) == _cache_dir():
        _discard(archive)
    return "off"


def stop_session(spark: SparkSession) -> None:
    """Stop the session and, if this process started the driver JVM,
    wait for it to exit. A JVM that writes the CDS archive exits only
    once the archive is complete, so a session started right after this
    one maps it instead of writing another."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait()


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
    # only a JVM that this call starts can get the CDS options
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    java_options, conf_dir = driver_launch() if launching else (DRIVER_JAVA_OPTIONS, None)
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
        # Every Parquet file the engine writes (the triples-parquet
        # output, the history snapshots, streaming's detected-pages
        # staging) is zstd at Parquet's default level, Iceberg's default
        # codec. Spark's default, snappy, misses the triple table's
        # repeats (each subject fills 10 consecutive rows; stop, route
        # and trip URIs recur across thousands), whose subj and obj
        # dictionaries overflow to plain encoding. perfbench on a 4-core
        # host, 10 interleaved pairs per workload (AB_r18_zstd.json), same
        # rows in the same order: feeds_skewed output_mb 5.16 -> 1.51 MB
        # (2^20 bytes) median, smaller in every pair (at seed 7, subj
        # 1.81 -> 0.50 MB and obj 3.31 -> 0.95 MB); job_s and job_cpu_s
        # within noise (14.8 / 45.8 s -> 14.4 / 44.0 s, faster in 5 of
        # 10). On history_sorted, whose JSON-LD text dominates, 14.56 ->
        # 14.55 MB. Readers need nothing: the codec is recorded per
        # column chunk, so stores that hold snappy snapshots stay
        # readable.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", java_options)
        .config("spark.ui.enabled", "false")
        # reliable materialize() checkpoints (materialize.py) are deleted
        # once their DataFrame is garbage collected; Spark's default
        # (false) leaves every rdd-* dir in the checkpoint dir forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir  # read by the launcher only
    try:
        try:
            spark = builder.getOrCreate()
        except PySparkRuntimeError:
            # a truncated archive with an intact header crashes the JVM
            # as it maps it (SIGBUS): discard it and start again, writing
            # a fresh one
            archive = _given_archive(java_options.split())
            if archive is None:
                raise
            _discard(archive)
            java_options, _ = driver_launch()
            spark = builder.config("spark.driver.extraJavaOptions", java_options).getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    cds_state(spark)  # discards an archive the JVM rejected
    return spark
