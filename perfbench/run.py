"""Pages-to-triples benchmark of ``gtfs2lc_spark.job.run``.

    python3 perfbench/run.py --workload feeds_skewed --seed 1 --seconds 40 --trace 0

One Python process with a ``local[nproc]`` Spark session
(``--parallelism``) makes one conversion, as a job submission does:
set-up generates the workload's pages table from ``--seed``, computes
the DuckDB oracle's expected values and starts the session; then the
process's first ``job.run`` is timed, and its output checked. That
call pays for JIT, code generation and Python worker start-up, as every
submitted job does. It takes 20-60 s on a 4-core host, so a run makes
exactly one; ``--seconds`` is its expected length. ``--trace 1`` instead
makes an untimed first call, one call with Spark's stage totals, and
then times every layer on its own (``layers.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it repeats them
with the host facts and ``error_rate``. Spark logs go to stderr. All
files live under ``perfbench/.work``; spans are kept in
``perfbench/.work/spans``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from gtfs2lc_spark import job  # noqa: E402
from gtfs2lc_spark.session import build_session  # noqa: E402

import checks  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "job_cpu_s": "s",
    "out_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="the measured part's expected length; a run always measures one call")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parallelism", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: cores available)")
    ap.add_argument("--feeds", type=int, help="override the workload's feed count (scaling runs)")
    return ap.parse_args(argv)


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def default_heap_mb() -> int:
    """A quarter of RAM, within [1, 8] GB: the Spark JVM's resident
    size runs to about twice its heap."""
    return max(1024, min(8192, _meminfo_mb("MemTotal") // 4))


class ProcTree(threading.Thread):
    """Peak summed resident memory and CPU time of a process and its
    descendants (the Spark JVM and the Python UDF workers it forks),
    from /proc."""

    def __init__(self, pid: int, every_s: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _tree(self) -> dict[int, int]:
        """pid -> parent pid of the process and its descendants."""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {self.pid: 0}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update((c, p) for c in kids)
            frontier += kids
        return tree

    def _rss_mb(self) -> float:
        tree = self._tree()
        statm = {}
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    statm[p] = f.read().split()
            except OSError:
                pass
        # a child that reads exactly as its parent shares the parent's
        # memory: the JVM starts the Python daemon through posix_spawn,
        # whose child runs in the JVM's address space until it execs
        total = sum(int(m[1]) for p, m in statm.items() if m != statm.get(tree[p]))
        return total * self._page / (1024 * 1024)

    def cpu_s(self) -> float:
        """User + system time of the tree so far, with the children each
        process has reaped (utime, stime, cutime, cstime)."""
        ticks = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return ticks / self._tick

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self._rss_mb())
            self._halt.wait(self.every_s)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


class Bench:
    """One workload's inputs, its ``job.run`` arguments and its checks."""

    def __init__(self, spec: workloads.Spec, seed: int, work: str, spans: layers.Spans):
        self.spec, self.seed, self.work, self.spans = spec, seed, work, spans
        self.pages = os.path.join(work, "pages")
        self.base_pages = os.path.join(work, "base_pages")
        self.output = os.path.join(work, "out")
        self.history = os.path.join(work, "history") if spec.history else None
        self.base_feeds = spec.feeds // 2  # committed before a traced history run
        self.spark = None
        self.oracle = None

    def span(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.spans.add(name, "setup", t0, time.perf_counter())
        return out

    def _pages(self) -> list[tuple[str, str]]:
        spec = self.spec
        feeds = workloads.make_feeds(self.seed, spec.feeds)
        if not spec.history:
            feeds.append(workloads.SAMPLE_FEED)
        if spec.mega:
            feeds.append(workloads.mega_feed(spec))
        pages = [p for f in feeds for p in f.pages()]
        return pages + workloads.noise_pages(self.seed, spec.noise_pages, spec.near_miss_every)

    def generate(self, trace: bool) -> None:
        """Write the pages table (no Spark; runs while the session
        starts). A traced history run also gets a base crawl: the first
        half of the feeds, which it commits before the layers run."""
        seed = self.seed

        def write():
            workloads.write_pages(self.pages, seed, self._pages())
            if trace and self.history:
                base = [p for f in workloads.make_feeds(seed, self.base_feeds) for p in f.pages()]
                workloads.write_pages(self.base_pages, seed, base, ts_days=-30)

        self.span("generate", write)

    def job_argv(self, pages: str, output: str) -> list[str]:
        if not self.history:
            return ["--pages", pages, "--output", output, "--format", "triples-parquet"]
        return ["--pages", pages, "--output", output, "--format", "jsonld", "--join-and-sort",
                "--feed-scoped-uris", "--history", self.history]

    def args(self, output: str | None = None):
        return job.parse_args(self.job_argv(self.pages, output or self.output))

    def commit_base(self) -> None:
        """Commit the base crawl into the history (traced history run)."""
        base_out = os.path.join(self.work, "base_out")
        job.run(self.spark, job.parse_args(self.job_argv(self.base_pages, base_out)))
        _, errs = checks.check_history(base_out, self.newest_snapshot(), self.base_feeds, self.oracle)
        if errs:
            raise RuntimeError(f"base crawl: {errs}")

    def newest_snapshot(self) -> str:
        ids = [int(d.split("=", 1)[1]) for d in os.listdir(self.history) if d.startswith("snapshot=")]
        return os.path.join(self.history, f"snapshot={max(ids)}")

    def check(self, new_feeds: int | None = None) -> tuple[int, float, list[str]]:
        """(rows written, output MB, failures) of the last call."""
        if not self.history:
            n, errs = checks.check_triples(self.output, workloads.expected_triples(self.spec), self.oracle)
            return n, layers.dir_mb(self.output), errs
        snap = self.newest_snapshot()
        n, errs = checks.check_history(self.output, snap, new_feeds or self.spec.feeds, self.oracle)
        return n, layers.dir_mb(self.output) + layers.dir_mb(snap), errs

    def restore(self) -> None:
        """Back to the committed base history (snapshot 0)."""
        for d in os.listdir(self.history):
            if d.startswith("snapshot=") and d != "snapshot=0":
                shutil.rmtree(os.path.join(self.history, d))


def host_facts(spark, heap_mb: int, parallelism: int) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": _meminfo_mb("MemTotal"),
        "heap_mb": heap_mb,
        "master": f"local[{parallelism}]",
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "loadavg": load,
    }


def start_spark(work: str, parallelism: int, heap_mb: int):
    # keep every temp file of Spark and the JVM inside the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    spark = build_session(
        app_name="gtfs2lc-perfbench",
        master=f"local[{parallelism}]",
        shuffle_partitions=parallelism,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def timed_call(bench: Bench, tree: ProcTree) -> dict:
    """The process's first ``job.run``, timed, then its output checked."""
    dt = cpu = peak = 0.0
    cpu0 = tree.cpu_s()
    tree.start()
    t0 = time.perf_counter()
    try:
        try:
            job.run(bench.spark, bench.args())
            dt = time.perf_counter() - t0
            cpu = tree.cpu_s() - cpu0
        finally:
            peak = tree.stop()
        bench.spans.add("job.run", "rep-1", t0, t0 + dt)
        n, mb, errs = bench.check()
    except Exception as e:  # a failed call counts in failed; the run still reports
        n, mb, errs = 0, 0.0, [f"{type(e).__name__}: {e}"]
    if errs:
        print(f"call failed: {errs}", file=sys.stderr)
    return {
        "attempted": 1,
        "failed": int(bool(errs)),
        "reps_s": [dt],
        "metrics": {
            "job_s": dt,
            "job_cpu_s": cpu,
            "out_rows_per_s": n / dt if dt else 0.0,
            "peak_rss_mb": peak,
            "output_mb": mb,
        },
    }


def traced_rep(bench: Bench) -> dict:
    """An untimed first call (on the history workload: the commit of the
    base crawl), one call with Spark's stage totals, then every layer."""
    spans = bench.spans
    t0 = time.perf_counter()
    if bench.history:
        bench.commit_base()
    else:
        job.run(bench.spark, bench.args())
    spans.add("first_call", "rep-trace", t0, time.perf_counter())
    dt, st = layers.job_run_traced(bench.spark, spans, bench.args(), "rep-1")
    new_feeds = bench.spec.feeds - bench.base_feeds if bench.history else None
    _, _, errs = bench.check(new_feeds)
    if bench.history:
        bench.restore()
    layer_out = os.path.join(bench.work, "trace_out")
    t0 = time.perf_counter()
    layer = layers.trace_layers(bench.spark, spans, bench.args(layer_out), bench.pages, bench.history)
    spans.add("trace", "rep-trace", t0, time.perf_counter())
    metrics = {name: 0.0 for name in layers.per_layer_units()}
    metrics.update(layer)
    metrics["job.spark_jobs"] = st["jobs"]
    metrics["job.spark_stages"] = st["stages"]
    metrics["trace.overhead_s"] = sum(layer.get(f"{name}.s", 0.0) for name in layers.PATH_LAYERS) - dt
    if errs:
        print(f"traced call failed: {errs}", file=sys.stderr)
    return {"attempted": 1, "failed": int(bool(errs)), "reps_s": [dt], "metrics": metrics}


def main(argv=None) -> int:
    a = parse_args(argv)
    spec = workloads.SPECS[a.workload]
    if a.feeds:
        spec = dataclasses.replace(spec, feeds=a.feeds)
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = layers.Spans(t0=T_START)
    heap_mb = default_heap_mb()

    bench = Bench(spec, a.seed, work, spans)
    with ThreadPoolExecutor(max_workers=2) as pool:
        # the oracle's query takes up to ~10 s of two cores: it runs
        # beside the session start
        oracle = pool.submit(bench.span, "oracle", lambda: checks.Oracle(spec.history))
        generated = pool.submit(bench.generate, bool(a.trace))
        t0 = time.perf_counter()
        spark = start_spark(work, a.parallelism, heap_mb)
        spans.add("session", "setup", t0, time.perf_counter())
        try:
            generated.result()
            bench.spark = spark
            bench.oracle = oracle.result()
            setup_s = time.perf_counter() - T_START
            if a.trace:
                res = traced_rep(bench)
                units = layers.per_layer_units()
            else:
                res = timed_call(bench, ProcTree(spark.sparkContext._gateway.proc.pid))
                res["metrics"]["setup_s"] = setup_s
                units = END_TO_END_UNITS
            host = host_facts(spark, heap_mb, a.parallelism)
        finally:
            stop_spark(spark)

    spans_dir = os.path.join(HERE, ".work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans.write(os.path.join(spans_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    for d in os.listdir(work):  # inputs and outputs can be large; spans stay
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    metrics = {k: {"value": float(res["metrics"][k]), "unit": u} for k, u in units.items()}
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
        "setup_s": setup_s, "reps_s": res["reps_s"],
        "error_rate": {"value": res["failed"] / res["attempted"], "unit": "ratio"},
        "metrics": metrics,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
