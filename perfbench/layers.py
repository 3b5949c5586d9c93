"""Spans, Spark stage metrics and the per-layer traced run.

Spans are recorded from the benchmark's side of each call into the
engine (name, start, end, parent), kept in memory and written out once
the run ends. Work is attributed to a layer by the Spark stages that
ran while that layer's output was being forced, read back from
Spark's own status store (``SparkContext.statusStore()``) over py4j.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs2lc_spark import extraction, job, pipeline, postprocess, sinks
from gtfs2lc_spark.checkpoint import HistoryStore
from gtfs2lc_spark.fixtures import GTFS_MARKER
from gtfs2lc_spark.uris import FEED_SCOPED_BASE_URIS, URIStrategy

MB = 1024 * 1024

# every layer the traced run can time, in pipeline order
LAYERS = (
    "extraction.detect_pages",
    "extraction.detect_gtfs",
    "extraction.entities_from_detected",
    "pipeline.expand_services",
    "pipeline.stop_times_to_rules",
    "pipeline.rules_to_connections",
    "checkpoint.differential",
    "checkpoint.commit",
    "sinks.connections_to_triples",
    "sinks.connections_to_jsonld",
    "postprocess.merge_movements",
    "postprocess.link_next_connections",
    "postprocess.join_and_sort",
    "job.write",
)
# the layers job.run's own path is made of; the others repeat part of
# that work as a breakdown (detect_gtfs of detect_pages, merge_movements
# and link_next_connections of join_and_sort)
PATH_LAYERS = tuple(name for name in LAYERS if name not in (
    "extraction.detect_gtfs", "postprocess.merge_movements", "postprocess.link_next_connections"))
LAYER_FIELDS = ("s", "rows_out", "core_s", "shuffle_mb", "spill_mb", "task_skew", "failed_tasks")
EXTRA_METRICS = (
    ("extraction.detect_pages.prefilter_pass_ratio", "ratio"),
    ("extraction.detect_pages.hit_ratio", "ratio"),
    ("pipeline.stop_times_to_rules.rows_in", "rows"),
    ("pipeline.rules_to_connections.fanout", "ratio"),
    ("sinks.connections_to_triples.per_connection", "ratio"),
    ("checkpoint.differential.history_rows", "rows"),
    ("checkpoint.commit.mb", "MB"),
    ("job.spark_jobs", "count"),
    ("job.spark_stages", "count"),
    ("trace.overhead_s", "s"),
)
FIELD_UNITS = {"s": "s", "rows_out": "rows", "core_s": "s", "shuffle_mb": "MB",
               "spill_mb": "MB", "task_skew": "ratio", "failed_tasks": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit (the BENCHMARK.json list)."""
    units = {f"{layer}.{f}": FIELD_UNITS[f] for layer in LAYERS for f in LAYER_FIELDS}
    units.update(dict(EXTRA_METRICS))
    return units


@dataclass
class Spans:
    spans: list[dict] = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)

    def add(self, name: str, parent: str, start: float, end: float) -> None:
        self.spans.append({"name": name, "parent": parent, "start": round(start - self.t0, 6),
                           "end": round(end - self.t0, 6)})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class StageStats:
    """Reads finished jobs and stages from Spark's status store."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self.median_max = q

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.bus.waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id) — everything after it is new."""
        self._drain()
        jobs = self.store.jobsList(None)
        stages = self.store.stageList(None, False, False, self.no_quantiles, None)
        nj = max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1) + 1
        ns = max([stages.apply(i).stageId() for i in range(stages.size())], default=-1) + 1
        return nj, ns

    def since(self, mark: tuple[int, int]) -> dict:
        """Totals over jobs and completed stages started after ``mark``."""
        self._drain()
        jobs = self.store.jobsList(None)
        n_jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() >= mark[0])
        lst = self.store.stageList(None, False, False, self.no_quantiles, None)
        stages = [lst.apply(i) for i in range(lst.size())]
        done = [s for s in stages if s.stageId() >= mark[1] and str(s.status()) == "COMPLETE"]
        out = {
            "jobs": n_jobs,
            "stages": len(done),
            "core_s": sum(s.executorRunTime() for s in done) / 1000,
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in done) / MB,
            "spill_mb": sum(s.diskBytesSpilled() for s in done) / MB,
            "failed_tasks": sum(s.numFailedTasks() for s in done),
            "task_skew": 1.0,
        }
        if done:
            widest = max(done, key=lambda s: (s.numTasks(), s.executorRunTime()))
            summ = self.store.taskSummary(widest.stageId(), widest.attemptId(), self.median_max)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                out["task_skew"] = mx / max(med, 1.0)
        return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


class LayerTracer:
    """Times each layer's public function on a materialized input and
    forces its output (a local checkpoint, which later layers read)."""

    def __init__(self, spark: SparkSession, spans: Spans, parent: str):
        self.stats = StageStats(spark)
        self.spans = spans
        self.parent = parent
        self.metrics: dict[str, float] = {}

    def run(self, name: str, call, rows=None):
        """Time ``call()`` — which must force its own output — then
        record its stage totals. ``rows(result)`` gives rows_out."""
        mark = self.stats.mark()
        t0 = time.perf_counter()
        result = call()
        t1 = time.perf_counter()
        st = self.stats.since(mark)
        self.spans.add(name, self.parent, t0, t1)
        m = self.metrics
        m[f"{name}.s"] = t1 - t0
        for k in ("core_s", "shuffle_mb", "spill_mb", "task_skew", "failed_tasks"):
            m[f"{name}.{k}"] = st[k]
        m[f"{name}.rows_out"] = rows(result) if rows else 0
        return result


def _cut(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def trace_layers(
    spark: SparkSession, spans: Spans, args, pages_path: str, history: str | None,
) -> dict[str, float]:
    """One pass over every layer ``args`` (job.run's arguments) uses,
    each on the previous layer's materialized output."""
    tr = LayerTracer(spark, spans, "rep-trace")
    m = tr.metrics
    count = lambda df: df.count()  # noqa: E731 — counted on the cut output
    pages = spark.read.parquet(pages_path)

    detected = tr.run("extraction.detect_pages", lambda: _cut(extraction.detect_pages(pages)), count)
    n_pages = pages.count()
    marked = _cut(
        pages.where(F.col("text").startswith(GTFS_MARKER)).select("text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n_marked = marked.count()
    m["extraction.detect_pages.prefilter_pass_ratio"] = n_marked / max(n_pages, 1)
    m["extraction.detect_pages.hit_ratio"] = m["extraction.detect_pages.rows_out"] / max(n_marked, 1)
    tr.run(
        "extraction.detect_gtfs",
        lambda: _cut(marked.select(extraction.detect_gtfs("text").alias("g"))
                     .where(F.col("g.gtfs_file").isNotNull())),
        count,
    )

    ents = tr.run(
        "extraction.entities_from_detected",
        lambda: {k: _cut(v) for k, v in extraction.entities_from_detected(detected).items()},
        lambda d: sum(v.count() for v in d.values()),
    )
    services = tr.run("pipeline.expand_services",
                      lambda: _cut(pipeline.expand_services(ents["calendar"], ents["calendar_dates"])), count)
    m["pipeline.stop_times_to_rules.rows_in"] = ents["stop_times"].count()
    rules = tr.run(
        "pipeline.stop_times_to_rules",
        lambda: _cut(pipeline.stop_times_to_rules(ents["stop_times"], ents["trips"], ents["routes"], ents["stops"])),
        count,
    )
    conns = tr.run(
        "pipeline.rules_to_connections",
        lambda: _cut(pipeline.rules_to_connections(rules, services, args.feed_tz, salt_n=args.salt or None)),
        count,
    )
    m["pipeline.rules_to_connections.fanout"] = (
        m["pipeline.rules_to_connections.rows_out"] / max(m["pipeline.stop_times_to_rules.rows_out"], 1))

    if history:
        store = HistoryStore(spark, history)
        m["checkpoint.differential.history_rows"] = store.load().count()
        conns = tr.run("checkpoint.differential", lambda: _cut(store.differential(conns)), count)
        snap = tr.run("checkpoint.commit", lambda: store.commit(conns, {"format": args.format}),
                      lambda s: s.metrics["total_rows"])
        m["checkpoint.commit.mb"] = dir_mb(snap.path)
        shutil.rmtree(snap.path)  # back to the committed base history

    base_uris = FEED_SCOPED_BASE_URIS if args.feed_scoped_uris else None
    uris = URIStrategy(base_uris)
    if args.format == "triples-parquet":
        out = tr.run("sinks.connections_to_triples", lambda: _cut(sinks.connections_to_triples(conns, uris)), count)
        m["sinks.connections_to_triples.per_connection"] = (
            m["sinks.connections_to_triples.rows_out"] / max(m["pipeline.rules_to_connections.rows_out"], 1))
        write = lambda: out.write.mode("overwrite").parquet(args.output)  # noqa: E731
    else:
        jsonld = tr.run("sinks.connections_to_jsonld", lambda: _cut(sinks.connections_to_jsonld(conns, uris)), count)
        if args.join_and_sort:
            post_in = jsonld.drop("feed_id", "type", "departure_ts", "arrival_ts")
            merged = tr.run("postprocess.merge_movements",
                            lambda: _cut(postprocess.merge_movements(post_in)), count)
            tr.run("postprocess.link_next_connections",
                   lambda: _cut(postprocess.link_next_connections(merged)), count)
            jsonld = tr.run("postprocess.join_and_sort", lambda: _cut(postprocess.join_and_sort(post_in)), count)
        out = sinks.jsonld_lines(jsonld)
        write = lambda: out.write.mode("overwrite").text(args.output)  # noqa: E731
    tr.run("job.write", write)
    m["job.write.rows_out"] = out.count()
    return m


def job_run_traced(spark: SparkSession, spans: Spans, args, parent: str) -> tuple[float, dict]:
    """One ``job.run`` call: (seconds, stage totals)."""
    stats = StageStats(spark)
    mark = stats.mark()
    t0 = time.perf_counter()
    job.run(spark, args)
    t1 = time.perf_counter()
    spans.add("job.run", parent, t0, t1)
    return t1 - t0, stats.since(mark)
