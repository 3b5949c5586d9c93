"""Pluggable materialization (VERDICT r3 #4): the lineage-cutting
materialize() sites must switch between sandbox-fast local checkpoints
and cluster-safe reliable checkpoints with ONE conf."""

import contextlib
import gc
import time

import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import materialize as mat


@contextlib.contextmanager
def _conf(spark, **kv):
    old = {}
    for k, v in kv.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _probe_df(spark):
    return spark.range(100).withColumn("v", F.col("id") * 2)


def test_local_default(spark):
    out = mat.materialize(_probe_df(spark))
    assert out.count() == 100
    # lineage is cut: the plan scans the checkpointed RDD, not Range
    assert "Range" not in out._jdf.queryExecution().executedPlan().toString()


def test_reliable_checkpoint(spark, tmp_path, monkeypatch):
    with _conf(spark, **{mat.CONF_KEY: "reliable"}):
        # unconfigured checkpoint dir must fail loudly, not silently
        # degrade to an executor-storage checkpoint (patched: the shared
        # session may already carry a dir set by an earlier test)
        with monkeypatch.context() as m:
            m.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
            with pytest.raises(ValueError, match="setCheckpointDir"):
                mat.materialize(_probe_df(spark))
        spark.sparkContext.setCheckpointDir(str(tmp_path / "reliable"))
        out = mat.materialize(_probe_df(spark))
        assert sorted(r.v for r in out.collect()) == [2 * i for i in range(100)]
        # the checkpoint landed in the fault-tolerant dir
        assert any((tmp_path / "reliable").rglob("*"))


def test_reliable_checkpoint_files_are_reclaimed(spark, tmp_path):
    """A reliable checkpoint's rdd-* dir is deleted once its DataFrame
    is garbage collected (spark.cleaner.referenceTracking
    .cleanCheckpoints, set by build_session); otherwise every
    reliable materialize() leaks a full copy of its intermediate."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    with _conf(spark, **{mat.CONF_KEY: "reliable"}):
        out = mat.materialize(_probe_df(spark))
    assert out.count() == 100
    rdd_dirs = list((tmp_path / "ckpt").glob("*/rdd-*"))
    assert len(rdd_dirs) == 1
    del out
    deadline = time.monotonic() + 30
    while rdd_dirs[0].exists() and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
    assert not rdd_dirs[0].exists()


def test_unknown_strategy_raises(spark):
    # 'parquet' was a strategy once: a removed value must fail loudly,
    # not fall back to another strategy
    for strategy in ("nope", "parquet"):
        with _conf(spark, **{mat.CONF_KEY: strategy}):
            with pytest.raises(ValueError, match=strategy):
                mat.materialize(_probe_df(spark))


def test_pipeline_runs_under_reliable_strategy(spark, tmp_path):
    """End-to-end: the extract->convert->postprocess path produces the
    same rows under the cluster-safe reliable strategy as under the
    default — the strategy changes durability, never semantics."""
    from gtfs2lc_spark import extraction, fixtures, pipeline, postprocess, sinks

    def run():
        e = extraction.extract_entities(
            fixtures.pages_df(spark, feed_id="matfeed", noise_pages=2)
        )
        jl = sinks.connections_to_jsonld(
            pipeline.convert(
                e["stop_times"], e["trips"], e["routes"], e["stops"],
                e["calendar"], e["calendar_dates"], salt_n=8,
            )
        ).drop("feed_id", "type", "departure_ts", "arrival_ts")
        return postprocess.join_and_sort(jl).collect()

    base = run()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    with _conf(spark, **{mat.CONF_KEY: "reliable"}):
        alt = run()
    assert [r.id for r in base] == [r.id for r in alt]
    assert 0 < len(base) <= fixtures.SAMPLE_FEED_CONNECTIONS  # J8 merged


def test_connected_components_under_reliable_strategy(
    spark, tmp_path, checkpoint_calls
):
    """VERDICT r4 #3: the iterative CC loop must route every round
    through materialize(), so the reliable strategy governs it on a
    real cluster (a raw localCheckpoint dies with a lost executor).
    Clusters must be identical under both strategies."""
    from gtfs2lc_spark.datapipe import dedup

    # two chains + a singleton edge: {1,2,3,4}, {10,11}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a int, id_b int"
    )
    base = sorted(
        (r.id, r.cluster_id) for r in dedup.connected_components(pairs).collect()
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "cc"))
    with _conf(spark, **{mat.CONF_KEY: "reliable"}):
        alt = sorted(
            (r.id, r.cluster_id)
            for r in dedup.connected_components(pairs).collect()
        )
    # the loop actually checkpointed reliably (edges + labels + >=1
    # round)
    assert len(checkpoint_calls) >= 3 and all(checkpoint_calls)
    assert base == alt
    assert base == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20), (21, 20),
    ]


def test_concurrently_returns_in_order_and_waits_for_every_thunk(spark):
    """Results come back in argument order; when thunks fail, every
    thunk has still finished, and the first failure in argument order
    is raised."""
    finished = []

    def slow(v):
        time.sleep(0.3)
        finished.append(v)
        return v

    def late_failure():
        time.sleep(0.1)
        raise ValueError("late")

    def early_failure():
        raise RuntimeError("early")

    assert mat.concurrently(lambda: slow(1), lambda: 2) == [1, 2]
    with pytest.raises(ValueError, match="late"):
        mat.concurrently(late_failure, lambda: slow(3), early_failure)
    assert finished == [1, 3]


def test_concurrently_threads_keep_the_callers_job_group(spark):
    """Jobs run on the helper threads belong to the caller's job group,
    so per-group job counts and cancellation see them."""
    sc = spark.sparkContext
    thunks = (lambda: spark.range(10).count(), lambda: spark.range(20).count())
    counts = []
    try:
        for group, run in (("seq", lambda: [t() for t in thunks]),
                           ("conc", lambda: mat.concurrently(*thunks))):
            sc.setJobGroup(group, group)
            assert run() == [10, 20]
            sc.setLocalProperty("spark.jobGroup.id", None)
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts[0] > 0 and counts[1] == counts[0]
