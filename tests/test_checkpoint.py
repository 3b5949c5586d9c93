"""J7 — differential conversion + resumable checkpoints
(reference: history.db, lib/stoptimes/st2c.js:134-181)."""

import json
import os
import threading

import pyarrow.parquet as pq
import pytest

from gtfs2lc_spark import pipeline
from gtfs2lc_spark.checkpoint import PAIR_COLS, HistoryStore


@pytest.fixture()
def store(spark, tmp_path):
    return HistoryStore(spark, str(tmp_path / "history"))


def _emit(conns, store):
    """One ``store.emit`` run: the delta it handed to ``write``, and the
    snapshot it committed."""
    written = []
    snap = store.emit(conns, written.append)
    return written[0], snap


def test_first_run_emits_all_then_nothing(spark, feed, store, connections):
    delta1, snap1 = _emit(connections, store)
    emitted = spark.read.parquet(snap1.path)
    assert emitted.count() == 3472
    # identical second run: everything already in history -> empty delta
    delta2, snap2 = _emit(connections, store)
    assert delta2.count() == 0
    assert snap2.metrics["total_rows"] == 0
    assert snap2.metrics["partitions"] == []


def test_new_service_dates_emit_only_delta(spark, feed, store, connections):
    _emit(connections, store)
    # extend FULLW by one extra day via calendar_dates
    extra = spark.createDataFrame(
        [("FULLW", "20070701", "1", "samplefeed",
          "https://transit.example.org/feeds/samplefeed/calendar_dates.txt",
          999)],
        feed["calendar_dates"].schema,
    )
    cd2 = feed["calendar_dates"].unionByName(extra)
    conns2 = pipeline.convert(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"],
        feed["calendar"], cd2, salt_n=None,
    )
    delta, snap = _emit(conns2, store)
    rows = delta.select("trip_id", "service_date").collect()
    assert {r.service_date for r in rows} == {"20070701"}
    # FULLW trips: AB1 AB2 BFC1 BFC2 STBA (1 pair) + CITY1 CITY2 (4 pairs)
    assert len(rows) == 5 + 8


def test_fresh_resets(spark, connections, store):
    _emit(connections, store)
    store.fresh()
    delta, _ = _emit(connections, store)
    assert delta.count() == 3472


def test_metrics_lineage(spark, connections, store):
    """One lineage entry per non-empty data file, each equal to a
    direct read of that file: its part number, row count and
    unique_id range."""
    _, snap = _emit(connections, store)
    with open(os.path.join(snap.path, "_metrics.json")) as f:
        m = json.load(f)
    assert m["total_rows"] == 3472
    assert sum(p["rows"] for p in m["partitions"]) == 3472
    want = []
    for f in os.listdir(snap.path):
        t = pq.read_table(os.path.join(snap.path, f)) if f.startswith("part-") else None
        if t is not None and t.num_rows:
            keys = t.column("unique_id").to_pylist()
            want.append({
                "partition_id": int(f.split("-")[1]), "file": f, "rows": t.num_rows,
                "min_key": min(keys), "max_key": max(keys),
            })
    assert want and m["partitions"] == sorted(want, key=lambda p: p["partition_id"])


def test_kill_and_resume(spark, connections, store, tmp_path):
    """A snapshot dir without its _metrics.json commit marker is ignored:
    a killed run never corrupts history, and the resumed run re-emits
    exactly what the killed run failed to commit."""
    delta1, snap1 = _emit(connections, store)
    # simulate a crash after data write but before commit marker
    os.remove(os.path.join(snap1.path, "_metrics.json"))
    assert store.snapshots() == []
    delta2, snap2 = _emit(connections, store)
    assert spark.read.parquet(snap2.path).count() == 3472
    # and a third run on top emits nothing
    delta3, _ = _emit(connections, store)
    assert delta3.count() == 0


def test_emit_failed_staging_commits_nothing(spark, connections, store, tmp_path, monkeypatch):
    """The snapshot staging raises while the output write succeeds: emit
    raises once the write has finished, commits no snapshot, and the
    rerun writes and commits the whole delta."""
    out = str(tmp_path / "out")

    def write(delta):
        delta.write.mode("overwrite").parquet(out)

    def failing_stage(*args):
        raise RuntimeError("staging failed")

    with monkeypatch.context() as m:
        m.setattr(store, "_stage", failing_stage)
        with pytest.raises(RuntimeError, match="staging failed"):
            store.emit(connections, write)
    # emit returned only after the write beside the staging had ended
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert spark.read.parquet(out).count() == 3472
    assert store.snapshots() == []

    snap = store.emit(connections, write)
    assert spark.read.parquet(out).count() == 3472
    assert snap.snapshot_id == 0 and snap.metrics["total_rows"] == 3472
    assert store.snapshots() == [0]


def test_emit_failed_write_after_staging_leaves_no_marker(
    spark, connections, store, monkeypatch
):
    """The output write raises after the snapshot's data is staged: no
    commit marker is written, and the rerun overwrites the staged
    directory under the same snapshot id."""
    staged = threading.Event()
    real_stage = store._stage

    def stage(*args):
        stats = real_stage(*args)
        staged.set()
        return stats

    def failing_write(delta):
        assert staged.wait(300)
        raise RuntimeError("write failed")

    with monkeypatch.context() as m:
        m.setattr(store, "_stage", stage)
        with pytest.raises(RuntimeError, match="write failed"):
            store.emit(connections, failing_write)
    snap_dir = os.path.join(store.path, "snapshot=0")
    staged_files = {f for f in os.listdir(snap_dir) if f.endswith(".parquet")}
    assert staged_files
    assert not os.path.exists(os.path.join(snap_dir, "_metrics.json"))
    assert store.snapshots() == []

    delta, snap = _emit(connections, store)
    assert delta.count() == 3472
    assert snap.path == snap_dir and snap.metrics["total_rows"] == 3472
    assert spark.read.parquet(snap_dir).count() == 3472
    rerun_files = {f for f in os.listdir(snap_dir) if f.endswith(".parquet")}
    assert rerun_files and not rerun_files & staged_files
    assert store.snapshots() == [0]


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        rows, "feed_id string, unique_id string, service_date string"
    )


def _hist(spark, store, before=None):
    h = store.load(before_snapshot=before)
    return (
        set()
        if h is None
        else {(r.feed_id, r.unique_id, r.service_date) for r in h.collect()}
    )


def _jobs(spark, group, fn):
    """The number of Spark jobs ``fn()`` runs, counted by job group,
    and what it returns."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_stage_and_load_run_no_bookkeeping_jobs(spark, store):
    """Staging a snapshot is its one write job: the lineage comes from
    the footers just written, not from a distinct or a re-read. Loading
    the history pins the key schema, so it infers nothing from footers."""
    pairs = _pairs_df(spark, [("f", f"u{i}", "20070101") for i in range(20)])
    n_jobs, stats = _jobs(spark, "ckpt-stage", lambda: store._stage(pairs, 0))
    assert n_jobs == 1
    assert sum(p["rows"] for p in stats) == 20
    store._mark(0, stats, None)
    n_jobs, hist = _jobs(spark, "ckpt-load", store.load)
    assert n_jobs == 0
    assert hist.columns == list(PAIR_COLS)
    assert hist.count() == 20


def test_before_snapshot_replays_original_delta(spark, store):
    """``before_snapshot=N`` answers with the history of snapshots < N
    only: replaying batch N reproduces its original delta even after
    its own commit landed."""
    for i in range(4):
        store.commit(
            _pairs_df(spark, [("f", f"u{i}", "20070101"), ("f", f"u{i}", "20070102")]),
            snapshot_id=i,
        )
    assert store.snapshots() == [0, 1, 2, 3]
    assert _hist(spark, store) == {
        ("f", f"u{i}", d) for i in range(4) for d in ("20070101", "20070102")
    }
    assert _hist(spark, store, before=3) == {
        ("f", f"u{i}", d) for i in range(3) for d in ("20070101", "20070102")
    }

    # replaying the newest batch (3) reproduces its original delta
    conns = _pairs_df(
        spark, [("f", "u3", "20070101"), ("f", "u3", "20070102"), ("f", "u9", "20070103")]
    )
    delta = store.differential(conns, before_snapshot=3)
    assert {r.unique_id for r in delta.collect()} == {"u3", "u9"}


def test_kill_and_resume_reliable_strategy(
    spark, connections, store, tmp_path, checkpoint_calls
):
    """VERDICT r4 #8: the kill-and-resume contract holds under the
    cluster-grade 'reliable' materialize strategy (checkpoints survive
    executor loss), not just the sandbox localCheckpoint."""
    from gtfs2lc_spark import materialize as mat

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(mat.CONF_KEY, "reliable")
    try:
        delta1, snap1 = _emit(connections, store)
        assert delta1.count() == 3472
        os.remove(os.path.join(snap1.path, "_metrics.json"))
        assert store.snapshots() == []
        delta2, snap2 = _emit(connections, store)
        assert spark.read.parquet(snap2.path).count() == 3472
        delta3, _ = _emit(connections, store)
        assert delta3.count() == 0
        # each run's delta was cut by one eager reliable checkpoint
        assert checkpoint_calls == [True, True, True]
    finally:
        spark.conf.unset(mat.CONF_KEY)


def test_file_uri_store_round_trip(spark, tmp_path):
    """A ``file://`` store path commits, lists and anti-joins like a
    plain path. Spark resolves the URI, but the store's own file I/O
    would read it as a relative path: the commit's ``_metrics.json``
    write fails and snapshots() stays empty, so every rerun re-emits
    everything."""
    store = HistoryStore(spark, f"file://{tmp_path}/hist")
    assert store.path == f"{tmp_path}/hist"
    pairs = _pairs_df(spark, [("f", "u0", "20070101"), ("f", "u1", "20070101")])
    delta, snap = _emit(pairs, store)
    assert delta.count() == 2 and snap.snapshot_id == 0
    assert os.path.exists(os.path.join(snap.path, "_metrics.json"))
    assert store.snapshots() == [0]
    more = _pairs_df(spark, [("f", "u1", "20070101"), ("f", "u2", "20070101")])
    assert [r.unique_id for r in store.differential(more).collect()] == ["u2"]


def test_non_local_store_path_rejected(spark):
    with pytest.raises(ValueError, match="hdfs://nn:8020/hist"):
        HistoryStore(spark, "hdfs://nn:8020/hist")
    # a scheme-less path resolves against fs.defaultFS, so it is only
    # local when that is file:
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hconf.get("fs.defaultFS")
    hconf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        with pytest.raises(ValueError, match="/data/hist"):
            HistoryStore(spark, "/data/hist")
    finally:
        hconf.set("fs.defaultFS", default_fs)
    assert HistoryStore(spark, "/data/hist").path == "/data/hist"
