"""J7 — differential conversion + resumable checkpoints
(reference: history.db, lib/stoptimes/st2c.js:134-181)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import pipeline
from gtfs2lc_spark.checkpoint import HistoryStore, convert_incremental


@pytest.fixture()
def store(spark, tmp_path):
    return HistoryStore(spark, str(tmp_path / "history"))


def _conns(spark, feed, **kw):
    return pipeline.convert(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"],
        feed["calendar"], feed["calendar_dates"], salt_n=None, **kw,
    )


def test_first_run_emits_all_then_nothing(spark, feed, store, connections):
    delta1, snap1 = convert_incremental(connections, store)
    emitted = spark.read.parquet(snap1.path)
    assert emitted.count() == 3472
    # identical second run: everything already in history -> empty delta
    delta2, snap2 = convert_incremental(connections, store)
    assert delta2.count() == 0
    assert snap2.metrics["total_rows"] == 0


def test_new_service_dates_emit_only_delta(spark, feed, store, connections):
    convert_incremental(connections, store)
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
    delta, snap = convert_incremental(conns2, store)
    rows = delta.select("trip_id", "service_date").collect()
    assert {r.service_date for r in rows} == {"20070701"}
    # FULLW trips: AB1 AB2 BFC1 BFC2 STBA (1 pair) + CITY1 CITY2 (4 pairs)
    assert len(rows) == 5 + 8


def test_fresh_resets(spark, connections, store):
    convert_incremental(connections, store)
    delta, _ = convert_incremental(connections, store, fresh=True)
    assert delta.count() == 3472


def test_metrics_lineage(spark, connections, store):
    _, snap = convert_incremental(connections, store)
    with open(os.path.join(snap.path, "_metrics.json")) as f:
        m = json.load(f)
    assert m["total_rows"] == 3472
    assert sum(p["rows"] for p in m["partitions"]) == 3472
    for p in m["partitions"]:
        assert p["min_key"] <= p["max_key"]


def test_kill_and_resume(spark, connections, store, tmp_path):
    """A snapshot dir without its _metrics.json commit marker is ignored:
    a killed run never corrupts history, and the resumed run re-emits
    exactly what the killed run failed to commit."""
    delta1, snap1 = convert_incremental(connections, store)
    # simulate a crash after data write but before commit marker
    os.remove(os.path.join(snap1.path, "_metrics.json"))
    assert store.snapshots() == []
    delta2, snap2 = convert_incremental(connections, store)
    assert spark.read.parquet(snap2.path).count() == 3472
    # and a third run on top emits nothing
    delta3, _ = convert_incremental(connections, store)
    assert delta3.count() == 0


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


def test_compaction_preserves_differential_semantics(spark, store):
    """VERDICT r3 #6: compact() rewrites snapshots <= N into one base;
    load()/differential() answers are unchanged, the newest snapshot
    stays replayable (before_snapshot still works across the
    boundary), and the superseded dirs are gone."""
    for i in range(4):
        store.commit(
            _pairs_df(spark, [("f", f"u{i}", "20070101"), ("f", f"u{i}", "20070102")]),
            snapshot_id=i,
        )
    full_before = _hist(spark, store)
    replay_before = _hist(spark, store, before=3)
    assert store.snapshots() == [0, 1, 2, 3]

    info = store.compact()  # default: through the SECOND-newest (id 2)
    assert store.compacted_through() == 2
    assert store.snapshots() == [3]
    # a year of batches -> exactly base + tail on disk
    dirs = sorted(d for d in os.listdir(store.path) if not d.startswith("_"))
    assert len([d for d in dirs if d.startswith("base-")]) == 1
    assert [d for d in dirs if d.startswith("snapshot=")] == ["snapshot=3"]

    # identical history answers across the compaction boundary
    assert _hist(spark, store) == full_before
    assert _hist(spark, store, before=3) == replay_before

    # replaying the newest batch (3) reproduces its original delta
    conns = _pairs_df(
        spark, [("f", "u3", "20070101"), ("f", "u3", "20070102"), ("f", "u9", "20070103")]
    )
    delta = store.differential(conns, before_snapshot=3)
    assert {r.unique_id for r in delta.collect()} == {"u3", "u9"}

    # but history below the floor is explicitly unanswerable
    with pytest.raises(ValueError, match="compacted through"):
        store.load(before_snapshot=2)
    # and a compacted batch id can never be re-committed
    with pytest.raises(ValueError, match="refusing to overwrite"):
        store.commit(_pairs_df(spark, [("f", "x", "20070101")]), snapshot_id=1)

    # new commits continue above the tail; a second compaction folds
    # the old base + mid snapshots into a fresh single base
    store.commit(_pairs_df(spark, [("f", "u5", "20070105")]), snapshot_id=5)
    store.compact()
    assert store.compacted_through() == 3
    assert store.snapshots() == [5]
    assert _hist(spark, store) == full_before | {("f", "u5", "20070105")}
    assert len([d for d in os.listdir(store.path) if d.startswith("base-")]) == 1


def test_compaction_guards(spark, store):
    with pytest.raises(ValueError, match="need >=2"):
        store.compact()
    store.commit(_pairs_df(spark, [("f", "a", "20070101")]), snapshot_id=0)
    store.commit(_pairs_df(spark, [("f", "b", "20070101")]), snapshot_id=1)
    with pytest.raises(ValueError, match="newest"):
        store.compact(up_to=1)


def test_compact_excludes_concurrent_compact(spark, store):
    """VERDICT r4 #7: two compactions must never interleave — each
    sweeps every base-* dir but its own, so the slower one's marker
    could name a base the faster one deleted. The _compact.lock
    serializes them; a stale lock (crashed compactor) is taken over."""
    import time as _time

    for i in range(3):
        store.commit(_pairs_df(spark, [("f", f"c{i}", "20070101")]), snapshot_id=i)

    # a held (fresh) lock blocks
    lock = os.path.join(store.path, "_compact.lock")
    with open(lock, "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="another compact"):
        store.compact()
    # ...and is NOT silently removed by the failed attempt
    assert os.path.exists(lock)

    # a stale lock (older than ttl) is taken over and compaction runs
    old = _time.time() - 7200
    os.utime(lock, (old, old))
    info = store.compact(lock_ttl_s=3600)
    assert info.metrics["covers_up_to"] == 1
    assert not os.path.exists(lock)  # released on success
    assert _hist(spark, store) == {("f", "c0", "20070101"),
                                   ("f", "c1", "20070101"),
                                   ("f", "c2", "20070101")}

    # released on FAILURE too (guard error inside the locked section)
    with pytest.raises(ValueError, match="need >=2"):
        store.compact()
    assert not os.path.exists(lock)


def test_commit_during_compact_interleavings(spark, store, monkeypatch):
    """VERDICT r4 #7: a streaming commit() landing anywhere inside a
    running compact() must never lose data. Pin the worst window — the
    commit lands AFTER compact chose its snapshot set and wrote the new
    base, BEFORE the marker replace — by intercepting the marker's
    os.replace."""
    import gtfs2lc_spark.checkpoint as cp

    for i in range(3):
        store.commit(_pairs_df(spark, [("f", f"u{i}", "20070101")]), snapshot_id=i)

    real_replace = os.replace
    fired = {}

    def replace_with_commit(src, dst):
        # first marker replace of this test: sneak in batch 3's commit,
        # exactly as a live stream would while maintenance compacts
        if dst.endswith(cp.HistoryStore.MARKER) and not fired:
            fired["yes"] = True
            store.commit(
                _pairs_df(spark, [("f", "u3", "20070103")]), snapshot_id=3
            )
        return real_replace(src, dst)

    monkeypatch.setattr(cp.os, "replace", replace_with_commit)
    store.compact()  # covers 0..1 (second-newest at entry)
    monkeypatch.setattr(cp.os, "replace", real_replace)

    assert fired
    assert store.compacted_through() == 1
    # the concurrent snapshot survived the sweep and is fully visible
    assert store.snapshots() == [2, 3]
    assert _hist(spark, store) == {
        ("f", "u0", "20070101"), ("f", "u1", "20070101"),
        ("f", "u2", "20070101"), ("f", "u3", "20070103"),
    }
    # and the replay bound for the concurrent batch still answers
    assert _hist(spark, store, before=3) == {
        ("f", "u0", "20070101"), ("f", "u1", "20070101"),
        ("f", "u2", "20070101"),
    }


def test_replayed_commit_vs_compaction_floor(spark, store):
    """The replayed-batch race, marker-first ordering: once the marker
    covers a snapshot id, a replayed commit() of that id refuses, and a
    dir that a commit re-created at-or-below the floor (commit winning
    the race) is permanently ignored by snapshots()/load()."""
    for i in range(3):
        store.commit(_pairs_df(spark, [("f", f"u{i}", "20070101")]), snapshot_id=i)
    store.compact()  # floor = 1
    before = _hist(spark, store)

    # marker landed first -> replay refuses
    with pytest.raises(ValueError, match="refusing to overwrite"):
        store.commit(_pairs_df(spark, [("f", "u1", "20070101")]), snapshot_id=1)

    # commit won the race -> its dir sits below the floor, ignored
    ghost = os.path.join(store.path, "snapshot=0")
    os.makedirs(ghost, exist_ok=True)
    _pairs_df(spark, [("f", "u0", "20070101")]).write.mode("overwrite").parquet(ghost)
    with open(os.path.join(ghost, "_metrics.json"), "w") as f:
        json.dump({"snapshot_id": 0}, f)
    assert store.snapshots() == [2]
    assert _hist(spark, store) == before


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
        delta1, snap1 = convert_incremental(connections, store)
        assert delta1.count() == 3472
        os.remove(os.path.join(snap1.path, "_metrics.json"))
        assert store.snapshots() == []
        delta2, snap2 = convert_incremental(connections, store)
        assert spark.read.parquet(snap2.path).count() == 3472
        delta3, _ = convert_incremental(connections, store)
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
    delta, snap = convert_incremental(pairs, store)
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
