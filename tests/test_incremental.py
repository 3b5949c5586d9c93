"""Cross-batch incremental corpus dedup (datapipe/incremental.py) on
the generalized single-key HistoryStore."""

from __future__ import annotations

from gtfs2lc_spark.datapipe import incremental


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_incremental_dedupe_two_batches(spark, tmp_path):
    store = incremental.CorpusDedupStore(spark, str(tmp_path / "store"))
    b1 = _docs(spark, [(1, "alpha text"), (2, "beta text"), (3, "Alpha   TEXT ")])
    s1 = incremental.dedupe_batch(b1, store)
    # within-batch: doc 3 normalizes to doc 1's fingerprint -> min id wins
    assert {r["doc_id"] for r in s1.collect()} == {1, 2}
    incremental.commit_batch(s1, store, snapshot_id=0)

    b2 = _docs(
        spark,
        [
            (10, "beta text"),       # dup of history -> dropped
            (11, "gamma text"),      # new -> survives
            (12, "gamma  text"),     # within-batch dup of 11 -> dropped
            (13, "delta text"),      # new -> survives
        ],
    )
    s2 = incremental.dedupe_batch(b2, store)
    assert {r["doc_id"] for r in s2.collect()} == {11, 13}
    incremental.commit_batch(s2, store, snapshot_id=1)
    # within-batch twins (docs 3 and 12) commit their fingerprint once
    fps = store.load()
    assert fps.count() == fps.distinct().count() == 4

    # a third batch sees BOTH prior batches' fingerprints
    b3 = _docs(spark, [(20, "alpha text"), (21, "delta text"), (22, "epsilon")])
    assert {
        r["doc_id"] for r in incremental.dedupe_batch(b3, store).collect()
    } == {22}


def test_incremental_replay_determinism(spark, tmp_path):
    """A replayed batch commit pinned to its batch id overwrites its own
    snapshot: the store holds each fingerprint once, and the landed
    commit hides the whole batch from a later dedupe."""
    store = incremental.CorpusDedupStore(spark, str(tmp_path / "store"))
    b0 = _docs(spark, [(1, "one"), (2, "two")])
    incremental.commit_batch(incremental.dedupe_batch(b0, store), store, snapshot_id=0)

    b1 = _docs(spark, [(10, "two"), (11, "three")])
    survivors = incremental.dedupe_batch(b1, store).localCheckpoint()
    assert {r["doc_id"] for r in survivors.collect()} == {11}
    for _ in range(2):  # the batch, then its replay
        incremental.commit_batch(survivors, store, snapshot_id=1)
    assert store.snapshots() == [0, 1]
    # the store writes the survivors' fingerprints as is: unique
    fps = store.load()
    assert fps.count() == fps.distinct().count() == 3
    assert incremental.dedupe_batch(b1, store).count() == 0


def test_fp_store_load_schema(spark, tmp_path):
    store = incremental.CorpusDedupStore(spark, str(tmp_path / "store"))
    for sid, txt in enumerate(["a", "b", "c"]):
        incremental.commit_batch(
            incremental.dedupe_batch(_docs(spark, [(sid, txt)]), store),
            store,
            snapshot_id=sid,
        )
    hist = store.load()
    assert hist.columns == ["fp"]
    assert hist.count() == 3

