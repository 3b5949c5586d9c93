"""Cross-batch incremental corpus deduplication.

The 100-TB reality: the corpus is not ingested once — every crawl
batch must be deduplicated against the 10^12 documents already
accepted, WITHOUT rescanning them. The connection pipeline solved the
identical problem for (feed, uniqueId, date) pairs with the J7 history
anti-join (checkpoint.HistoryStore: snapshot dirs, metrics-as-commit-
marker); this module
instantiates that machinery for document fingerprints, so a new batch
pays one fingerprint scan of ITSELF plus an anti-join whose build side
is the fingerprint history — never a rescan of the corpus bodies.

Reference analogy: gtfs2lc's own incremental mode deduplicates each
run against LevelDB history (lib/stoptimes2connections/
StopTimes2Cxs.js:149-164); here the same semantics cover corpus
ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..checkpoint import HistoryStore, SnapshotInfo
from .text import fingerprint

FP_COLS = ("fp",)


class CorpusDedupStore(HistoryStore):
    """Fingerprint history store: same parquet-snapshot + commit-marker
    protocol as the connection history, keyed on the single ``fp``
    column."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path, key_cols=FP_COLS)


def dedupe_batch(
    docs: DataFrame,
    store: CorpusDedupStore,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents of ``docs`` that survive BOTH dedup stages:

    1. within-batch: smallest ``id_col`` per fingerprint wins
       (deterministic);
    2. cross-batch: fingerprints already in the history store lose
       (one ``left_anti`` join — the store side is the skinny
       fingerprint table, not the corpus).

    Returns the surviving rows with their ``fp`` column attached —
    exactly what :func:`commit_batch` appends to the store. Pure plan
    (no side effects): callers control when the store advances.
    """
    with_fp = docs.withColumn("fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(id_col)
    batch_winners = (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return store.differential(batch_winners)


def commit_batch(
    survivors: DataFrame,
    store: CorpusDedupStore,
    snapshot_id: int | None = None,
) -> SnapshotInfo:
    """Append the batch's surviving fingerprints as the next snapshot
    (idempotent when ``snapshot_id`` is pinned to the batch id —
    replays overwrite their own snapshot)."""
    return store.commit(survivors.select("fp"), snapshot_id=snapshot_id)
