"""J7 — differential/incremental conversion with resumable checkpoints.

The reference keeps a LevelDB ``history.db`` mapping
uniqueId -> {serviceDate: ...} and emits only (uniqueId, serviceDate)
pairs not seen in prior runs (lib/stoptimes/st2c.js:134-181); ``--fresh``
resets it (lib/stoptimes/StopTimes2Cxs.js:17-27).

Spark-native design (an Iceberg-shaped snapshot log on parquet — the
sandbox has no Iceberg runtime jar, but the layout mirrors Iceberg's
append-only snapshot model). The data files go through Spark, but the
commit markers and listings are plain ``os``/``shutil`` file I/O, so
the store lives on the local filesystem only: a ``file:`` URI or a
scheme-less path under a ``file:`` ``fs.defaultFS``; any other path is
rejected when the store is built.

- ``history/snapshot=N/*.parquet`` — ONLY the pairs first emitted by
  run N (append-only log; loading = union of all snapshots). At 100 TB
  this is the cheap side: each incremental run appends just its delta,
  and the anti-join build side is the full history read once.
- ``history/snapshot=N/_metrics.json`` — per-partition lineage +
  metrics (partition id, row count, key min/max) written beside the
  snapshot, so any partition's provenance is auditable and a resumed
  run can verify what landed without recomputation.

``HistoryStore.emit`` is the one ingest path, and both surfaces
(``job.run`` and ``streaming.process_pages_batch``) call it. It
anti-joins against history, materializes the delta, writes the output,
then ``commit()``s the delta LAST. A run that fails before its commit
leaves no committed snapshot, so its rerun emits the same delta again
instead of losing it.

``differential()`` is a left_anti join on (feed_id, unique_id,
service_date). The history side is keyed the same way the exploded
connections are salted, and AQE handles residual skew.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialize import materialize

PAIR_COLS = ("feed_id", "unique_id", "service_date")


def _local_path(spark: SparkSession, path: str) -> str:
    """``path`` as a local filesystem path: a ``file:`` URI maps to its
    path; a scheme-less path stays as is when ``fs.defaultFS`` (which
    Spark resolves it against) is ``file:``. Anything else raises."""
    uri = urlparse(path)
    if uri.scheme == "file":
        return unquote(uri.path)
    if not uri.scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        if urlparse(default_fs).scheme == "file":
            return path
    raise ValueError(
        f"HistoryStore path {path!r} is not on the local filesystem; "
        "its commit markers use local file I/O"
    )


@dataclass
class SnapshotInfo:
    snapshot_id: int
    path: str
    metrics: dict


class HistoryStore:
    """Parquet-backed append-only history of emitted key tuples —
    (feed_id, unique_id, service_date) for the J7 connection history
    by default; ``key_cols`` generalizes the same snapshot/commit-
    marker protocol to any dedup key (e.g. a document fingerprint for
    cross-batch corpus dedup, datapipe/incremental.py).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...] = PAIR_COLS,
    ):
        self.spark = spark
        self.path = _local_path(spark, path)
        self.key_cols = tuple(key_cols)

    # -- snapshot bookkeeping -------------------------------------------------

    @property
    def _stat_key(self) -> str:
        """Column the per-partition lineage min/max stats range over
        (the 'business key' — unique_id for the connection history,
        the sole key otherwise)."""
        return self.key_cols[1] if len(self.key_cols) > 1 else self.key_cols[0]

    def snapshots(self) -> list[int]:
        """Committed snapshot ids, ascending."""
        if not os.path.isdir(self.path):
            return []
        out = []
        for d in os.listdir(self.path):
            if d.startswith("snapshot="):
                try:
                    sid = int(d.split("=", 1)[1])
                except ValueError:
                    continue  # in-flight/garbage dir, never committed
                # only committed snapshots count (metrics file = commit marker)
                if os.path.exists(os.path.join(self.path, d, "_metrics.json")):
                    out.append(sid)
        return sorted(out)

    def fresh(self) -> None:
        """--fresh semantics: drop all history (StopTimes2Cxs.js:18-21)."""
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)

    def load(self, before_snapshot: int | None = None) -> DataFrame | None:
        """Union of the committed snapshots, optionally only ids <
        ``before_snapshot`` (the streaming replay-determinism bound);
        None when empty."""
        snaps = self.snapshots()
        if before_snapshot is not None:
            snaps = [s for s in snaps if s < before_snapshot]
        paths = [os.path.join(self.path, f"snapshot={s}") for s in snaps]
        if not paths:
            return None
        return self.spark.read.parquet(*paths).select(*self.key_cols)

    # -- the J7 operators ------------------------------------------------------

    def differential(
        self, connections: DataFrame, before_snapshot: int | None = None
    ) -> DataFrame:
        """Emit only connections whose (feed_id, unique_id, service_date)
        is not in history — the reference's per-rule date filter
        (st2c.js:149-164) as one left_anti join.

        ``before_snapshot`` restricts the history side to snapshots
        committed for EARLIER batches: a replayed streaming batch then
        recomputes exactly its original delta even if its own commit
        already landed (exactly-once output, streaming.py)."""
        hist = self.load(before_snapshot)
        if hist is None:
            return connections
        return connections.join(hist, list(self.key_cols), "left_anti")

    def emit(
        self,
        connections: DataFrame,
        write: Callable[[DataFrame], None],
        run_info: dict | None = None,
        snapshot_id: int | None = None,
    ) -> SnapshotInfo:
        """The one ingest path: anti-join ``connections`` against the
        snapshots before ``snapshot_id`` (all of them when it is None),
        materialize the delta once, ``write(delta)``, then commit the
        delta as snapshot ``snapshot_id`` (the next id when None).

        The write and the commit both read the delta; the lineage cut
        keeps either from re-running the conversion and the anti-join.
        Committing last means a run that fails in ``write`` leaves no
        snapshot, so its rerun emits the same delta. A pinned
        ``snapshot_id`` (streaming: the micro-batch id) bounds the
        anti-join and names the commit with the same number, so a
        replayed batch rewrites its original delta and snapshot."""
        delta = materialize(self.differential(connections, before_snapshot=snapshot_id))
        write(delta)
        return self.commit(delta, run_info, snapshot_id)

    def commit(
        self,
        new_pairs: DataFrame,
        run_info: dict | None = None,
        snapshot_id: int | None = None,
    ) -> SnapshotInfo:
        """Append this run's newly-emitted pairs as the next snapshot,
        with per-partition lineage metrics beside the data. The metrics
        file doubles as the commit marker: a killed run leaves an
        uncommitted (ignored) directory, so resume never double-counts.

        An explicit ``snapshot_id`` (streaming: the micro-batch id) makes
        the commit IDEMPOTENT — a replayed batch overwrites its own
        snapshot with identical content instead of appending a new one."""
        if snapshot_id is None:
            snaps = self.snapshots()
            sid = snaps[-1] + 1 if snaps else 0
        else:
            sid = snapshot_id
        snap_dir = os.path.join(self.path, f"snapshot={sid}")
        pairs = new_pairs.select(*self.key_cols).distinct()
        pairs.write.mode("overwrite").parquet(snap_dir)

        part_stats = (
            self.spark.read.parquet(snap_dir)
            .withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min(self._stat_key).alias("min_key"),
                F.max(self._stat_key).alias("max_key"),
                F.countDistinct(self.key_cols[0]).alias("n_feeds"),
            )
            .collect()
        )
        metrics = {
            "snapshot_id": sid,
            "committed_at_unix": time.time(),
            "total_rows": int(sum(r["rows"] for r in part_stats)),
            "partitions": [
                {
                    "partition_id": int(r["_pid"]),
                    "rows": int(r["rows"]),
                    "min_key": r["min_key"],
                    "max_key": r["max_key"],
                    "n_feeds": int(r["n_feeds"]),
                }
                for r in sorted(part_stats, key=lambda r: r["_pid"])
            ],
            "run_info": run_info or {},
        }
        with open(os.path.join(snap_dir, "_metrics.json"), "w") as f:
            json.dump(metrics, f, indent=1)
        return SnapshotInfo(sid, snap_dir, metrics)
