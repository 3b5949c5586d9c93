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
- ``history/snapshot=N/_metrics.json`` — per-partition lineage: per
  data file, its partition id, name, row count and key min/max, read
  on the driver from the footer just written (as Iceberg takes a data
  file's stats at write time), so any file's provenance is auditable
  without recomputation.

``HistoryStore.emit`` is the one ingest path, and both surfaces
(``job.run`` and ``streaming.process_pages_batch``) call it. It
anti-joins against history and materializes the delta, then writes the
output and stages the snapshot (its data and lineage stats) on two
driver threads, and writes the commit marker LAST, once both have
succeeded. A run that fails before the marker leaves no committed
snapshot, so its rerun emits the same delta again instead of losing it.

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

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .materialize import concurrently, materialize

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
        """Column whose footer min/max each file's lineage entry
        records (the 'business key' — unique_id for the connection
        history, the sole key otherwise)."""
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
        schema = ", ".join(f"`{c}` string" for c in self.key_cols)
        return self.spark.read.schema(schema).parquet(*paths)

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
        snapshots before ``snapshot_id`` (all of them when it is None)
        and materialize the delta once; then ``write(delta)`` and stage
        the delta as snapshot ``snapshot_id`` (the next id when None)
        ``concurrently``; then, once both have succeeded, write the
        snapshot's commit marker.

        The write and the staging both read the delta; the lineage cut
        keeps either from re-running the conversion and the anti-join.
        Marking last means a run that fails in ``write`` or in the
        staging leaves no committed snapshot, so its rerun emits the
        same delta and overwrites the staged directory. A pinned
        ``snapshot_id`` (streaming: the micro-batch id) bounds the
        anti-join and names the commit with the same number, so a
        replayed batch rewrites its original delta and snapshot.

        A replayed batch whose snapshot N had been committed loses N's
        marker as soon as the staging overwrites ``snapshot=N``, which
        can be before its output write ends. If that write then fails,
        N is uncommitted again; the next replay recomputes the same
        delta against the snapshots < N and commits it. A crash inside
        ``commit`` leaves the same state."""
        delta = materialize(self.differential(connections, before_snapshot=snapshot_id))
        sid = self._snapshot_id(snapshot_id)
        _, part_stats = concurrently(lambda: write(delta), lambda: self._stage(delta, sid))
        return self._mark(sid, part_stats, run_info)

    def commit(
        self,
        new_pairs: DataFrame,
        run_info: dict | None = None,
        snapshot_id: int | None = None,
    ) -> SnapshotInfo:
        """Append this run's newly-emitted pairs as the next snapshot,
        with per-file lineage from its footers beside the data. The metrics
        file doubles as the commit marker: a killed run leaves an
        uncommitted (ignored) directory, so resume never double-counts.

        An explicit ``snapshot_id`` (streaming: the micro-batch id) makes
        the commit IDEMPOTENT — a replayed batch overwrites its own
        snapshot with identical content instead of appending a new one."""
        sid = self._snapshot_id(snapshot_id)
        return self._mark(sid, self._stage(new_pairs, sid), run_info)

    def _snapshot_id(self, snapshot_id: int | None) -> int:
        if snapshot_id is not None:
            return snapshot_id
        snaps = self.snapshots()
        return snaps[-1] + 1 if snaps else 0

    def _snap_dir(self, sid: int) -> str:
        return os.path.join(self.path, f"snapshot={sid}")

    def _stage(self, new_pairs: DataFrame, sid: int) -> list[dict]:
        """Write snapshot ``sid``'s data (overwriting any staged or
        committed copy) in one Spark job, as is: both callers' pairs are
        unique on ``key_cols`` (J7, ``dedupe_batch``). Return one lineage
        entry per non-empty ``part-*`` file, read from its footer."""
        snap_dir = self._snap_dir(sid)
        new_pairs.select(*self.key_cols).write.mode("overwrite").parquet(snap_dir)
        col = self.key_cols.index(self._stat_key)
        stats = []
        for f in os.listdir(snap_dir):
            meta = pq.read_metadata(os.path.join(snap_dir, f)) if f.startswith("part-") else None
            if meta is None or not meta.num_rows:
                continue
            groups = [meta.row_group(g).column(col).statistics for g in range(meta.num_row_groups)]
            keys = [k for s in groups if s is not None and s.has_min_max for k in (s.min, s.max)]
            stats.append({
                "partition_id": int(f.split("-")[1]),
                "file": f,
                "rows": meta.num_rows,
                "min_key": min(keys, default=None),
                "max_key": max(keys, default=None),
            })
        return sorted(stats, key=lambda p: p["partition_id"])

    def _mark(self, sid: int, files: list[dict], run_info: dict | None) -> SnapshotInfo:
        """Commit the staged snapshot ``sid``: write its ``_metrics.json``."""
        snap_dir = self._snap_dir(sid)
        metrics = {
            "snapshot_id": sid,
            "committed_at_unix": time.time(),
            "total_rows": sum(f["rows"] for f in files),
            "partitions": files,
            "run_info": run_info or {},
        }
        with open(os.path.join(snap_dir, "_metrics.json"), "w") as f:
            json.dump(metrics, f, indent=1)
        return SnapshotInfo(sid, snap_dir, metrics)
