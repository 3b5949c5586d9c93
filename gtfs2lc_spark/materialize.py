"""Lineage cut for multi-consumer intermediates.

Several operators materialize an intermediate DataFrame that is read by
multiple downstream plan branches or jobs (the detected-pages staging,
the J7 delta, the J8/J9 merged movement set, streaming batch staging).
``materialize()`` computes it once and returns a DataFrame whose plan
scans the materialized copy, so no downstream branch re-runs the
upstream work (for extract_entities: no ArrowEvalPython re-execution).
One Spark conf, read at each call, picks how the copy is stored:

  spark.gtfs2lc.materialize = local     (default) localCheckpoint: blocks
                                        in executor storage; losing an
                                        executor fails the job
  spark.gtfs2lc.materialize = reliable  RDD checkpoint to the checkpoint
                                        dir (sparkContext.setCheckpointDir
                                        on HDFS/S3/shared storage);
                                        survives executor loss

Neither is a resume point: a rerun recomputes its intermediates, and
resumability lives in ``checkpoint.HistoryStore``'s snapshot log and
the stream checkpoint. Reliable checkpoint files are deleted by Spark's
ContextCleaner once the DataFrame is garbage collected
(``build_session`` sets ``spark.cleaner.referenceTracking
.cleanCheckpoints``); local checkpoint blocks die with the session.

``concurrently()`` runs independent branches of one call (two
materializations, or a write beside a snapshot staging) on their own
driver threads, so the driver-side work of one overlaps the Spark jobs
of the other.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

CONF_KEY = "spark.gtfs2lc.materialize"

_VALID = ("local", "reliable")


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` with the session-configured strategy
    and return a DataFrame whose lineage starts at the materialized
    copy."""
    spark = df.sparkSession
    strategy = spark.conf.get(CONF_KEY, "local")
    if strategy == "local":
        return df.localCheckpoint(eager=True)
    if strategy == "reliable":
        if spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "materialize strategy 'reliable' needs "
                "sparkContext.setCheckpointDir(<shared storage>)"
            )
        return df.checkpoint(eager=True)
    raise ValueError(f"{CONF_KEY}={strategy!r}; expected one of {_VALID}")


def concurrently(*thunks: Callable[[], Any]) -> list[Any]:
    """Run each thunk on its own driver thread and return their results
    in argument order. Every thunk has finished before this returns or
    raises; a failure is re-raised after that (the first in argument
    order when several fail).

    The threads inherit the caller's Spark local properties (job group,
    scheduler pool, a streaming query's ids), so their jobs count and
    cancel with the caller's."""
    spark = SparkSession.active()
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]
