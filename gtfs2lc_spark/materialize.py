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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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
