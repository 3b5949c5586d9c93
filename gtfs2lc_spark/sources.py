"""Sources: load GTFS entity tables from places other than web pages.

The reference's primary input is an extracted GTFS feed directory of
CSV files (bin/gtfs2lc.js <path>); ``read_gtfs_dir`` is that mode —
a user of the reference can point this engine at the same directory.
Missing optional files (calendar/calendar_dates) become empty
DataFrames, matching lib/stores/StoreManager.js:56,72-75.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import GTFS_FILE_COLS, _string_struct

REQUIRED_FILES = ("stop_times.txt", "trips.txt", "routes.txt", "stops.txt")


def read_gtfs_dir(
    spark: SparkSession, path: str, feed_id: str | None = None
) -> dict[str, DataFrame]:
    """GTFS feed directory -> {entity: all-string DataFrame + lineage}.

    Header-driven (columns selected by name, missing -> ''), values kept
    as strings — the reference's schema-on-read contract (SURVEY §1.1).
    Raises FileNotFoundError for missing required files, mirroring the
    cleaner's validation (bin/gtfs2lc-clean.js:11-16).
    """
    feed_id = feed_id or os.path.basename(os.path.normpath(path))
    out: dict[str, DataFrame] = {}
    for fname, cols in GTFS_FILE_COLS.items():
        fpath = os.path.join(path, fname)
        name = fname.removesuffix(".txt")
        if not os.path.exists(fpath):
            if fname in REQUIRED_FILES:
                raise FileNotFoundError(f"required GTFS file missing: {fpath}")
            out[name] = spark.createDataFrame(
                [], _string_struct(*cols, "feed_id", "url").add("_line", "long")
            )
            continue
        raw = (
            spark.read.option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(fpath)
        )
        sel = [
            (F.coalesce(F.col(c), F.lit("")) if c in raw.columns else F.lit("")).alias(c)
            for c in cols
        ]
        out[name] = raw.select(
            *sel,
            F.lit(feed_id).alias("feed_id"),
            F.lit(f"file://{fpath}").alias("url"),
            # file-order lineage for last-row-wins dimension dedup
            # (LevelDB put semantics); monotonically_increasing_id is
            # file-ordered within each split — exact for the
            # single-split files GTFS dirs are in practice
            F.monotonically_increasing_id().alias("_line"),
        )
    return out
