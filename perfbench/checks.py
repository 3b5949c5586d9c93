"""Output checks, run with DuckDB on what ``job.run`` left on disk.

Each check returns a list of failure messages (empty = pass). The
expected values come from the workload shape and from the DuckDB oracle
in ``gtfs2lc_spark.oracle``, never from the Spark engine under test.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os

import duckdb

from gtfs2lc_spark import oracle
from gtfs2lc_spark.fixtures import SAMPLE_FEED_CONNECTIONS

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table_hash():
    """The gate's canonical order-insensitive hash
    (scripts/check_correctness.py:table_hash)."""
    path = os.path.join(_ROOT, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


class Oracle:
    """Expected values from the DuckDB oracle; a workload asks only for
    the one its checks use."""

    def __init__(self, sorted_lines: bool):
        self.table_hash = _table_hash()
        # two threads: this runs beside the Spark session's start-up
        con = duckdb.connect(config={"threads": 2})
        try:
            con.execute("SET enable_progress_bar = false")
            if sorted_lines:
                self.sorted_lines_per_feed = con.execute(
                    f"SELECT count(*) FROM ({oracle.sql_join_and_sort()})").fetchone()[0]
            else:
                rows = con.execute(oracle.sql_triples()).fetchall()
                self.sample_triples_hash = self.table_hash(rows, ["subj", "pred", "obj"])
        finally:
            con.close()


def check_triples(out_dir: str, expected_rows: int, orc: Oracle) -> tuple[int, list[str]]:
    """triples-parquet output: total row count, zero rows from noise or
    near-miss pages, and the untouched sample feed (the only subjects
    without the '-' of a feed prefix) hash-equal to ``sql_triples()``."""
    errs = []
    src = f"read_parquet('{out_dir}/*.parquet')"
    con = duckdb.connect()
    try:
        n, leaked = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE subj LIKE '%NEARMISS%' "
            f"OR obj LIKE '%NEARMISS%' OR obj LIKE '%NMSTOP%') FROM {src}"
        ).fetchone()
        sample = con.execute(f"SELECT subj, pred, obj FROM {src} WHERE subj NOT LIKE '%-%'").fetchall()
    finally:
        con.close()
    if n != expected_rows:
        errs.append(f"triples {n} != expected {expected_rows}")
    if leaked:
        errs.append(f"{leaked} triples from near-miss pages")
    if orc.table_hash(sample, ["subj", "pred", "obj"]) != orc.sample_triples_hash:
        errs.append(f"sample feed triples ({len(sample)} rows) differ from oracle.sql_triples()")
    return n, errs


def check_history(out_dir: str, snapshot_dir: str, new_feeds: int, orc: Oracle) -> tuple[int, list[str]]:
    """jsonld + join-and-sort output of a crawl into a history store: one
    line per merged connection of each feed not yet in the history, and
    a committed snapshot holding exactly that delta."""
    errs = []
    n = 0
    for part in glob.glob(os.path.join(out_dir, "part-*")):
        with open(part, "rb") as f:
            n += sum(1 for _ in f)
    want = new_feeds * orc.sorted_lines_per_feed
    if n != want:
        errs.append(f"jsonld lines {n} != {new_feeds} new feeds x {orc.sorted_lines_per_feed}")
    metrics_path = os.path.join(snapshot_dir, "_metrics.json")
    if not os.path.exists(metrics_path):
        errs.append(f"no committed snapshot at {snapshot_dir}")
    else:
        with open(metrics_path) as f:
            total = json.load(f)["total_rows"]
        if total != new_feeds * SAMPLE_FEED_CONNECTIONS:
            errs.append(f"snapshot total_rows {total} != delta {new_feeds * SAMPLE_FEED_CONNECTIONS}")
    return n, errs
