"""Explicit skew handling: salted two-phase aggregation and a key-skew
profiler.

The pipeline already salts its one known hot spot (the J6 service-day
explode repartitions on a salted key, pipeline.py); these helpers make
the same technique available for ad-hoc corpus work where AQE's
runtime skew splitting doesn't apply (aggregations — AQE skew handling
only splits JOIN partitions) or where the skew is known ahead of time
and one wants the plan pinned rather than runtime-dependent.

gtfs2lc parity note: the reference is single-process and never
partitions (SURVEY.md §4); skew is purely a distributed-engine concern
introduced by this port's target scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 32,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys: phase 1 aggregates
    on (keys..., salt) — a hot key's rows spread over ``n_salts``
    reducers — phase 2 combines the per-salt partials on the true keys
    (now at most ``n_salts`` rows per key).

    ``aggs`` maps output column -> (function, input column) with the
    decomposable functions whose partial/final combine is known:
    ``count`` (finalizes as sum), ``sum``, ``min``, ``max``.
    Non-decomposable aggregates (avg, distinct counts) must be
    rewritten by the caller (avg = sum/count; distinct -> two-step).

    NOTE Spark's hash aggregation already does map-side partials, so
    plain groupBy is usually fine; salting matters when per-key state
    is large (collect_list-like), when a single reducer key dominates
    a stage, or when the partial-agg reduction ratio is poor. This
    operator exists so the choice is explicit and testable.
    """
    _FINAL = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    for out, (fn, _col) in aggs.items():
        if fn not in _FINAL:
            raise ValueError(
                f"{out}: '{fn}' is not decomposable here; supported: {sorted(_FINAL)}"
            )
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()),
                  F.lit(int(n_salts))).alias("_salt")
    in_cols = [c for c in dict.fromkeys(c for _, c in aggs.values()) if c not in keys]
    phase1 = (
        df.select(*keys, salt, *in_cols)
        .groupBy(*keys, "_salt")
        .agg(*[getattr(F, fn)(c).alias(out) for out, (fn, c) in aggs.items()])
    )
    return (
        phase1.groupBy(*keys)
        .agg(*[
            getattr(F, _FINAL[fn])(out).cast("long").alias(out)
            if fn == "count"
            else getattr(F, _FINAL[fn])(out).alias(out)
            for out, (fn, _c) in aggs.items()
        ])
    )


def key_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Join/agg-key distribution profiler — the measurement that decides
    whether a key needs :func:`salted_agg` BEFORE the straggler burns
    an hour at 100 TB. One map-side-combinable
    count per key (the shuffle carries one row per DISTINCT key), a
    1-row broadcast total, and a TOP-N pick that compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort
    exchange); the cumulative share is a window over the N returned
    rows only.

    Output: (rank, key [stringified], n_rows, share, cum_share) for
    the ``top_n`` hottest keys — ``share`` near 1/parallelism means
    one task will own that key's whole partition; that is the salt
    signal.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("_total"))
    top = (
        counts.orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(int(top_n))
        .crossJoin(F.broadcast(total))
    )
    w = (
        Window.orderBy(F.desc("n_rows"), F.asc("key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n_rows"), F.asc("key")))
        .cast("long")
        .alias("rank"),
        "key",
        "n_rows",
        F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
        F.round(F.sum("n_rows").over(w) / F.col("_total"), 6).alias("cum_share"),
    )
