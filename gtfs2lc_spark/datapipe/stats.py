"""Statistical tests and fits as DataFrame algebra.

Two determinism disciplines are used so results are engine-exact (the
correctness gate value-hashes them against DuckDB):

- ``chi_square``: all inputs are COUNTS (exact integers); every
  derived quantity is a fixed expression tree over those integers, so
  IEEE double arithmetic is bit-identical in any engine; one final
  6-dp round.
- ``group_regression``: the sufficient statistics (Σx, Σy, Σxy, Σx²)
  are accumulated over QUANTIZED INTEGER values in exact arithmetic
  (decimal(38,0) here, HUGEINT in the DuckDB oracle) — exact sums are
  engine-identical regardless of reduction order (a double sum would
  drift by ulps across partitionings, and the slope formula's
  catastrophic cancellation amplifies exactly that drift). The closed
  form is then evaluated in double from the exact sums — identical
  expression tree over identical inputs is bit-identical.

gtfs2lc parity note: the reference computes no statistics (SURVEY.md
§2); these belong to the corpus-analytics layer of the graft.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["chi_square", "group_regression", "profile_table"]


def chi_square(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the "is my corpus mix confounded" check (is language
    independent of source? is event type independent of A/B arm?).

    One map-side-combinable count over (row, col) builds the observed
    contingency table; the FULL |rows| x |cols| grid is then densified
    from the marginal tables (cross join of two tiny dimension frames)
    so ZERO-observed cells contribute their (0 - e)²/e term — omitting
    them understates the statistic for sparse tables (a perfectly
    dependent diagonal table would otherwise report half its true
    chi2). chi2 = Σ (observed - expected)² / expected with
    expected = row_total * col_total / n; the row_total*col_total
    product is taken in DOUBLE (long·long would overflow at 10¹²-row
    corpora; the expression tree is identical in the oracle, so
    determinism is unaffected). NULL categories are excluded.

    Output: ONE row ``(chi2, dof, n, n_rows, n_cols)`` — chi2 rounded
    6 dp (NULL on an empty grid, like the oracle's SQL sum over no
    terms), dof = (|rows|-1)(|cols|-1). P-values need the chi-square CDF
    (no closed form; engines disagree in the last ulps), so the
    statistic + dof are the contract — compare against the caller's
    critical value.
    """
    cells = (
        df.where(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .select(F.col(row_col).alias("_r"), F.col(col_col).alias("_c"))
        .groupBy("_r", "_c")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    rt = cells.groupBy("_r").agg(F.sum("_o").alias("_rt"))
    ct = cells.groupBy("_c").agg(F.sum("_o").alias("_ct"))
    nn = cells.agg(F.sum("_o").alias("_n"))
    grid = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(nn))
        .join(cells, ["_r", "_c"], "left")
        .withColumn("_o", F.coalesce("_o", F.lit(0)))
    )
    exp = F.col("_rt").cast("double") * F.col("_ct") / F.col("_n")
    term = (F.col("_o") - exp) * (F.col("_o") - exp) / exp
    # the final reduction over cell terms is a DOUBLE sum — the grid
    # is tiny, but reduction order must still be pinned: sort terms
    # into one canonical order via a deterministic single-row
    # aggregate over the sorted array
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("_r"), F.col("_c"), term.alias("_t")))
    )
    folded = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + x["_t"]
    )
    return grid.groupBy().agg(
        F.when(F.count(F.lit(1)) > 0, F.round(folded, 6)).alias("chi2"),
        (
            (F.count_distinct("_r") - 1) * (F.count_distinct("_c") - 1)
        ).cast("long").alias("dof"),
        F.max("_n").alias("n"),
        F.count_distinct("_r").cast("long").alias("n_rows"),
        F.count_distinct("_c").cast("long").alias("n_cols"),
    )


def group_regression(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    x_scale: int = 6,
    y_scale: int = 6,
) -> DataFrame:
    """Per-group simple OLS fit ``y = slope * x + intercept`` via
    DECIMAL-EXACT sufficient statistics — trend extraction per segment
    (metric drift per event type, length inflation per source) as one
    map-side-combinable aggregation.

    Why exact sums: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    subtracts near-equal large products, so the ulp-level drift of
    ORDER-DEPENDENT double sums is amplified catastrophically and
    would break cross-engine exactness. x and y are quantized to
    ``x_scale``/``y_scale`` decimal digits as integers
    (``round(v·10^s)`` — both engines evaluate the identical double
    expression on identical bits), then summed in exact integer
    arithmetic: decimal(38,0) here, HUGEINT in a DuckDB oracle —
    identical under ANY partitioning/reduction order. The closed form
    is evaluated in double from the exact sums (slope/intercept come
    out in the ORIGINAL units — the quantization scales cancel via
    ``10^y_scale / 10^x_scale``), rounded 6 dp. Cancellation still
    bounds ACCURACY — center x near zero for well-conditioned fits
    (e.g. epoch seconds minus the corpus start).

    Degenerate groups (n < 2 or zero x-variance) are dropped.
    Output: ``(group, n, slope, intercept)``.
    """
    big = "decimal(38,0)"
    xq = F.round(F.col(x_col).cast("double") * F.lit(float(10 ** x_scale))).cast(big)
    yq = F.round(F.col(y_col).cast("double") * F.lit(float(10 ** y_scale))).cast(big)
    s = (
        df.select(F.col(group_col).alias("group"), xq.alias("_x"), yq.alias("_y"))
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    den = n * sxx - sx * sx
    slope_q = (n * sxy - sx * sy) / den  # in (y-quantum / x-quantum) units
    unscale = F.lit(float(10 ** x_scale) / float(10 ** y_scale))
    slope = slope_q * unscale
    intercept = (sy - slope_q * sx) / n / F.lit(float(10 ** y_scale))
    return (
        s.where((F.col("n") >= 2) & (den != 0))
        .select(
            "group",
            "n",
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
        )
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-quality profile: one row per column with row/null/distinct
    counts and the null fraction — the ingest sanity check before any
    pipeline stage trusts a new corpus drop (a column that silently
    went 90% NULL is the classic upstream-schema-drift symptom).

    ONE pass over the data: every per-column count/count_distinct is
    an aggregate in a single ``agg`` (Spark plans the distincts via
    one expand — row multiplier = |columns|, the standard exact-
    multi-distinct cost; for 1e12-row tables swap count_distinct for
    approx_count_distinct and accept the HLL error); the wide 1-row
    result unpivots to per-column rows via ``stack`` (driver-free).

    Output: ``(col_name, n_rows, n_nulls, n_distinct, null_frac)``,
    null_frac rounded 6 dp.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("profile_table needs at least one column")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        # df[c] resolves the name against the schema literally (a name
        # containing '.' or '`' is a column reference, never a path)
        aggs.append(F.count(df[c]).alias(f"_nn{i}"))
        aggs.append(F.count_distinct(df[c]).alias(f"_nd{i}"))
    row = df.agg(*aggs)
    # typed Column expressions, not a selectExpr string (ADVICE r5 #4):
    # a column name containing a quote/backtick must become a literal
    # cell, never interpolated SQL
    stack_cols: list = []
    for i, c in enumerate(cols):
        stack_cols += [F.lit(c), F.col(f"_nn{i}"), F.col(f"_nd{i}")]
    return (
        row.select(
            "_n",
            F.stack(F.lit(len(cols)), *stack_cols).alias(
                "col_name", "_nn", "n_distinct"
            ),
        )
        .select(
            "col_name",
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col("_nn")).alias("n_nulls"),
            "n_distinct",
            F.round((F.col("_n") - F.col("_nn")) / F.col("_n"), 6).alias(
                "null_frac"
            ),
        )
    )
