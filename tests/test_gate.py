"""Every gate query and its DuckDB oracle return atomic columns only.

The gate canonicalizes each output cell to a scalar value before it
hashes a table, so an array, map or struct column cannot be compared
(an array-typed column once made a gate row crash instead of match)."""

from pathlib import Path

import duckdb
from pyspark.sql import types as T

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
NESTED = (T.ArrayType, T.MapType, T.StructType)


def test_gate_outputs_are_atomic(spark):
    con = duckdb.connect()
    for f in Path(SF).glob("*.parquet"):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    oracles = entry.oracle_sql()
    bad = []
    for name, fn in entry.queries().items():
        for f in fn(spark, SF).schema.fields:
            if isinstance(f.dataType, NESTED):
                bad.append((name, "spark", f.name, f.dataType.simpleString()))
        rel = con.sql(oracles[name])
        for col, typ in zip(rel.columns, rel.types):
            if typ.id in ("list", "array", "map", "struct", "union"):
                bad.append((name, "oracle", col, str(typ)))
    assert not bad, bad


def test_chi_square_matches_oracle_on_empty_input(spark, tmp_path):
    """An empty contingency grid has no chi2: both engines report NULL
    (the Spark fold once started from 0.0 and reported 0.0)."""
    spark.read.parquet(f"{SF}/documents.parquet").limit(0).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = tuple(entry.queries()["chi_square"](spark, str(tmp_path)).collect()[0])
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.sql(entry.oracle_sql()["chi_square"]).fetchone()
    assert got == want == (None, 1, None, 0, 0)
