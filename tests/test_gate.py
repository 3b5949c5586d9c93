"""Every gate query and its DuckDB oracle return atomic columns only.

The gate canonicalizes each output cell to a scalar value before it
hashes a table, so an array, map or struct column cannot be compared
(an array-typed column once made a gate row crash instead of match)."""

from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F
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


def _cells(rows):
    """Rows as sorted tuples of strings, floats to 6 significant digits
    (the gate's cell canonicalization)."""
    def norm(v):
        if v is None:
            return "\x00NULL"
        return f"{v:.6g}" if isinstance(v, float) else str(v)

    return sorted(tuple(norm(v) for v in r) for r in rows)


@pytest.mark.parametrize("query, table, nulls", [
    ("assoc_rules", "events", {"user_id": 7, "event_type": 11}),
    ("winsorized_lengths", "documents", {"n_chars": 9}),
])
def test_null_bearing_input_matches_oracle(spark, tmp_path, query, table, nulls):
    """NULL baskets, items and metric values are excluded the same way
    by both engines (the gate tables hold no NULLs in these columns)."""
    df = spark.read.parquet(f"{SF}/{table}.parquet")
    key = df.columns[0]  # event_id / doc_id
    for col, every in nulls.items():
        df = df.withColumn(col, F.when(F.col(key) % every != 0, F.col(col)))
    df.write.parquet(str(tmp_path / f"{table}.parquet"))
    got = entry.queries()[query](spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{tmp_path}/{table}.parquet/*.parquet')"
    )
    rel = con.execute(entry.oracle_sql()[query])
    cols = [d[0] for d in rel.description]
    want = rel.fetchall()
    assert sorted(got.columns) == sorted(cols)
    assert _cells(got.select(*cols).collect()) == _cells(want)
