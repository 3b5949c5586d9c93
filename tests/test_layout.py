"""Physical layout: the Z-order key (layout.py)."""

from __future__ import annotations


def test_zorder_key_bit_interleave(spark):
    from pyspark.sql import functions as F

    from gtfs2lc_spark import layout

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = [
        r["z"]
        for r in df.select(
            layout.zorder_key([F.col("x"), F.col("y")], bits=16).alias("z")
        ).collect()
    ]

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [morton(x, y) for x, y in rows]
