"""Physical data layout: the Z-order (Morton) clustering key."""

from __future__ import annotations


def zorder_key(cols: list, bits: int = 16):
    """Morton (Z-order) interleave of 2+ non-negative integer columns
    into one clustering key: bit i of column j lands at position
    ``i * len(cols) + j``. Writing the table range-partitioned and
    sorted by this key gives EVERY interleaved dimension locality at
    once, so parquet min/max footer stats skip files for a predicate
    on ANY of the dimensions — the multi-column data-skipping layout
    (Delta/Iceberg OPTIMIZE ZORDER's core idea) with nothing but
    public Spark APIs.

    Inputs must already be non-negative ints scaled into ``bits`` bits
    (callers clamp/quantize: ranks, epoch-days, grid cells). The
    ``bits * len(cols)`` shift/mask terms unroll at plan-build time
    into one codegen'd sum — no UDF, no higher-order function,
    engine-portable (the gate oracle reproduces the same arithmetic).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns")
    if bits * n > 63:
        raise ValueError(f"bits*len(cols) = {bits * n} exceeds a signed long")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        for i in range(bits):
            key = key + F.shiftleft(
                F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)), i * n + j
            )
    return key
