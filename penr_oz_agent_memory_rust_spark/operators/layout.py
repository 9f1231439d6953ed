"""Multi-dimensional data layout: Z-order (Morton) clustering (★).

The 100 TB story: parquet data skipping works off per-file/row-group
min-max statistics, which only prune on the SORT column. A table queried
by TWO dimensions (ship date AND part, time AND user, …) keeps tight
ranges on neither if sorted by either alone. Interleaving the bits of
both keys into one Morton code and range-partitioning + sorting by it
gives every file a small rectangle in (dim1, dim2) space — both
predicates prune — which is exactly what Delta/Iceberg `OPTIMIZE ZORDER`
does; here it is plain columns + a sorted write, no table format needed.

The Morton code is pure integer bit math (shift/and/or), evaluated
inside whole-stage codegen and portable to the SQL oracle, so the
transform itself is oracle-checkable; the layout effect (files pruned) is
quantified in PLANS.md "Z-order layout probe".
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def zorder_value(c1: Column, c2: Column, bits: int = 16) -> Column:
    """Morton code: interleave the low `bits` bits of two non-negative
    integer columns (c1 at even positions, c2 at odd). Bit i of c1 lands
    at 2i, bit i of c2 at 2i+1 — the standard 2-D Z-curve. Inputs are
    masked to `bits` bits first, so out-of-range values wrap rather than
    collide across dimensions."""
    m = (1 << bits) - 1
    a = c1.cast("bigint").bitwiseAND(F.lit(m))
    b = c2.cast("bigint").bitwiseAND(F.lit(m))
    terms = []
    for i in range(bits):
        bit_a = F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        bit_b = F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        terms.append(bit_a)
        terms.append(bit_b)
    return reduce(lambda x, y: x.bitwiseOR(y), terms).alias("zval")


def write_zordered(
    df: DataFrame,
    path: str,
    c1: str,
    c2: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Rewrite `df` clustered on the Z-curve of (c1, c2): range-partition
    by the Morton code into `n_files` splits, sort within each, write.
    Each output file then covers a compact rectangle of the key space, so
    min-max stats prune on BOTH columns. One shuffle (the range
    exchange); the helper column is dropped before the write."""
    z = zorder_value(F.col(c1), F.col(c2), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
