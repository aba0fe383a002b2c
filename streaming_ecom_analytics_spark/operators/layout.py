"""Data-layout operators: Z-order (Morton) clustering for multi-column
scan pruning.

A date-partitioned lake (sources/lake.py) prunes on ONE dimension.
When queries also filter on a second and third column (user_id range,
price band), row-group min/max statistics only help if rows with
nearby values sit in the same files. Z-ordering interleaves the bits
of several quantized columns into one sort key, so range-partitioning
by that key co-locates rows that are close in EVERY dimension —
parquet row-group stats then skip most of a 100 TB table for
multi-column point/range predicates (the layout trick behind
Delta/Iceberg OPTIMIZE ZORDER). ``zorder_key`` computes that key; the
registered ``zorder_data_skipping`` report groups rows by its high bits
to measure the skipping a z-ordered write would buy.

Everything is built-in column expressions (shifts, masks, ORs) — no
UDF; the only non-scan work is one scalar min/max aggregate per column
(broadcast back as literals).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    *,
    bits: int = 16,
) -> DataFrame:
    """Append ``__z``: the Morton interleave of the quantized columns.

    Each column is min-max scaled to ``bits``-bit integers using one
    scalar aggregate over the frame (a broadcast 1-row join — no
    per-row Python, no global sort), then bit b of column i lands at
    position b*len(cols)+i of the key. len(cols)*bits must fit a
    signed 64-bit int (≤ 63).
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols × {bits} bits exceeds a 64-bit key")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__min_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__max_{c}") for c in cols],
    )
    with_bounds = df.join(F.broadcast(bounds))
    top = (1 << bits) - 1

    def quantized(c: str) -> Column:
        span = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(f"__min_{c}")) / span).otherwise(
            F.lit(0.0)
        )
        return F.least(F.floor(frac * (top + 1)).cast("long"), F.lit(top))

    def interleave(c: str, i: int) -> Column:
        q = quantized(c)
        return reduce(
            lambda acc, b: acc.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
            ),
            range(bits),
            F.lit(0).cast("long"),
        )

    z = reduce(
        lambda acc, ci: acc.bitwiseOR(interleave(ci[1], ci[0])),
        enumerate(cols),
        F.lit(0).cast("long"),
    )
    return with_bounds.select(*df.columns, z.alias("__z"))

