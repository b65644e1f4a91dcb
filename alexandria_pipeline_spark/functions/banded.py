"""Global running sums without a single-partition window.

A rank or cumulative sum over a whole table is, written naively, a
window with an empty partition spec: Spark moves every row into one
task to sort it. The reference recovers its global order the same way
at the shard level (sort the shard ids, re-chunk: join.py:5-23,
process.py:33). Here the order is split into BANDS instead:

  1. one `groupBy(*by, band)` aggregate gives each band's totals;
  2. an exclusive running sum over those band rows, partitioned by
     `by`, gives each band's offset;
  3. the running sum within each band is a window partitioned by
     (`by`, band), computed before the offsets are broadcast-joined
     back (window first keeps the band exchange the only fact-sized
     one).

The only unpartitioned window left runs over band rows, so its size is
the band count, not the row count.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def running_sums(
    df: DataFrame,
    band: str,
    order: Sequence[str | Column],
    sums: Mapping[str, Column],
    by: Sequence[str] = (),
) -> DataFrame:
    """`df` plus one INCLUSIVE running sum per `sums` entry
    (output name -> value Column), taken in `order` within `by`.

    `band` names a non-null column of `df` that is non-decreasing
    along `order` and has few distinct values (per `by` key). A
    1-based rank is the running sum of `F.lit(1)`; an exclusive sum
    is the inclusive one minus the value; a descending order takes a
    negated band, e.g. `-(rev div X)`. Ties in `order` are numbered in
    an arbitrary order, as in any ROWS frame, so callers that need
    determinism pass a total order."""
    keys = [*by, band]
    offs = {name: f"_off_{name}" for name in sums}
    totals = df.groupBy(*keys).agg(
        *(F.sum(v).alias(offs[name]) for name, v in sums.items())
    )
    before = (
        Window.partitionBy(*by)
        .orderBy(band)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *keys,
        *(
            F.coalesce(F.sum(o).over(before), F.lit(0)).alias(o)
            for o in offs.values()
        ),
    )
    within = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = df.select(
        "*", *(F.sum(v).over(within).alias(name) for name, v in sums.items())
    )
    return local.join(F.broadcast(offsets), keys).select(
        *df.columns,
        *((F.col(o) + F.col(name)).alias(name) for name, o in offs.items()),
    )
