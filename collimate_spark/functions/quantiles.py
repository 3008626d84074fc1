"""Sort-based exact percentiles — the scale answer to Spark's
value-buffering ``percentile``.

Spark's exact percentile aggregates hold every (value -> count) pair in an
ObjectHashAggregate buffer: the partial maps are serialized through the
exchange and the final merge + sort for each group happens in ONE task —
for near-continuous doubles that is the whole column's data in one
OpenHashMap per group (measured 5.3 s for 3 groups of ~200k values at
sf0.1, and unboundedly worse as groups grow; guide §5 "per-task state too
large"). The same number is computable with data-proportional parallelism:

  1. ``groupBy(group, value).count()`` — a codegen hash aggregate whose
     map-side partials collapse duplicate values before the shuffle;
  2. one ordered window per group over the DISTINCT values (cumulative
     count + total);
  3. the rank arithmetic of ``Percentile.getPercentile`` replayed exactly
     per row, and a tiny final agg picking the marker rows.

Equivalence contract: ``group_percentiles`` reproduces Spark's
``percentile(col, q)`` bit-for-bit — position = q·(n−1) and the
interpolation ``(ceil−pos)·v_lo + (pos−floor)·v_hi`` are the same double
arithmetic (see the fuzz pin in tests/test_quantile_sketch.py). NULL
values are ignored; a group whose values are all NULL yields NULL (groups
are preserved, not dropped).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def group_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    specs: Sequence[tuple[float, str]],
) -> DataFrame:
    """One row per group with exact percentile columns.

    ``specs``: (quantile, output_name) pairs, all over ``value_col``.
    Output: group_cols + one double column per spec. The value column is
    evaluated as double (matching percentile's result type for numeric
    input).
    """
    g = list(group_cols)
    c_nn = F.when(F.col(value_col).isNotNull(), F.count(F.lit(1))).otherwise(F.lit(0))
    counts = df.groupBy(*g, value_col).agg(c_nn.alias("__c"))
    wo = Window.partitionBy(*g).orderBy(F.col(value_col).asc_nulls_first())
    wp = Window.partitionBy(*g)
    cum = (
        counts.withColumn("__cum", F.sum("__c").over(wo))
        .withColumn("__n", F.sum("__c").over(wp))
        .withColumn("__lead", F.lead(value_col).over(wo))
    )
    v = F.col(value_col).cast("double")
    v_next = F.col("__lead").cast("double")
    pc = F.col("__cum") - F.col("__c")  # rows strictly before this value
    aggs = []
    for q, name in specs:
        pos = F.lit(float(q)) * (F.col("__n") - 1).cast("double")
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        # this row holds 0-indexed rank lo  iff  pc <= lo < cum
        has_lo = F.col(value_col).isNotNull() & (pc <= lo) & (lo < F.col("__cum"))
        v_hi = F.when(hi < F.col("__cum"), v).otherwise(v_next)
        val = F.when(hi == lo, v).otherwise(
            (hi.cast("double") - pos) * v + (pos - lo.cast("double")) * v_hi
        )
        aggs.append(F.max(F.when(has_lo, val)).alias(name))
    return cum.groupBy(*g).agg(*aggs)
