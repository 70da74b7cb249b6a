"""Skew mitigation operators (SURVEY.md §4 / 100 TB posture).

AQE's skew-join splitting (enabled in session.py) handles most runtime skew
automatically; these explicit tools cover the cases AQE can't:

* ``salted_agg`` — two-phase aggregation for a hot grouping key: a random
  salt spreads one key over N partitions for the partial phase, then a
  second (tiny) aggregation removes the salt. Works for any algebraic
  aggregate (sum/count/min/max, and avg via sum+count).
* ``salted_join_hot_keys`` — replicate the small side per salt for the hot
  keys only; non-hot keys join normally (the classic split-union plan).
* ``global_prefix`` — a global rank / running sum without the
  single-partition window: range partitions, a tiny per-partition offset
  table broadcast back, then partition-local windows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    agg_exprs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation. ``agg_exprs`` maps output name → an
    algebraic aggregate over the input (applied per salt, then re-reduced:
    sum→sum, count→sum, min→min, max→max inferred from the expression name
    isn't reliable — so phase 2 re-reduces with sum/min/max per the
    ``_REREDUCE`` table keyed by the function the caller declares)."""
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    phase1 = salted.groupBy(*group_cols, "_salt").agg(
        *[expr.alias(f"_p_{name}") for name, expr in agg_exprs.items()]
    )
    # phase 2: every algebraic partial re-reduces with SUM for sum/count,
    # MIN/MAX for min/max — the caller picks by prefixing the output name:
    # "sum_x"/"cnt_x" → sum, "min_x" → min, "max_x" → max.
    def rereduce(name: str) -> Column:
        col = F.col(f"_p_{name}")
        if name.startswith("min"):
            return F.min(col).alias(name)
        if name.startswith("max"):
            return F.max(col).alias(name)
        return F.sum(col).alias(name)

    return phase1.groupBy(*group_cols).agg(
        *[rereduce(name) for name in agg_exprs]
    )


def salted_join_hot_keys(
    big: DataFrame,
    small: DataFrame,
    on: str,
    hot_keys: list,
    n_salts: int = 16,
) -> DataFrame:
    """Join with explicit hot-key salting: hot keys get the small side
    replicated across n_salts partitions; the rest join normally. Output =
    union of both paths (inner join semantics)."""
    is_hot = F.col(on).isin(hot_keys)

    big_hot = big.filter(is_hot).withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    small_hot = small.filter(is_hot).join(
        F.broadcast(
            big.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    hot = big_hot.join(small_hot, [on, "_salt"]).drop("_salt")

    cold = big.filter(~is_hot).join(small.filter(~is_hot), on)
    return hot.unionByName(cold)


def global_prefix(
    df: DataFrame,
    order: Sequence[str | Column],
    nparts: int,
    by: Sequence[str] = (),
    weight: str | None = None,
) -> DataFrame:
    """``df`` plus a long column ``_before``: the rows strictly before each
    row in ``(by, order)`` order — their count, or with ``weight`` the sum
    of that (integral) column, nulls as 0 — restarting per ``by`` group.

    A bare ``row_number()``/``sum() OVER (ORDER BY ...)`` funnels every
    row through one task. This is the two-phase plan instead, every phase
    parallel: (1) range-repartition into ``nparts`` on ``(by, order)``
    (Spark's sampled global-sort bounds) and tag rows with ``_pid``;
    (2) per-``(by, _pid)`` totals → exclusive running offsets over that
    tiny table, broadcast back; ``_before`` = offset + the partition-local
    ``row_number() - 1`` or exclusive running sum. The only global object
    is the offset table. ``order`` must be total within a ``by`` group
    (end it with a unique key), or ties are numbered arbitrarily."""
    ranged = df.repartitionByRange(nparts, *by, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    total = F.count(F.lit(1)) if weight is None else F.sum(weight)
    before = Window.unboundedPreceding, -1
    wcum = Window.partitionBy(*by).orderBy("_pid").rowsBetween(*before)
    offsets = (
        ranged.groupBy(*by, "_pid")
        .agg(total.alias("_n"))
        .select(
            *by, "_pid", F.coalesce(F.sum("_n").over(wcum), F.lit(0)).alias("_offset")
        )
    )
    wlocal = Window.partitionBy(*by, "_pid").orderBy(*order)
    if weight is None:
        local = F.row_number().over(wlocal) - 1
    else:
        local = F.coalesce(F.sum(weight).over(wlocal.rowsBetween(*before)), F.lit(0))
    return ranged.join(F.broadcast(offsets), [*by, "_pid"]).select(
        *df.columns, (F.col("_offset") + local).cast("long").alias("_before")
    )
