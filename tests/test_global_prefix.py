"""ops/skew.py::global_prefix against the plain global windows it replaces:
``row_number() - 1`` and ``sum() OVER (... ROWS BETWEEN UNBOUNDED
PRECEDING AND 1 PRECEDING)``, per ``by`` group."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from marasa_spark.ops.skew import global_prefix


def _frame(spark, n: int):
    """n rows with a unique order key ``k`` (a permutation of 0..n-1, so
    input order says nothing), a group ``g`` where group 0 holds ~3/4 of
    the rows, and an int weight ``w`` with a null every 11th row."""
    return spark.range(n).select(
        ((F.col("id") * 37) % n).alias("k"),
        F.when(F.col("id") % 4 == 0, 1).otherwise(0).alias("g"),
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") % 7).cast("int").alias("w"),
    )


def _check(df, order, nparts, by=(), weight=None):
    w = Window.partitionBy(*by).orderBy(*order)
    if weight is None:
        want = F.row_number().over(w) - 1
    else:
        frame = w.rowsBetween(Window.unboundedPreceding, -1)
        want = F.coalesce(F.sum(weight).over(frame), F.lit(0))
    expected = sorted(
        (r["k"], r["b"]) for r in df.select("k", want.cast("long").alias("b")).collect()
    )
    out = global_prefix(df, order, nparts, by=by, weight=weight)
    assert out.columns == df.columns + ["_before"]
    assert dict(out.dtypes)["_before"] == "bigint"
    got = sorted((r["k"], r["_before"]) for r in out.collect())
    assert got == expected
    return got


def test_count_and_weight_match_global_window(spark):
    df = _frame(spark, 300)
    for order in (["k"], [F.col("k").desc()]):
        got = _check(df, order, 6)
        assert sorted(b for _, b in got) == list(range(300))
        _check(df, order, 6, weight="w")


def test_by_group_spanning_several_range_partitions(spark):
    df = _frame(spark, 300)
    spans = {
        r["g"]: r["n"]
        for r in df.repartitionByRange(8, "g", "k")
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("g")
        .agg(F.countDistinct("_pid").alias("n"))
        .collect()
    }
    assert spans[0] > 1, spans  # the premise: group 0 crosses range bounds
    _check(df, ["k"], 8, by=["g"])
    _check(df, ["k"], 8, by=["g"], weight="w")


def test_more_partitions_than_rows(spark):
    df = _frame(spark, 5)
    _check(df, ["k"], 16)
    _check(df, ["k"], 16, weight="w")
    _check(df, ["k"], 16, by=["g"], weight="w")


def test_empty_input(spark):
    df = _frame(spark, 10).filter(F.lit(False))
    assert _check(df, ["k"], 4) == []
    assert _check(df, ["k"], 4, by=["g"], weight="w") == []
