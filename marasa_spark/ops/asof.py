"""As-of join — Spark lacks a native one (SURVEY.md §2 c10, §4).

Two implementations with identical semantics (for each left row, the single
right row with the greatest ``right_ts <= left_ts`` for the same key;
deterministic tiebreak on ``right_seq``):

* :func:`asof_join` — pure DataFrame composition: band join + top-1 window.
  Correct at any scale; the band join can amplify rows when a key has many
  right rows before a left row (bounded by per-key density × tolerance).
* :func:`asof_join_union` — union both sides into one event stream, sort
  within key, carry the latest right row forward with
  ``last(..., ignorenulls)``: ONE shuffle, no pair amplification, all
  JVM-side. The default scale path — a key with R right rows and L left
  rows costs O((R+L) log(R+L)) locally vs the band join's O(R·L) pairs.

:func:`asof_join_bucketed` (tolerance-bounded, hot-key safe) and
:func:`asof_join_nearest` (nearest match in either direction) build on them.

Use a ``tolerance`` (max lookback) with the window variant at scale so the
band join prunes to a bounded time slice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_seq: str,
    left_seq: str | None = None,
    tolerance: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Band-join + latest-prior window. Right columns keep their names;
    every left column is preserved. ``left_seq`` (a unique left row id)
    keys the top-1 window; without it the window falls back to
    (key, left_ts) — correct only when (key, left_ts) identifies left rows
    (the key must be included: partitioning on left_ts alone would collapse
    same-timestamp rows of DIFFERENT keys into one survivor).

    Sides are aliased internally so self-joins (left and right carved from
    the same source) resolve unambiguously.
    """
    l_df = left.alias("_asof_l")
    r_df = right.alias("_asof_r")

    def lcol(c: str) -> Column:
        return F.col(f"_asof_l.{c}")

    def rcol(c: str) -> Column:
        return F.col(f"_asof_r.{c}")

    cond = (lcol(on) == rcol(on)) & (rcol(right_ts) <= lcol(left_ts))
    if tolerance is not None:
        cond = cond & (rcol(right_ts) >= lcol(left_ts) - tolerance)
    joined = l_df.join(r_df, cond, how).drop(rcol(on))
    part = [lcol(left_seq)] if left_seq else [lcol(on), lcol(left_ts)]
    w = Window.partitionBy(*part).orderBy(
        rcol(right_ts).desc(), rcol(right_seq).desc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_seq: str,
    left_seq: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Union-sort as-of join: one shuffle, zero pair amplification.

    Both sides are tagged and unioned into a single per-key event stream;
    a running ``last(right-struct, ignorenulls)`` over
    ``ORDER BY (ts, right-first, seq)`` attaches the latest prior right row
    to every left row. Ties at ``right_ts == left_ts`` match (inclusive
    bound: right rows sort before left rows at equal ts); ties among right
    rows resolve to the greatest ``right_seq`` — identical semantics to
    :func:`asof_join`, including on NULL timestamps: null-ts right rows are
    filtered (the band predicate ``right_ts <= left_ts`` is never true on
    NULL), and null-ts left rows sort NULLS FIRST — before every right
    row — so they match nothing (dropped under ``inner``, null-extended
    under ``left``), exactly as the band join's null-rejecting predicate
    behaves.

    Column names of ``left`` and ``right`` must be disjoint apart from
    ``on``; output = all left columns + right columns except ``on``.
    ``how`` is ``inner`` (drop unmatched left rows) or ``left``.

    Scale: the single exchange partitions by key; payloads ride the shuffle
    exactly once (the band-join variant re-shuffles the amplified pair set
    for its window). Hot keys land on one task — same skew posture as any
    per-key as-of; salt or bound with a tolerance-pruned band join if one
    key dominates.
    """
    overlap = (set(left.columns) & set(right.columns)) - {on}
    if overlap:
        raise ValueError(f"column names must be disjoint, overlap: {overlap}")
    lcols = left.columns
    rpay = [c for c in right.columns if c != on]
    l_struct = StructType([f for f in left.schema.fields])
    r_struct = StructType([f for f in right.schema.fields if f.name != on])
    seq_type = right.schema[right_seq].dataType

    l_side = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        (F.col(left_seq) if left_seq else F.lit(None)).cast(seq_type).alias("_seq"),
        F.lit(0).alias("_is_r"),
        F.struct(*[F.col(c) for c in lcols]).alias("_lpay"),
        F.lit(None).cast(r_struct).alias("_rpay"),
    )
    r_side = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.col(right_seq).cast(seq_type).alias("_seq"),
        F.lit(1).alias("_is_r"),
        F.lit(None).cast(l_struct).alias("_lpay"),
        F.struct(*[F.col(c) for c in rpay]).alias("_rpay"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_is_r").desc(), F.col("_seq").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_side.unionByName(r_side)
        .withColumn("_m", F.last("_rpay", ignorenulls=True).over(w))
        .filter(F.col("_is_r") == 0)
    )
    if how == "inner":
        matched = matched.filter(F.col("_m").isNotNull())
    elif how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return matched.select(
        *[F.col(f"_lpay.{c}").alias(c) for c in lcols],
        *[F.col(f"_m.{c}").alias(c) for c in rpay],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_seq: str,
    tolerance_s: int,
    left_seq: str | None = None,
) -> DataFrame:
    """Tolerance-bounded as-of join, bucketed by TIME — the hot-key escape
    hatch the union-sort variant's docstring promises. A tolerance turns
    as-of into a bounded-lookback problem: a left row at ``t`` can only
    match right rows in ``[t - tol, t]``, i.e. in its own time bucket
    (width = tolerance) or the one before. So: bucket both sides on
    ``floor(ts / tol)``, replicate each right row into (its bucket, its
    bucket + 1), and the match becomes an EQUI join on (key, bucket) with
    the two-sided band as a residual — followed by the standard top-1
    window per left row.

    Why this shape at 100 TB: the union-sort as-of puts each key on ONE
    task, so a key holding 10% of the stream serializes 10% of the work.
    Here the shuffle key is (key, time-bucket): a hot key spreads across
    as many tasks as it spans tolerance windows, and per-task state is
    bounded by key-density × 2·tolerance regardless of total history. The
    ×2 replication of the right side is the entire overhead. Inner
    semantics, same tiebreak as :func:`asof_join` (max right_ts, then max
    right_seq); NULL timestamps on either side never match (NULL bucket
    fails the equi join; NULL right_ts fails the band).

    Precondition (same as :func:`asof_join`): when ``left_seq`` is None
    the top-1 window partitions by ``(on, left_ts)``, so left rows that
    share BOTH key and timestamp collapse to one survivor. Pass a unique
    ``left_seq`` (as z2 does) whenever (key, ts) is not unique on the
    left side.
    """
    overlap = (set(left.columns) & set(right.columns)) - {on}
    if overlap:
        raise ValueError(f"column names must be disjoint, overlap: {overlap}")
    lcols = left.columns
    rpay = [c for c in right.columns if c != on]
    tol_us = F.lit(int(tolerance_s) * 1_000_000)

    def bucket_of(ts: str) -> Column:
        return F.floor(F.unix_micros(F.col(ts)) / tol_us)

    l_b = left.withColumn("_bkt", bucket_of(left_ts))
    r_b = (
        right.withColumn(
            "_bkt", F.explode(F.array(bucket_of(right_ts), bucket_of(right_ts) + 1))
        )
        .withColumnRenamed(on, "_r_on")
    )
    cond = (
        (l_b[on] == r_b["_r_on"])
        & (l_b["_bkt"] == r_b["_bkt"])
        & (r_b[right_ts] <= l_b[left_ts])
        & (r_b[right_ts] >= l_b[left_ts] - F.expr(f"INTERVAL {int(tolerance_s)} SECONDS"))
    )
    joined = l_b.join(r_b, cond, "inner").drop(r_b["_bkt"]).drop("_r_on")
    part = [F.col(left_seq)] if left_seq else [F.col(on), F.col(left_ts)]
    w = Window.partitionBy(*part).orderBy(
        F.col(right_ts).desc(), F.col(right_seq).desc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*lcols, *rpay)
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_seq: str,
    left_seq: str,
) -> DataFrame:
    """``merge_asof(direction="nearest")``: each left row takes the right
    row with the smallest |right_ts − left_ts|; on an exact distance tie
    the BACKWARD (earlier) candidate wins, and among right rows sharing a
    timestamp the greatest ``right_seq`` wins — fully deterministic.

    Built as two union-sort as-of passes (backward on the timestamp,
    forward on its negation — "latest prior" under a reversed clock IS
    "earliest following"), each ONE shuffle on the key with no pair
    amplification, then a per-row pick of the closer match. Inner
    semantics: left rows with no candidate on either side drop. Output:
    all left columns + right payload + ``matched_dir``
    ('backward'|'forward').

    Scale: 2× the union-sort as-of cost — still linear, still skew-spread
    only by key (use the z2 bucketed shape per direction if a tolerance
    is known and keys are hot).
    """
    rpay = [c for c in right.columns if c != on]

    def negate(df: DataFrame, ts: str, out: str) -> DataFrame:
        return df.withColumn(out, -F.unix_micros(F.col(ts)))

    back = asof_join_union(
        left, right, on=on, left_ts=left_ts, right_ts=right_ts,
        right_seq=right_seq, left_seq=left_seq, how="left",
    ).select(
        *left.columns, *[F.col(c).alias(f"_b_{c}") for c in rpay]
    )
    l_neg = negate(left, left_ts, "_lneg")
    r_neg = negate(right, right_ts, "_rneg")
    fwd = asof_join_union(
        l_neg, r_neg, on=on, left_ts="_lneg", right_ts="_rneg",
        right_seq=right_seq, left_seq=left_seq, how="left",
    ).select(
        F.col(left_seq),
        *[F.col(c).alias(f"_f_{c}") for c in rpay],
    )
    both = back.join(fwd, left_seq)
    lts = F.unix_micros(F.col(left_ts))
    d_b = F.when(
        F.col(f"_b_{right_ts}").isNotNull(),
        lts - F.unix_micros(F.col(f"_b_{right_ts}")),
    )
    d_f = F.when(
        F.col(f"_f_{right_ts}").isNotNull(),
        F.unix_micros(F.col(f"_f_{right_ts}")) - lts,
    )
    take_b = F.when(
        d_b.isNotNull() & (d_f.isNull() | (d_b <= d_f)), F.lit(True)
    ).otherwise(F.lit(False))
    picked = [
        F.when(take_b, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}")).alias(c)
        for c in rpay
    ]
    return (
        both.filter(d_b.isNotNull() | d_f.isNotNull())
        .select(
            *left.columns,
            *picked,
            F.when(take_b, F.lit("backward")).otherwise(F.lit("forward")).alias(
                "matched_dir"
            ),
        )
    )
