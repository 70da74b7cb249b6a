"""Graph algorithms as DataFrame algebra (beyond the connected-components
family in :mod:`marasa_spark.ops.dedup`).

PageRank here is the fixed-iteration, undirected-degree form: every node
has degree >= 1 by construction (nodes come FROM the edge list), so there
is no dangling-mass redistribution term and each iteration is exactly

    r_{t+1}(v) = (1 - d) / N + d * sum_{u in nbr(v)} r_t(u) / deg(u)

Cross-engine determinism: each iteration's ranks are floor-rounded to 8
decimals (the r2 convention) before feeding the next — both engines then
fold identically-rounded inputs, and the only cross-engine difference is
summation order (~1e-16 relative), far inside the rounding grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marasa_spark.queries._util import r2


def pagerank(edges: DataFrame, iters: int = 5, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list.

    ``edges`` must have columns (src, dst); both directions are added here,
    so pass each undirected edge once. Returns (node, deg, r).

    Scale shape (100 TB): the edge list is localCheckpoint'ed ONCE (every
    iteration joins it — without the checkpoint each round re-executes the
    whole edge-derivation lineage), then each iteration is two shuffles —
    e ⋈ ranks on the node key and the contribution groupBy on dst — plus a
    broadcast of the 1-row node count. Ranks are checkpointed per round so
    the plan stays flat at any iteration count; no driver-side data moves
    at all (the loop is fixed-length, not convergence-tested)."""
    e = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
    e = e.localCheckpoint(eager=True)
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("double").alias("deg"))
        .withColumnRenamed("src", "node")
    )
    deg = deg.localCheckpoint(eager=True)
    nn = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "node", "deg", r2(F.lit(1.0) / F.col("n"), 8).alias("r")
    )
    base = F.lit(1.0 - damping)  # same IEEE op sequence as the oracle's 1 - d
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
            .withColumnRenamed("dst", "node")
        )
        ranks = (
            deg.join(contrib, "node")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                "deg",
                r2(base / F.col("n") + F.lit(damping) * F.col("c"), 8).alias("r"),
            )
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks
