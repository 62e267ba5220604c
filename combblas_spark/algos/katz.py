"""Truncated Katz centrality as iterative weighted SpMV.

Katz centrality is the third classic algebraic-path kernel next to
PageRank and HITS: ``x = Σ_{k≥0} (α Aᵀ)^k β·1``, i.e. every walk into a
vertex votes with weight α^len.  Structurally it is the SAME PlusTimes
SpMV recursion CombBLAS runs for PageRank (SpParMat::SpMV, SpImpl.h;
algos/pagerank.py here) with the damping/normalization replaced by the
affine update

    x_{k} = β·1 + α · Aᵀ x_{k-1},   x_0 = β·1,

so after ``n_iter`` steps x = β Σ_{j=0..n_iter} (α Aᵀ)^j 1 — a fixed
truncation the DuckDB oracle can unroll exactly.  Each update is one
iteration of the plans/superstep.py loop, with no scalar to reduce.
Edge multiplicity votes through ``w`` exactly like algos/wpagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, W, Graph
from ..plans import superstep


def katz_fixed(
    spark: SparkSession,
    g: Graph,
    n_iter: int,
    alpha: float = 0.005,
    beta: float = 1.0,
) -> DataFrame:
    """(v, katz) after exactly ``n_iter`` affine SpMV updates.

    ``alpha`` should sit below 1/λ_max for the infinite series to
    converge; a fixed truncation is well-defined for any alpha, and the
    default keeps values O(10) on the hub-heavy link graphs the gates
    run on.
    """
    edges = g.edges.select(SRC, DST, W).repartition(g.n_partitions, SRC).cache()
    edges.count()
    verts = (
        edges.select(F.col(SRC).alias("v"))
        .unionByName(edges.select(F.col(DST).alias("v")))
        .distinct()
        .repartition(g.n_partitions, "v")
        .cache()
    )
    n = verts.count()
    vec = superstep.vector_side(spark, n)

    def step(x: DataFrame, _row: dict, _it: int):
        contrib = (
            edges.join(vec(x), edges[SRC] == x["v"], "inner")
            .groupBy(F.col(DST).alias("v"))
            .agg(F.sum(F.col(W) * F.col("x")).alias("s"))
        )
        return verts.join(contrib.hint("shuffle_hash"), "v", "left").select(
            "v",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("x"),
        ), []

    init = verts.select("v", F.lit(float(beta)).alias("x"))
    x = superstep.run(spark, n, init, [], step, n_iter).state
    return x.select("v", F.round("x", 6).alias("katz"))
