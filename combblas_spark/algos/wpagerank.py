"""Weighted PageRank: rank splits proportionally to edge weight.

The unweighted kernel (algos/pagerank.py, pagerank.cpp:160-201) gives
every out-link one vote; on rolled-up graphs (host→host edges carry the
url-level link multiplicity, sources/webgraph.host_graph) the natural
semantic weights each vote by multiplicity:

    pr'(v) = (1-α)/n + α·(Σ_{u→v} pr(u)·w(u,v)/W(u) + dangling/n)

with W(u) = Σ_w out of u.  One iteration of the plans/superstep.py
loop; the only difference from the unweighted step is the multiply
against the edge's weight column inside the join projection (PlusTimes
semiring with w as the ring element, functions/semiring.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, W, Graph
from ..plans import superstep


def wpagerank_fixed(
    spark: SparkSession,
    g: Graph,
    n_iter: int,
    alpha: float = 0.85,
) -> DataFrame:
    """(v, rank) after exactly ``n_iter`` weighted iterations, init
    1/n.  Fixed count so the DuckDB oracle can unroll the recursion."""
    edges = g.edges.select(SRC, DST, W).repartition(g.n_partitions, SRC).cache()
    edges.count()
    wdeg = edges.groupBy(F.col(SRC).alias("v")).agg(F.sum(W).alias("wdeg"))
    verts = (
        edges.select(F.col(SRC).alias("v"))
        .unionByName(edges.select(F.col(DST).alias("v")))
        .distinct()
    )
    vd = (
        verts.join(wdeg, "v", "left")
        .select("v", F.coalesce("wdeg", F.lit(0.0)).alias("wdeg"))
        .repartition(g.n_partitions, "v")
        .cache()
    )
    n = vd.count()
    vec = superstep.vector_side(spark, n)
    dangling = F.sum(F.when(F.col("wdeg") == 0, F.col("rank"))).alias("dm")

    def step(ranks: DataFrame, row: dict, _it: int):
        contrib = ranks.filter(F.col("wdeg") > 0).select(
            "v", (F.col("rank") / F.col("wdeg")).alias("val")
        )
        sums = (
            edges.join(vec(contrib), edges[SRC] == contrib["v"], "inner")
            .groupBy(F.col(DST).alias("v"))
            .agg(F.sum(F.col("val") * F.col(W)).alias("s"))
        )
        base = (1.0 - alpha) / n + alpha * (row["dm"] or 0.0) / n
        return vd.join(sums.hint("shuffle_hash"), "v", "left").select(
            "v",
            "wdeg",
            (base + alpha * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"),
        ), [dangling]

    # n == 0 (edgeless graph): the empty vector, no share to compute
    init = vd.select("v", "wdeg", F.lit(1.0 / n if n else 0.0).alias("rank"))
    ranks = superstep.run(spark, n, init, [dangling], step, n_iter).state
    return ranks.select("v", F.round("rank", 6).alias("rank"))
