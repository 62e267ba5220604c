"""Personalized PageRank (topic-sensitive teleport set).

Same PlusTimes SpMV recursion as algos/pagerank.py (pagerank.cpp:160-201
semantics) with the uniform teleport replaced by a seed-set indicator:

    pr'(v) = (1-α)·t(v) + α·(Σ_{u→v} pr(u)/outdeg(u) + dangling·t(v))

where t(v) = 1/|S| for seeds S, else 0 — the standard seed-restart
random walk used for crawl-frontier prioritization and related-page
retrieval.  One iteration of the plans/superstep.py loop; the teleport
is a static column of the vertex table, so personalization adds no
wide exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans import superstep


def ppr_fixed(
    spark: SparkSession,
    g: Graph,
    seeds: list[int],
    n_iter: int,
    alpha: float = 0.85,
) -> DataFrame:
    """(v, rank) after exactly ``n_iter`` seed-teleport iterations,
    init rank = t.  Fixed count so the DuckDB oracle can unroll."""
    if not seeds:
        raise ValueError("seeds must be non-empty")
    edges = g.edges.select(SRC, DST).repartition(g.n_partitions, SRC).cache()
    edges.count()
    deg = edges.groupBy(F.col(SRC).alias("v")).agg(F.count("*").alias("deg"))
    verts = (
        edges.select(F.col(SRC).alias("v"))
        .unionByName(edges.select(F.col(DST).alias("v")))
        .distinct()
    )
    t = 1.0 / len(seeds)
    seed_col = F.when(F.col("v").isin([int(s) for s in seeds]), F.lit(t)).otherwise(
        F.lit(0.0)
    )
    vd = (
        verts.join(deg, "v", "left")
        .select(
            "v",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            seed_col.alias("t"),
        )
        .repartition(g.n_partitions, "v")
        .cache()
    )
    n = vd.count()
    vec = superstep.vector_side(spark, n)
    dangling = F.sum(F.when(F.col("deg") == 0, F.col("rank"))).alias("dm")

    def step(ranks: DataFrame, row: dict, _it: int):
        contrib = ranks.filter(F.col("deg") > 0).select(
            "v", (F.col("rank") / F.col("deg")).alias("val")
        )
        sums = (
            edges.join(vec(contrib), edges[SRC] == contrib["v"], "inner")
            .groupBy(F.col(DST).alias("v"))
            .agg(F.sum("val").alias("s"))
        )
        dm = row["dm"] or 0.0
        return vd.join(sums.hint("shuffle_hash"), "v", "left").select(
            "v",
            "deg",
            "t",
            (
                (1.0 - alpha) * F.col("t")
                + alpha * (F.coalesce(F.col("s"), F.lit(0.0)) + dm * F.col("t"))
            ).alias("rank"),
        ), [dangling]

    init = vd.select("v", "deg", "t", F.col("t").alias("rank"))
    ranks = superstep.run(spark, n, init, [dangling], step, n_iter).state
    return ranks.select("v", F.round("rank", 6).alias("rank"))
