"""HITS (hubs & authorities) as alternating semiring SpMV.

Kleinberg's link-analysis pair to PageRank: per iteration
``auth'(v) = Σ_{u→v} hub(u)`` then ``hub'(u) = Σ_{u→v} auth'(v)``,
each L1-normalized.  Structurally this is two PlusTimes SpMVs per
iteration — one with the matrix, one with its transpose — i.e. the
same kernel as algos/pagerank.py (SpParMat::SpMV, SpImpl.h) applied in
both orientations.  Each half-step is one iteration of the
plans/superstep.py loop: the state row holds raw sums (both vectors
after the hub half-step), the half-step's aggregate is the new
vector's L1 normalizer, and the next half-step divides by it before
its join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans import superstep


def hits_fixed(
    spark: SparkSession,
    g: Graph,
    n_iter: int,
) -> DataFrame:
    """(v, hub, auth) after exactly ``n_iter`` alternating updates,
    each half-step L1-normalized; init hub = 1 per vertex.  Fixed
    iteration count so the DuckDB oracle can unroll the recursion."""
    edges = (
        g.edges.select(SRC, DST).distinct().repartition(g.n_partitions, SRC).cache()
    )
    return _alternate(spark, g, edges, n_iter, F.col("hub"), F.col("auth"))


def salsa_fixed(
    spark: SparkSession,
    g: Graph,
    n_iter: int,
) -> DataFrame:
    """SALSA (Lempel & Moran's Stochastic Approach for Link-Structure
    Analysis): HITS with the random-surfer normalization — every vertex
    splits its vote equally among its links instead of broadcasting it
    whole, which is what stops the mutual-reinforcement hub blowup on
    tightly-knit spam farms:

        auth'(v) = Σ_{u→v} hub(u)  / outdeg(u)
        hub'(u)  = Σ_{u→v} auth'(v) / indeg(v)

    each half-step L1-normalized; init hub = 1 per vertex; exactly
    ``n_iter`` alternating updates so the DuckDB oracle unrolls the
    recursion.  The degree reciprocals are folded into the cached edge
    table ONCE (one extra pair of O(n)-build joins before the loop), so
    the loop is hits_fixed's with the vote divided by the degree.
    """
    dedges = g.edges.select(SRC, DST).distinct()
    odeg = dedges.groupBy(F.col(SRC).alias("v")).agg(F.count("*").alias("od"))
    ideg = dedges.groupBy(F.col(DST).alias("v")).agg(F.count("*").alias("id_"))
    edges = (
        dedges.join(
            odeg.withColumnRenamed("v", SRC).hint("shuffle_hash"), SRC
        )
        .join(ideg.withColumnRenamed("v", DST).hint("shuffle_hash"), DST)
        .select(SRC, DST, "od", "id_")
        .repartition(g.n_partitions, SRC)
        .cache()
    )
    return _alternate(
        spark,
        g,
        edges,
        n_iter,
        F.col("hub") / F.col("od"),
        F.col("auth") / F.col("id_"),
    )


def _alternate(
    spark: SparkSession,
    g: Graph,
    edges: DataFrame,
    n_iter: int,
    auth_vote: Column,
    hub_vote: Column,
) -> DataFrame:
    """``n_iter`` HITS-style iterations over the cached ``edges``: the
    authority half-step sums ``auth_vote`` (over a ``hub`` column) into
    each dst, the hub half-step sums ``hub_vote`` (over ``auth``) into
    each src.  The state row holds the raw sums h and a; the aggregate
    row's ``hsum``/``asum`` are their L1 normalizers."""
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

    def step(s: DataFrame, row: dict, it: int):
        if it % 2 == 0:
            # authority half-step; the next (hub) half-step reads only a,
            # so the new row comes from the cached verts, whose known
            # layout saves exchanging the state
            hub = s.select("v", (F.col("h") / row["hsum"]).alias("hub"))
            raw = (
                edges.join(vec(hub), edges[SRC] == hub["v"], "inner")
                .groupBy(F.col(DST).alias("v"))
                .agg(F.sum(auth_vote).alias("a"))
            )
            new = verts.join(raw.hint("shuffle_hash"), "v", "left").select(
                "v", F.coalesce(F.col("a"), F.lit(0.0)).alias("a")
            )
            return new, [F.sum("a").alias("asum"), F.lit(row["hsum"]).alias("hsum")]
        # hub half-step: a rides along for the result
        auth = s.select("v", (F.col("a") / row["asum"]).alias("auth"))
        raw = (
            edges.join(vec(auth), edges[DST] == auth["v"], "inner")
            .groupBy(F.col(SRC).alias("v"))
            .agg(F.sum(hub_vote).alias("h"))
        )
        new = s.join(raw.hint("shuffle_hash"), "v", "left").select(
            "v", F.coalesce(F.col("h"), F.lit(0.0)).alias("h"), "a"
        )
        return new, [F.sum("h").alias("hsum"), F.lit(row["asum"]).alias("asum")]

    init = verts.select("v", F.lit(1.0).alias("h"), F.lit(0.0).alias("a"))
    res = superstep.run(
        spark, n, init, [F.lit(1.0).alias("hsum")], step, 2 * n_iter
    )
    # n == 0: no rows to scale, so no normalizer either
    hsum, asum = res.row.get("hsum"), res.row.get("asum")
    return res.state.select(
        "v",
        F.round(F.col("h") / F.lit(hsum), 6).alias("hub"),
        F.round(F.col("a") / F.lit(asum), 6).alias("auth"),
    )
