"""Common-neighbor link prediction (Adamic-Adar, Jaccard) on the link graph.

The classic "related pages" primitive over a web link graph: score a
non-adjacent pair (u, v) by its common neighbors z ∈ Γ(u) ∩ Γ(v).
Both scores are one masked SpGEMM row — the wedge join of
algos/triangles.py with the COMPLEMENT of A as mask (anti-join instead
of semi-join) — and differ only in the semiring's per-wedge vote and
the final score expression; :func:`_topk` is the one pipeline.

Scale design: the wedge fan-out is Σ_z deg(z)² and a power-law hub
dominates it, so ``max_neighbor_degree`` drops hub intermediaries —
exactly the documented max_df bias of pipeline/dedup.py's n-gram
candidate join, and the cheapest term to drop since 1/ln(deg) makes
hubs the least informative.  ``max_src`` bounds the query-side slice
(the gate runs top-k for a fixed seed set, the common production
shape); with both caps the join never goes all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..graph import DST, SRC, Graph


def _topk(
    g: Graph,
    k: int,
    max_src: int | None,
    max_neighbor_degree: int | None,
    vote: Column,
    score: Column,
    pair_degrees: bool = False,
) -> DataFrame:
    """Top-``k`` (u, v, score) per query vertex u over the non-adjacent
    pairs at distance 2 in the symmetrized graph.

    ``vote`` aggregates a pair's wedges (u, z, v) into ``s`` and may
    read the intermediary's degree ``zdeg``; ``score`` then reads ``s``
    and, with ``pair_degrees``, the endpoint degrees ``du``/``dv``.
    Degrees are GLOBAL (full-graph) even when ``max_src`` restricts the
    query side, so slice results equal the full run's rows for those
    vertices.  Ordering is deterministic: the score is rounded to 6
    decimals BEFORE the top-k window so FP summation-order noise can
    never flip a rank (ties break on candidate id).
    """
    und = g.symmetrize().remove_loops().cache()
    sym, deg = und.edges, und.out_degrees()

    e1 = sym.alias("e1")
    if max_src is not None:
        e1 = e1.filter(F.col(SRC) <= max_src)
    e2 = sym.alias("e2").hint("shuffle_hash")
    wedges = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.src") != F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("z"),
            F.col("e2.dst").alias("v"),
        )
    )
    zdeg = deg.select(F.col("v").alias("z"), F.col("deg").alias("zdeg"))
    if max_neighbor_degree is not None:
        zdeg = zdeg.filter(F.col("zdeg") <= max_neighbor_degree)
    pairs = (
        wedges.join(zdeg.hint("shuffle_hash"), "z")
        .groupBy("u", "v")
        .agg(vote.alias("s"))
    )
    # complement mask: drop pairs that are already edges — anti-join on
    # the aggregated pair set (O(candidate pairs), not O(wedges)), with
    # the per-partition hash build pinned so neither the candidates nor
    # the O(m) edge set is ever sorted (same decision as the triangle
    # wedge joins, algos/triangles.py)
    existing = sym.select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
    pairs = pairs.join(existing.hint("shuffle_hash"), ["u", "v"], "left_anti")
    if pair_degrees:
        # degree attach: deg has one row per vertex — never
        # broadcastable at web scale, so pin the per-partition hash build
        du = deg.select(F.col("v").alias("u"), F.col("deg").alias("du"))
        dv = deg.select("v", F.col("deg").alias("dv"))
        pairs = pairs.join(du.hint("shuffle_hash"), "u").join(
            dv.hint("shuffle_hash"), "v"
        )
    scored = pairs.withColumn("score", F.round(score, 6))
    w = Window.partitionBy("u").orderBy(F.col("score").desc(), F.col("v").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("u", "v", "score")
    )


def adamic_adar_topk(
    spark: SparkSession,
    g: Graph,
    k: int = 3,
    max_src: int | None = None,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Top-``k`` Adamic-Adar candidates (u, v, score) per query vertex,

        AA(u, v) = Σ_{z ∈ Γ(u) ∩ Γ(v)}  1 / ln deg(z),

    so a shared neighbor that links half the web contributes almost
    nothing while a shared niche hub contributes a lot: the PlusTimes
    semiring whose "times" is the intermediary's 1/ln-degree.
    """
    return _topk(
        g, k, max_src, max_neighbor_degree,
        vote=F.sum(1.0 / F.log(F.col("zdeg").cast("double"))),
        score=F.col("s"),
    )


def jaccard_topk(
    spark: SparkSession,
    g: Graph,
    k: int = 3,
    max_src: int | None = None,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Top-``k`` Jaccard link-prediction candidates per query vertex.

        J(u, v) = |Γ(u) ∩ Γ(v)| / |Γ(u) ∪ Γ(v)|
                = common / (deg(u) + deg(v) - common)

    The companion of :func:`adamic_adar_topk`: the semiring's "times"
    is the constant 1 and the score is normalized by the union size
    afterwards — the second classic common-neighbor score a reference
    user would reach for (KDT/CombBLAS expose the wedge primitive; the
    normalization is a two-join epilogue).  With ``max_neighbor_degree``
    only the capped intermediaries count as common, while the union
    size keeps the full degrees.
    """
    return _topk(
        g, k, max_src, max_neighbor_degree,
        vote=F.count("*"),
        score=F.col("s").cast("double") / (F.col("du") + F.col("dv") - F.col("s")),
        pair_degrees=True,
    )
