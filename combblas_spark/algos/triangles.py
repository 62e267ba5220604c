"""The wedge pipeline: triangle counting via masked SpGEMM (A·A ∘ A).

Reference expression: ``Square<PlusTimes>`` (SpParMat.cpp:3463-3534)
followed by ``EWiseMult(C, A, exclude=false)`` (ParFriends.h:3215-3234)
and a Reduce.  The Spark formulation computes the mask **join-first**
so the quadratic A·A intermediate never materializes:

    E1 ⋈ E2 on (e1.dst == e2.src)   — length-2 paths (wedges)
       ⋈ E  on (e1.src, e2.dst)     — close the wedge (the ∘ A mask)

With the standard degree-orientation trick (direct each undirected edge
from the lower-(degree, id) endpoint to the higher) every triangle is
counted exactly once and the wedge join's fan-out is bounded by
O(m^1.5) instead of Σdeg² — this is what kills power-law skew at
100 TB scale.

The pieces — :func:`orient` and :func:`close_wedges` — are shared by
the clustering coefficient below and the k-truss peel (algos/truss.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph


def _pattern(g: Graph) -> tuple[DataFrame, DataFrame]:
    """The undirected simple pattern of ``g``: its canonical edges
    (u, v) with u < v, and its degree vector (v, deg)."""
    und = g.symmetrize().remove_loops()
    canonical = und.edges.filter(F.col(SRC) < F.col(DST)).select(
        F.col(SRC).alias("u"), F.col(DST).alias("v")
    )
    return canonical, und.out_degrees()


def orient(canonical: DataFrame, deg: DataFrame) -> DataFrame:
    """Canonical undirected edges (u, v), u < v → degree-oriented DAG
    edges (src, dst) with (deg(src), src) < (deg(dst), dst)."""
    # Degree attach: build side is the O(n) degree vector (n/P rows per
    # partition), so pin shuffled-hash — sort-merge would sort the O(m)
    # edge stream twice for no benefit (same rationale as the wedge
    # joins below; scale-curve evidence in BASELINE.md round-5).
    du = deg.select(F.col("v").alias("u"), F.col("deg").alias("du"))
    dv = deg.select("v", F.col("deg").alias("dv"))
    e = canonical.join(du.hint("shuffle_hash"), "u").join(dv.hint("shuffle_hash"), "v")
    up = F.col("du") <= F.col("dv")  # u < v breaks degree ties
    return e.select(
        F.when(up, F.col("u")).otherwise(F.col("v")).alias(SRC),
        F.when(up, F.col("v")).otherwise(F.col("u")).alias(DST),
    )


def close_wedges(o: DataFrame) -> DataFrame:
    """Triangles (a, b, c) of the oriented edges ``o`` (a→b→c, a→c).

    Both joins that touch the wedge stream are pinned ``shuffle_hash``:
    the hash build is always the *edge* side (O(m/P) rows per
    partition), so the O(m^1.5) wedge stream is only ever streamed —
    never sorted.  Without the pin, Catalyst broadcasts the edge side
    while it fits (fine) but silently degrades to sort-merge beyond
    broadcast reach, and sorting the wedge stream is what turned the
    recorded 10x scale-curve run super-linear (30.4x; 16.9s vs 460s+
    for the identical masked join at 10x — BENCH_SCALE_CURVE.json /
    BASELINE.md round-5).  AQE's skew-join splitting still applies to
    shuffled-hash joins, so a hot (a, c) partition splits at runtime.
    ``o`` is read three times, so callers pass it cached.
    """
    e1 = o.alias("e1")
    e2 = o.alias("e2").hint("shuffle_hash")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    mask = o.select(F.col(SRC).alias("a"), F.col(DST).alias("c")).hint(
        "shuffle_hash"
    )
    return wedges.join(mask, ["a", "c"], "left_semi")


def triangle_count(spark: SparkSession, g: Graph) -> int:
    """Global triangle count (each triangle once)."""
    return triangle_wedges(spark, g).count()


def triangle_wedges(spark: SparkSession, g: Graph) -> DataFrame:
    """DataFrame of (a, b, c) triangles with a<b<c under orientation."""
    return close_wedges(orient(*_pattern(g)).cache())


def _corner_counts(t: DataFrame) -> DataFrame:
    # Corners are exploded from each triangle row in ONE pass: a 3-way
    # union of projections would re-execute the whole wedge pipeline per
    # branch (measured 3x the full triangle cost at the 10x scale-curve
    # point before this formulation).
    corners = t.select(F.explode(F.array("a", "b", "c")).alias("v"))
    return corners.groupBy("v").agg(F.count("*").alias("triangles"))


def per_vertex_triangles(spark: SparkSession, g: Graph) -> DataFrame:
    """(v, triangles) — each triangle credited to all 3 corners."""
    return _corner_counts(triangle_wedges(spark, g))


def local_clustering(spark: SparkSession, g: Graph) -> DataFrame:
    """(v, coeff) — local clustering coefficient 2·T(v) / d(v)(d(v)−1).

    The classic consumer of the masked-SpGEMM triangle kernel (the
    reference's own README bullet-points "computing the clustering
    coefficient" as the use of its EWiseMult/Square pair).  ``d`` is
    the undirected degree, ``T`` the per-vertex triangle credit of
    :func:`per_vertex_triangles`; vertices with d < 2 score 0.  One
    pattern and degree vector feed both.  Cost shape ==
    per_vertex_triangles + one O(n)-build degree join.
    """
    canonical, deg = _pattern(g)
    tri = _corner_counts(close_wedges(orient(canonical, deg).cache()))
    d = F.col("deg").cast("double")
    return (
        deg.join(tri.hint("shuffle_hash"), "v", "left")
        .select(
            "v",
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                    / (d * (d - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("coeff"),
        )
    )
