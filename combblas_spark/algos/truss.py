"""k-truss decomposition by fixed-round edge peeling.

The k-truss is the maximal subgraph where every edge closes at least
k−2 triangles — the edge-analogue of the k-core (algos/kcore.py) and,
like triangle counting, a direct consumer of the masked-SpGEMM pattern
(A·A ∘ A, SpParMat Square/EWiseMult): each peel round recomputes edge
support as the per-edge triangle count of the SURVIVING subgraph and
drops edges below k−2.

A round orients the surviving canonical edges and closes their wedges
with the shared pipeline of algos/triangles.py, so it costs one
triangle count of the current subgraph, and the subgraph only shrinks.
The rounds run on the superstep loop (plans/superstep.py), which
checkpoints each round's survivors and frees the superseded ones.
``rounds`` is FIXED (not run to fixpoint) so the DuckDB oracle can
unroll the identical peel sequence; past the fixpoint extra rounds are
idempotent, exactly like the kcore gate's unroll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans import superstep
from .triangles import close_wedges, orient


def ktruss_rounds(
    spark: SparkSession,
    g: Graph,
    k: int,
    rounds: int,
) -> DataFrame:
    """Canonical surviving edges (u < v) after exactly ``rounds`` peel
    iterations toward the k-truss."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    edges = (
        g.edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(SRC, DST).alias("u"), F.greatest(SRC, DST).alias("v")
        )
        .distinct()
    )
    prev: list[DataFrame] = []  # the live round's oriented-edge cache

    def edge(x: str, y: str):
        return F.struct(F.least(x, y).alias("u"), F.greatest(x, y).alias("v"))

    def peel(edges: DataFrame, _row: dict, _it: int):
        # the previous round's oriented edges fed a checkpoint that has
        # materialized by now
        for o in prev:
            o.unpersist()
        ends = edges.select(F.explode(F.array("u", "v")).alias("v"))
        deg = ends.groupBy("v").agg(F.count("*").alias("deg"))
        prev[:] = [orient(edges, deg).cache()]
        t = close_wedges(prev[0])
        tri_edges = t.select(
            F.explode(F.array(edge("a", "b"), edge("a", "c"), edge("b", "c"))).alias("e")
        ).select("e.u", "e.v")
        support = (
            tri_edges.groupBy("u", "v")
            .agg(F.count("*").alias("_sup"))
            .filter(F.col("_sup") >= k - 2)
        )
        # the peel: support comes out of its groupBy already partitioned
        # on (u, v), so a pinned hash build re-shuffles only the edges
        # and sorts neither (sort-merge beyond broadcast reach)
        return edges.join(support.hint("shuffle_hash"), ["u", "v"], "left_semi"), []

    survivors = superstep.run(spark, None, edges, [], peel, rounds).state
    for o in prev:
        o.unpersist()
    return survivors
