"""Label propagation via the "argmax-count semiring".

Reference: Applications/CC_ipdps18/HPCGraph/0.1/labelprop.cpp:68-220 —
init label = vertex id (:92-99); each iteration every vertex adopts its
neighbors' most frequent label (:152-200), ties broken toward the
smaller label (deterministic).

The argmax-over-counts "semiring" is not a Column-pair algebra; it
compiles to **two-level aggregation**: groupBy(dst, label).count() then
a per-dst argmax window (row_number ordered by count desc, label asc).
This is SURVEY.md §2.7's "argmax semiring = two-level aggregation".
Each round is one step on the superstep loop (plans/superstep.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans import superstep


def label_propagation(
    spark: SparkSession,
    g: Graph,
    n_iter: int = 10,
    symmetrize: bool = True,
) -> DataFrame:
    """(v, label) after ``n_iter`` synchronous LP rounds.

    Deterministic: ties on count break to the smaller label, and a
    vertex keeps its label only when it has no neighbors.
    """
    edges = (
        (g.symmetrize() if symmetrize else g).edges.select(SRC, DST)
        .repartition(g.n_partitions, SRC)
        .cache()
    )
    # init from the CACHED edge table (not the upstream plan); with
    # symmetrize every vertex appears as src, otherwise union both ends
    vs = edges.select(F.col(SRC).alias("v"))
    if not symmetrize:
        vs = vs.unionByName(edges.select(F.col(DST).alias("v")))
    start = (
        vs.distinct().select("v", F.col("v").alias("label"))
        .repartition(g.n_partitions, "v")
    )
    argmax = Window.partitionBy("v").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )

    def step(labels: DataFrame, row: dict, _it: int):
        vec = superstep.vector_side(spark, row["rows"])
        counted = (
            edges.join(vec(labels), edges[SRC] == labels["v"], "inner")
            .groupBy(F.col(DST).alias("v"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        top = (
            counted.withColumn("rn", F.row_number().over(argmax))
            .filter(F.col("rn") == 1)
            .select("v", F.col("label").alias("new_label"))
        )
        new = (
            labels.join(vec(top), "v", "left")
            .select("v", F.coalesce(F.col("new_label"), F.col("label")).alias("label"))
            .repartition(g.n_partitions, "v")
        )
        return new, []

    res = superstep.run(
        spark, None, start, [], step, n_iter, until=lambda row: row["rows"] == 0
    )
    edges.unpersist()
    return res.state
