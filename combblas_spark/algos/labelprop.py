"""Label propagation via the "argmax-count semiring".

Reference: Applications/CC_ipdps18/HPCGraph/0.1/labelprop.cpp:68-220 —
init label = vertex id (:92-99); each iteration every vertex adopts its
neighbors' most frequent label (:152-200), ties broken toward the
smaller label (deterministic).

The argmax-over-counts "semiring" is not a Column-pair algebra; it
compiles to **two-level aggregation**: groupBy(dst, label).count() then
a per-dst argmax window (row_number ordered by count desc, label asc).
This is SURVEY.md §2.7's "argmax semiring = two-level aggregation".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans.superstep import vector_side


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
    e = g.edges.select(SRC, DST)
    if symmetrize:
        e = e.unionByName(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        e = e.distinct()
    edges = e.repartition(g.n_partitions, SRC).cache()
    edges.count()

    # init from the CACHED edge table (not the upstream plan); with
    # symmetrize every vertex appears as src, otherwise union both ends
    if symmetrize:
        vs = edges.select(F.col(SRC).alias("v"))
    else:
        vs = edges.select(F.col(SRC).alias("v")).unionByName(
            edges.select(F.col(DST).alias("v"))
        )
    labels = (
        vs.distinct().select("v", F.col("v").alias("label"))
        .repartition(g.n_partitions, "v")
        .cache()
    )
    n = labels.count()
    # bytes-aware broadcast-or-shuffled-hash switch for the O(n) vector
    # side — policy lives in operators/spmv.vec_join_side
    _vec = vector_side(spark, n)

    argmax = Window.partitionBy("v").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(n_iter):
        counted = (
            edges.join(_vec(labels), edges[SRC] == labels["v"], "inner")
            .groupBy(F.col(DST).alias("v"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        top = (
            counted.withColumn("rn", F.row_number().over(argmax))
            .filter(F.col("rn") == 1)
            .select("v", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(_vec(top), "v", "left")
            .select("v", F.coalesce(F.col("new_label"), F.col("label")).alias("label"))
            .repartition(g.n_partitions, "v")
            .localCheckpoint(eager=True)
        )
    return labels
