"""Single-source shortest paths as iterative MinPlus-semiring SpMV.

Reference semantics: MinPlusSRing (include/CombBLAS/Semirings.h:235-256,
saturating inf_plus at :40-47) — per round (Bellman-Ford superstep):

    dist' = min(dist, min over incoming edges (dist[src] + w))

Spark: one co-partitioned join + groupBy(dst).min per round, then an
element-wise min merge (vec EWiseApply) — one relax step on the
superstep loop (plans/superstep.py).  Each row carries its previous
distance as ``old``, so the count of improved rows rides in the loop's
one aggregate and the loop stops at the fixpoint: at most diameter
rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.semiring import MIN_PLUS
from ..graph import Graph
from ..operators.spmv import spmv
from ..plans import superstep


def sssp_rounds(
    spark: SparkSession,
    g: Graph,
    source: int,
    n_rounds: int,
) -> DataFrame:
    """(v, dist) after ``n_rounds`` Bellman-Ford supersteps (fewer when
    the distances reach their fixpoint sooner: more rounds would not
    change them).

    Only reached vertices appear (sparse frontier semantics, matching
    FullyDistSpVec); unreached = +inf = absent.
    """
    return sssp(spark, g, source, max_rounds=n_rounds)


def sssp(
    spark: SparkSession,
    g: Graph,
    source: int,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Run to fixpoint (no distance change) — full Bellman-Ford."""
    edges = Graph(g.edges.repartition(g.n_partitions, "src").cache(), g.n_partitions)

    def step(state: DataFrame, _row: dict, _it: int):
        dist = state.select("v", F.col("val").alias("old"))
        relaxed = spmv(edges, state.select("v", "val"), MIN_PLUS)
        # least() skips nulls: an unreached side is +inf
        new = dist.join(relaxed, "v", "full").select(
            "v", F.least("old", "val").alias("val"), "old"
        )
        changed = F.col("old").isNull() | (F.col("val") < F.col("old"))
        return new, [F.count(F.when(changed, 1)).alias("changed")]

    start = spark.createDataFrame([(source, 0.0)], "v long, val double")
    res = superstep.run(
        spark, None, start, [], step, max_rounds,
        until=lambda row: row.get("changed") == 0,
    )
    edges.edges.unpersist()
    return res.state.select("v", F.col("val").alias("dist"))
