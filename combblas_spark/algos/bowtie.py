"""Web-graph bowtie decomposition (Broder et al., "Graph structure in
the web", WWW 2000): classify every vertex of a DIRECTED link graph by
its reachability relation to a root inside the giant strongly connected
component —

  CORE  reachable from the root AND co-reachable to it (the SCC),
  IN    co-reachable only (upstream: pages that link into the core),
  OUT   reachable only (downstream: pages the core links to),
  OTHER neither (tendrils + disconnected mass).

CombBLAS expresses both sweeps as BooleanSpMV frontier expansion over A
and Aᵀ (the same kernel as TopDownBFS.cpp:437-444 without the parent
payload); the bowtie is the canonical first analysis a web-crawl link
graph gets, so it belongs next to PageRank/CC in the engine surface.

Both sweeps are one direction-tagged frontier sweep on the superstep
loop of plans/superstep.py (algos/bfs.level_sweep minus the parent
payload): a visited row (v, d, level) is forward (d = 0) or backward
(d = 1), and the backward rows walk the SAME cached edge table with the
join key flipped, so the graph is scanned once.  At 10^12 documents
both sweeps are O(diameter) supersteps over an O(m/P)-per-partition
join — no step materializes anything bigger than the reachable set.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC
from ..operators.spmv import broadcast_nnz_cutoff, vec_join_side
from .bfs import level_sweep


def _sweep(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    dirs: tuple[int, ...],
    max_iter: int,
) -> DataFrame:
    """Visited (v, d, level) of the sweeps from ``root`` in directions
    ``dirs`` (d = 0 along the edges, d = 1 against them)."""
    cutoff = broadcast_nnz_cutoff(spark)

    def step(state: DataFrame, row: dict, it: int) -> DataFrame:
        fr = state.filter(F.col("level") == it)
        reached = []
        for d in dirs:
            key, out = (DST, SRC) if d else (SRC, DST)
            s = vec_join_side(
                fr.filter(F.col("d") == d).select("v"), row["frontier"], cutoff=cutoff
            )
            reached.append(
                edges.join(s, edges[key] == s["v"], "inner").select(
                    F.col(out).alias("v"), F.lit(d).alias("d")
                )
            )
        return (
            reduce(DataFrame.unionByName, reached)
            .distinct()
            .join(state.select("v", "d"), ["v", "d"], "left_anti")
            .withColumn("level", F.lit(it + 1))
        )

    start = spark.createDataFrame(
        [(root, d, 0) for d in dirs], schema="v long, d int, level int"
    )
    return level_sweep(spark, start, step, max_iter)


def reachable_set(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    reverse: bool = False,
    max_iter: int = 10_000,
) -> DataFrame:
    """(v) reachable from ``root`` along edge direction (or against it
    when ``reverse``).  ``edges`` must already be cached/partitioned by
    the caller — both bowtie sweeps share one cached table."""
    return _sweep(spark, edges, root, (int(reverse),), max_iter).select("v")


def bowtie_decompose(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    n_partitions: int = 32,
    max_iter: int = 10_000,
) -> DataFrame:
    """(v, region) over every endpoint of ``edges``, region in
    CORE / IN / OUT / OTHER relative to ``root`` (see module doc).

    The root must sit in the component of interest (callers pick the
    max-out-degree vertex — a giant-SCC member with overwhelming
    probability on a crawl graph, and deterministic).

    Both sweeps run FUSED in one loop — each superstep advances forward
    and backward rows in a single union job, so the loop runs
    max(fwd_depth, bwd_depth) driver actions instead of their sum.
    Per-iteration driver cost is the scaling bottleneck this engine
    measures (BASELINE.md, north rule), so halving the round count
    matters more than the per-round work it adds."""
    e = (
        edges.select(SRC, DST)
        .distinct()
        .repartition(n_partitions, SRC)
        .cache()
    )
    visited = _sweep(spark, e, root, (0, 1), max_iter)
    fwd = visited.filter(F.col("d") == 0).select("v")
    bwd = visited.filter(F.col("d") == 1).select("v")

    verts = (
        e.select(F.col(SRC).alias("v"))
        .unionByName(e.select(F.col(DST).alias("v")))
        .distinct()
    )
    out = (
        verts.join(fwd.withColumn("f", F.lit(True)), "v", "left")
        .join(bwd.withColumn("b", F.lit(True)), "v", "left")
        .select(
            "v",
            F.when(F.col("f") & F.col("b"), "CORE")
            .when(F.col("b"), "IN")
            .when(F.col("f"), "OUT")
            .otherwise("OTHER")
            .alias("region"),
        )
    )
    e.unpersist()
    return out
