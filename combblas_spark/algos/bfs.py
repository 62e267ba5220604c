"""BFS (top-down) as frontier SpMV over the SelectMax semiring.

Reference: Applications/TopDownBFS.cpp:437-444 —
  fringe = SpMV(A, fringe)  (SelectMaxSRing parent selection, :136)
  fringe = EWiseMult(fringe, parents, exclude=true)   # drop visited
  parents.Set(fringe)

Every variant here is that level step on the superstep loop
(plans/superstep.py, via ``level_sweep``): the state is the visited
table with a ``level`` per row, the frontier is its last level, and the
loop stops on the first empty one.  The frontier side of the join
follows the iterative kernels' broadcast policy
(operators.spmv.vec_join_side — the SpMSpV path, ParFriends.h:2429-2922).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..operators.spmv import broadcast_nnz_cutoff, vec_join_side
from ..plans import superstep

_ROW = "v long, parent long, level int"


def level_sweep(
    spark: SparkSession,
    state: DataFrame,
    step: Callable[[DataFrame, dict, int], DataFrame],
    max_iter: int,
    aggs: Callable[[int], list[Column]] = lambda level: [],
) -> DataFrame:
    """The visited table after at most ``max_iter`` levels from ``state``
    (its rows at level 0).  ``step(state, row, it)`` returns the rows of
    level ``it + 1``; ``row["frontier"]`` is the size of level ``it``,
    and ``aggs(level)`` adds scalars over the state after each level."""

    def frontier(level: int) -> list[Column]:
        return [F.count(F.when(F.col("level") == level, 1)).alias("frontier"), *aggs(level)]

    def union(state: DataFrame, row: dict, it: int):
        return state.unionByName(step(state, row, it)), frontier(it + 1)

    return superstep.run(
        spark, None, state, frontier(0), union, max_iter,
        until=lambda row: row["frontier"] == 0,
    ).state


def _pattern(g: Graph, symmetrize: bool) -> DataFrame:
    """The (src, dst) pattern a traversal walks: A + Aᵀ if ``symmetrize``."""
    return (g.symmetrize() if symmetrize else g).edges.select(SRC, DST)


def _top_down(
    edges: DataFrame, state: DataFrame, it: int, size: int, cutoff: int, *pick: Column
) -> DataFrame:
    """Level ``it + 1``: frontier ⋈ edges, grouped per destination by the
    ``pick`` aggregates (the parent choice), minus the visited set."""
    fr = vec_join_side(state.filter(F.col("level") == it).select("v"), size, cutoff=cutoff)
    return (
        edges.join(fr, edges[SRC] == fr["v"], "inner")
        .groupBy(F.col(DST).alias("v"))
        .agg(*pick)
        # EWiseMult(..., exclude=true): drop already-visited
        .join(state.select("v"), "v", "left_anti")
        .withColumn("level", F.lit(it + 1))
    )


def _bfs(
    spark: SparkSession,
    g: Graph,
    source: int,
    symmetrize: bool,
    max_iter: int,
    parent: Callable[[int], Column],
) -> DataFrame:
    """Top-down BFS whose level ``L`` picks ``parent(L)`` per child."""
    edges = _pattern(g, symmetrize).repartition(g.n_partitions, SRC).cache()
    cutoff = broadcast_nnz_cutoff(spark)

    def step(state: DataFrame, row: dict, it: int) -> DataFrame:
        pick = parent(it + 1).alias("parent")
        return _top_down(edges, state, it, row["frontier"], cutoff, pick)

    start = spark.createDataFrame([(source, source, 0)], schema=_ROW)
    out = level_sweep(spark, start, step, max_iter)
    edges.unpersist()
    return out


def bfs(
    spark: SparkSession,
    g: Graph,
    source: int,
    symmetrize: bool = True,
    max_iter: int = 10_000,
) -> DataFrame:
    """(v, parent, level) for vertices reachable from ``source``.

    parent of the source is itself (Graph500 convention); parent choice
    is the max eligible predecessor (SelectMaxSRing) so results are
    deterministic.
    """
    return _bfs(spark, g, source, symmetrize, max_iter, lambda level: F.max(SRC))


def bfs_dir_opt(
    spark: SparkSession,
    g: Graph,
    source: int,
    symmetrize: bool = True,
    max_iter: int = 10_000,
) -> DataFrame:
    """Direction-optimizing BFS (DirOptBFS.cpp:364-440).

    Same (v, parent, level) result as ``bfs`` (parent = max eligible
    predecessor, so the two paths are cross-checkable — the reference's
    own consistency methodology, MultTest.cpp:146-200), but the
    physical per-level plan switches direction:

    * **top-down** — probe FROM the frontier: broadcast the (small)
      frontier into the edge scan; cost ∝ frontier out-edges.
    * **bottom-up** — probe INTO the unvisited side: edges are pruned
      by dst-not-yet-visited (anti-join) BEFORE meeting the frontier,
      and the (huge) frontier rides a shuffle join instead of a
      broadcast; cost ∝ unvisited in-edges.  On hub-heavy web graphs
      this is the difference between touching the frontier's entire
      fan-out and touching each undiscovered vertex once.

    Switch rule = the reference's cutoffs (DirOptBFS.cpp:363-365,
    388, 409): go bottom-up while scout_count (frontier out-edge sum)
    > m/20 and the frontier is growing; return top-down when
    fringe_size < n²/(12m) and shrinking.  Each edge carries its
    destination's out-degree and each visited row its own, so the
    scout count is one more scalar of the level's aggregate.
    """
    e = _pattern(g, symmetrize)
    deg = e.groupBy(F.col(SRC).alias(DST)).agg(F.count("*").alias("ddeg"))
    edges = (
        e.join(deg, DST, "left")
        .select(SRC, DST, F.coalesce("ddeg", F.lit(0)).alias("ddeg"))
        .repartition(g.n_partitions, SRC)
        .cache()
    )
    m, n, d0 = edges.agg(
        F.count("*"), F.countDistinct(SRC), F.count(F.when(F.col(SRC) == source, 1))
    ).collect()[0]
    up_cutoff = m / 20.0
    down_cutoff = float(n) * float(n) / (max(m, 1) * 12.0)
    cutoff = broadcast_nnz_cutoff(spark)
    bottom_up = False

    def step(state: DataFrame, row: dict, it: int) -> DataFrame:
        nonlocal bottom_up
        size, last = row["frontier"], row["last"]
        if not bottom_up:
            bottom_up = row["scout"] > up_cutoff and last < size
        elif size < down_cutoff and last > size:
            bottom_up = False
        pick = (F.max(SRC).alias("parent"), F.max("ddeg").alias("deg"))
        if not bottom_up:
            return _top_down(edges, state, it, size, cutoff, *pick)
        # prune edges to unvisited destinations FIRST, then a shuffle
        # join against the (large) frontier — no broadcast
        unvisited_edges = edges.join(
            state.select(F.col("v").alias(DST)), DST, "left_anti"
        )
        fr = state.filter(F.col("level") == it).select(F.col("v").alias(SRC))
        return (
            unvisited_edges.join(fr, SRC, "left_semi")
            .groupBy(F.col(DST).alias("v"))
            .agg(*pick)
            .withColumn("level", F.lit(it + 1))
        )

    def aggs(level: int) -> list[Column]:
        return [
            F.count(F.when(F.col("level") == level - 1, 1)).alias("last"),
            F.coalesce(
                F.sum(F.when(F.col("level") == level, F.col("deg"))), F.lit(0)
            ).alias("scout"),
        ]

    start = spark.createDataFrame(
        [(source, source, 0, d0)], schema=_ROW + ", deg long"
    )
    out = level_sweep(spark, start, step, max_iter, aggs)
    edges.unpersist()
    return out.select("v", "parent", "level")


def random_parent_bfs(
    spark: SparkSession,
    g: Graph,
    source: int,
    seed: int = 42,
    symmetrize: bool = True,
    max_iter: int = 10_000,
) -> DataFrame:
    """BFS with RANDOM parent selection (Applications/RandomParentBFS.
    cpp:92-117, SelectRandSRing): every eligible (frontier, child) edge
    draws a priority and the child adopts the minimum-priority parent —
    versus ``bfs``'s deterministic max-id choice.

    The reference draws ``GlobalMT.rand()`` per multiply; here the
    priority is ``xxhash64(parent, child, level, seed)`` — the same
    "uniform random eligible parent" distribution but reproducible
    under a fixed seed (the reference's own DETERMINISTIC-build
    MTRand(1) trick, TopDownBFS.cpp:29).  Level sets are identical to
    ``bfs`` (parent choice never changes reachability), which is the
    cross-path consistency check the tests pin."""

    def parent(level: int) -> Column:
        # SelectRandSRing: min random priority among eligible parents
        return F.min_by(SRC, F.xxhash64(
            F.col(SRC), F.col(DST), F.lit(level).cast("long"),
            F.lit(seed).cast("long"),
        ))

    return _bfs(spark, g, source, symmetrize, max_iter, parent)


def single_child_bfs(
    spark: SparkSession,
    g: Graph,
    source: int,
    symmetrize: bool = True,
    max_iter: int = 10_000,
) -> DataFrame:
    """BFS that also tracks the SINGLE-CHILD frontier (Applications/
    SingleChildBFS.cpp:280-281): after each level's parent assignment,
    ``fringe.Uniq(RandReduce)`` keeps ONE representative child per
    parent — the thinned frontier a sampling traversal would expand.

    Parent selection matches ``bfs`` (max eligible predecessor); the
    representative per (parent, level) is the min child id (a
    deterministic stand-in for the reference's random reduce — same
    cardinality, reproducible).  A parent's children at a level are
    exactly the tree rows with that (parent, level), so the flags are
    one aggregate over the finished tree.  Returns (v, parent, level,
    single_child) where exactly one row per (parent, level ≥ 1) has
    ``single_child`` true."""
    tree = bfs(spark, g, source, symmetrize, max_iter)
    # fringe.Uniq: one representative child per parent and level
    rep = tree.groupBy("parent", "level").agg(F.min("v").alias("_rep"))
    return tree.join(rep, ["parent", "level"]).select(
        "v", "parent", "level", (F.col("v") == F.col("_rep")).alias("single_child")
    )


def validate_bfs_tree(
    spark: SparkSession,
    g: Graph,
    tree: DataFrame,
    symmetrize: bool = True,
) -> DataFrame:
    """Graph500-style BFS tree validation as a 1-row summary.

    The reference validates every BFS run before counting it
    (Applications/TopDownBFS.cpp — spec checks: one self-parented root
    at level 0, every tree edge exists in the graph, every non-root's
    level is its parent's level + 1, no vertex appears twice).  Here
    each check is one distributed join/aggregate over the (v, parent,
    level) table; only the four counters reach the driver.

    Returns (n_roots, n_dup, bad_edges, bad_levels) — a valid tree is
    (1, 0, 0, 0).  Every self-parented row counts as a root, whatever
    its level, so a second one is caught even away from level 0.
    """
    e = _pattern(g, symmetrize)
    tree = tree.cache()
    n_roots = tree.filter(F.col("v") == F.col("parent")).count()
    n_dup = tree.count() - tree.select("v").distinct().count()
    nonroot = tree.filter(F.col("v") != F.col("parent"))
    bad_edges = nonroot.join(
        e.select(F.col(SRC).alias("parent"), F.col(DST).alias("v")).hint(
            "shuffle_hash"
        ),
        ["parent", "v"],
        "left_anti",
    ).count()
    plevels = tree.select(
        F.col("v").alias("parent"), F.col("level").alias("_plevel")
    )
    bad_levels = (
        nonroot.join(plevels, "parent", "left")
        .filter(
            F.col("_plevel").isNull()
            | (F.col("level") != F.col("_plevel") + 1)
        )
        .count()
    )
    return spark.createDataFrame(
        [(n_roots, n_dup, bad_edges, bad_levels)],
        "n_roots long, n_dup long, bad_edges long, bad_levels long",
    )
