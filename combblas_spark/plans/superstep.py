"""The superstep loop shared by the vector-iterative kernels.

PageRank, weighted and personalized PageRank, Katz, HITS and SALSA are
each a semiring SpMV plus element-wise steps and a scalar reduction,
repeated.  A kernel supplies its starting vector and a ``step``; this
module owns the loop.  The k-truss peel (algos/truss.py) runs on it
too, with the surviving edges as its state, and so do the frontier
kernels — the four BFS variants and the reachability/bowtie sweeps
(algos/bfs.py, algos/bowtie.py) — with the visited table as theirs,
and connected components (FastSV and Awerbuch–Shiloach, algos/
components.py), label propagation (algos/labelprop.py) and
Bellman-Ford SSSP (algos/sssp.py) with their label or distance vector:

* ONE driver action per superstep.  The step's new state row carries
  whatever the next step reads (PageRank's previous rank, HITS's other
  vector), and a *lazy* ``localCheckpoint`` (or a durable
  ``Checkpointer.snapshot``) materializes as a side effect of the
  step's fused scalar aggregate (convergence delta, dangling mass,
  normalizer) — no separate checkpoint job and no O(n)⋈O(n)
  follow-up join.  The reference's allreduce (pagerank.cpp:160-201) is
  likewise one fold over the new vector.
* Freeing this loop's own superseded checkpoints.
* Per-superstep wall times.

Steps pin ``shuffle_hash`` on their ``state ⋈ sums`` join: left to AQE,
the small post-aggregate side flips to a broadcast, one more job per
superstep.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spmv import broadcast_nnz_cutoff, vec_join_side


@dataclass
class Supersteps:
    state: DataFrame          # last state vector (checkpoint-backed)
    row: dict                 # its scalar aggregates ({} when n == 0)
    iterations: int           # supersteps done, counting from ``start``
    loop_seconds: float = 0.0  # wall time of the supersteps, excluding
                               # the starting vector's materialization
    iter_seconds: list = field(default_factory=list)


def run(
    spark: SparkSession,
    n: int | None,
    state: DataFrame,
    aggs: list[Column],
    step: Callable[[DataFrame, dict, int], tuple[DataFrame, list[Column]]],
    max_iter: int,
    until: Callable[[dict], bool] | None = None,
    checkpointer=None,
    start: int = 0,
    metrics: dict | None = None,
) -> Supersteps:
    """Iterate ``step`` from ``state`` until ``max_iter`` supersteps or
    ``until(row)``.

    ``state`` is the starting vector over ``n`` vertices and ``aggs``
    the scalars the first step reads; both materialize in one action.
    Each superstep calls ``step(state, row, it)`` with the previous
    state, its aggregate row (a dict) and the superstep index, and
    materializes the returned state together with the returned
    aggregates.  With a ``checkpointer`` every superstep's state is
    snapshotted durably (``start`` then resumes a run), else it is
    ``localCheckpoint``-ed.

    An edgeless graph (``n == 0``) returns ``state`` as it is, after
    zero supersteps: there is nothing to iterate, and the kernels'
    steps divide by n.  A step that divides by nothing passes
    ``n=None`` and always runs.
    """
    if n == 0:
        return Supersteps(state, {}, start)
    state, row, own = _settle(spark, state.localCheckpoint(eager=False), aggs, set())
    it, iter_seconds = start, []
    t0 = time.time()
    while it < max_iter and not (until is not None and until(row)):
        t = time.time()
        new, aggs = step(state, row, it)
        if checkpointer is not None:
            snap = checkpointer.snapshot(new, it, metrics=metrics)
        else:
            snap = new.localCheckpoint(eager=False)
        state, row, own = _settle(spark, snap, aggs, own)
        it += 1
        iter_seconds.append(time.time() - t)
    return Supersteps(state, row, it, time.time() - t0, iter_seconds)


def _settle(
    spark: SparkSession, snap: DataFrame, aggs: list[Column], own: set[int]
) -> tuple[DataFrame, dict, set[int]]:
    """Run ``snap``'s scalar aggregates — the action that materializes a
    lazy checkpoint — then free the superseded checkpoints ``own``;
    returns ``snap``, the aggregate row and ``snap``'s own RDD id.  The
    row count keeps the action defined for steps with no scalar."""
    row = snap.agg(F.count(F.lit(1)).alias("rows"), *aggs).collect()[0].asDict()
    new = {i for i in (_checkpoint_rdd_id(snap),) if i is not None}
    _unpersist_rdds(spark, own - new)
    return snap, row, new


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """Id of the RDD backing a localCheckpointed DataFrame.

    ``localCheckpoint`` rewrites the plan to a ``LogicalRDD`` holding the
    (to-be-)persisted RDD, so the id is known even before a lazy
    checkpoint materializes.  Returns ``None`` for plans that are not
    checkpoint-backed (e.g. the durable-snapshot path re-reads parquet).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            return int(plan.rdd().id())
    except Exception:
        pass
    return None


def _unpersist_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Non-blocking unpersist of the given persisted RDD ids — only ids
    this loop created: a global persisted-map diff would also free RDDs
    another driver thread persists mid-iteration (Spark supports
    concurrent jobs on one session), truncating THEIR lineage.

    Unfreed, superseded checkpoint blocks wait for a (rare, 48g-heap)
    JVM GC to let ContextCleaner reap them, and the block-manager
    pressure degrades later iterations (the round-4 scaling series show
    7.4->13.3 s/iter drift within a run).  The reference simply frees
    the previous iteration's dense vector (pagerank.cpp swaps two
    preallocated vectors).
    """
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)


def vector_side(spark: SparkSession, n: int) -> Callable[[DataFrame], DataFrame]:
    """``df -> df`` pinning an O(n) vertex vector's strategy as the small
    side of a superstep's SpMV join (operators.spmv.vec_join_side), with
    the broadcast cutoff read once per kernel call instead of per join."""
    cutoff = broadcast_nnz_cutoff(spark)
    return lambda df: vec_join_side(df, n, cutoff=cutoff)
