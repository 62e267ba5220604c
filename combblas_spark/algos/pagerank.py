"""PageRank as iterative semiring SpMV (PlusTimes).

Reference: Applications/CC_ipdps18/HPCGraph/0.1/pagerank.cpp —
damping 0.85 (:59), init 1/n scaled by 1/outdeg (:88-101), per
iteration ``pr' = α·(Σ incoming contrib + dangling_mass/n) + (1-α)/n``
with dangling (no-out-edge) mass allreduced each iteration (:160-201),
convergence ``max|pr'-pr| < tol``.

The iteration loop (one driver action per iteration, lazy checkpoint,
freed snapshots) is plans/superstep.py.  The step, tuned for
one-shuffle iterations:

* contrib(v) = rank(v)/outdeg(v) — the DimApply analogue, fused into
  the rank row as a column expression (no extra pass);
* the PlusTimes SpMV is ``edges ⋈ contrib`` — the contrib side is the
  vertex vector (tiny next to edges), so Catalyst picks a
  **broadcast-hash join: the edge table never shuffles**; the only
  wide exchange per iteration is the groupBy(dst) partial+final
  aggregation (the reference's MergeContributions);
* dangling vertices are a **static set** (outdeg == 0 never changes),
  so each iteration needs only their rank sum — folded, together with
  the convergence delta ``max|pr'-pr|``, into the superstep's one
  scalar aggregate;
* at cluster scale the same plan holds: broadcast of an O(n) vector
  (n = vertices ≪ edges for web graphs at fixed memory/executor) or,
  beyond broadcast reach, a co-partitioned shuffle of the small side
  only — either way the 100 TB edge table is read in place.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import SRC, DST, Graph
from ..plans import superstep

#: below this vertex count the rank vector is narrowed to fewer
#: partitions (driver-job latency dominates); at or above it the vector
#: keeps the superstep's hash(v, n_partitions) layout so iterations are
#: exchange-free (see the partition-width comment in pagerank())
NARROW_VEC_ROWS = 1_000_000


@dataclass
class PageRankResult:
    ranks: DataFrame          # (v: long, rank: double)
    iterations: int
    delta: float              # final convergence delta (max- or L1-norm)
    edges_processed: int      # num_edges * iterations (throughput numerator)
    loop_seconds: float = 0.0  # iteration-loop wall time, excluding one-time
                               # graph prep (Graph500-style TEPS accounting)
    iter_seconds: list = None  # per-iteration wall times (steady-state
                               # throughput = median after JIT warmup)


def pagerank(
    spark: SparkSession,
    g: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer=None,
    broadcast_contrib: bool | None = None,
    norm: str = "max",
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank to ``tol`` convergence (or ``max_iter``).

    ``norm`` selects the convergence criterion: ``"max"`` stops at
    ``max|pr'-pr| < tol`` (the per-vertex bound the small-graph parity
    gates assert), ``"l1"`` at ``sum|pr'-pr| < tol`` — the total rank
    mass still moving.  The distinction is a SCALE property, not a
    taste: ranks sum to 1, so per-vertex values — and with them the
    max-norm delta — shrink like 1/n as the corpus grows, and a fixed
    absolute max-norm tol becomes trivially satisfiable (measured on
    the 10x scale curve: 31 iterations at 1x, 21 at 10x for the same
    per-copy structure; at 10^12 vertices it would "converge"
    immediately).  The L1 delta is invariant under corpus growth (K
    key-disjoint copies: per-copy mass scales 1/K, K copies sum back),
    so ``norm="l1"`` keeps the iteration count — and the answer's
    per-copy accuracy — stable at any scale; it is what bench.py's
    converged query uses (tol 2e-3 ≈ the L1 value at the old sf0.1
    max-norm-1e-6 stop, BASELINE.md round-5).

    ``checkpointer``: optional plans.checkpoint.Checkpointer — when set,
    each iteration's ranks are snapshotted durably and the run is
    resumable (north-rule).  Without it, localCheckpoint cuts lineage.

    ``init_ranks``: optional (v, rank) warm start — vertices absent
    from it (a crawl delta's new pages) start at 1/n, then the whole
    vector is L1-normalized back to mass 1.  The incremental-update
    device (a daily delta perturbs few ranks, so a warm start converges
    in a handful of iterations instead of a cold run's dozens); ignored
    when a checkpointer resume is in progress.
    """
    if norm not in ("max", "l1"):
        raise ValueError(f"norm must be 'max' or 'l1', got {norm!r}")
    # --- static per-vertex state, computed once --------------------------
    # PageRank follows the link pattern: contribution = rank/outdeg per
    # edge, independent of edge weight (pagerank.cpp:160-201) — only the
    # (src, dst) columns are read, so column pruning trims the scan.
    # Cache edges FIRST: every derived aggregate below reads the cache
    # instead of recomputing the upstream plan (which may be an entire
    # generation or extraction pipeline).
    #
    # Partitioning strategy (the heart of the scale design):
    # * broadcast path — edges hash-partitioned by DST.  The broadcast
    #   join preserves that partitioning, so the groupBy(dst) partial+
    #   final aggregate runs WITHOUT any exchange: the superstep
    #   shuffles ZERO edge rows (measured 3-4x faster and ~0.95 core-
    #   scaling efficiency vs the shuffle plan).
    # * shuffle path (vertex vector too big to broadcast) — edges
    #   hash-partitioned by SRC so the join shuffles only the vector
    #   side; the groupBy(dst) is then the superstep's one exchange
    #   (the SUMMA communication analogue).
    from ..operators.spmv import broadcast_nnz_cutoff

    # Partition key optimistically assumes the broadcast path (DST);
    # if the vertex vector turns out too big to broadcast, the edges
    # are re-partitioned by SRC once (a one-time exchange).
    part_key = DST if broadcast_contrib in (None, True) else SRC
    edges = (
        g.edges.select(SRC, DST)
        .repartition(g.n_partitions, part_key)
        .cache()
    )
    m = edges.count()
    # vd: (v, deg) with deg=0 for dangling vertices — one union+groupBy
    # pass over the cached edges (out-degree and vertex universe fused).
    # Pinned hash(v, n_partitions): the groupBy(dst) superstep output
    # and the per-iteration ranks⋈sums join then share ONE layout, so a
    # full iteration moves ZERO vector rows between partitionings.
    vd = (
        edges.select(F.col(SRC).alias("v"), F.lit(1).alias("_c"))
        .unionByName(edges.select(F.col(DST).alias("v"), F.lit(0).alias("_c")))
        .groupBy("v")
        .agg(F.sum("_c").alias("deg"))
        .repartition(g.n_partitions, "v")
        .cache()
    )
    n = vd.count()
    # Vertex-vector partition width is a size trade-off, now decided on
    # the MEASURED n rather than guessed up front:
    # * SMALL vector (n < NARROW_VEC_ROWS, broadcast path): the cost of
    #   per-iteration driver jobs (broadcast-build scan, delta
    #   aggregate, checkpoint) is task-scheduling latency — narrow the
    #   vector to fewer partitions (vec_parts) and pay one tiny
    #   repartition per iteration.
    # * BIG vector: the narrowing itself becomes the overhead — at
    #   n=4.2M (scale-22 bench) it cost TWO O(n) exchanges per
    #   iteration (ranks⋈sums co-partition mismatch + the narrowing
    #   repartition), measured as most of the gap between the 0.87
    #   pure-superstep and ~0.7 full-loop scaling efficiency.  Keep the
    #   vector on the superstep's own hash(v, n_partitions) layout and
    #   the whole iteration is exchange-free.
    # The non-broadcast (shuffled-hash) path always needs the full
    # hash(v, n_partitions) layout to line up with the edge table.
    vec_parts = g.n_partitions
    if broadcast_contrib in (None, True) and n < NARROW_VEC_ROWS:
        narrow = max(8, g.n_partitions // 4)
        if narrow < g.n_partitions:
            vec_parts = narrow
            old_vd = vd
            vd = old_vd.repartition(vec_parts, "v").cache()
            vd.count()
            old_vd.unpersist()
    if broadcast_contrib is None:
        # SpMSpV-style switch (reference cutoff CC.h:1256): broadcast the
        # vertex vector while it fits; beyond that, co-partitioned shuffle
        # of the small side only.
        broadcast_contrib = n < broadcast_nnz_cutoff(spark)
        if not broadcast_contrib:
            old = edges
            edges = (
                g.edges.select(SRC, DST).repartition(g.n_partitions, SRC).cache()
            )
            edges.count()
            old.unpersist()
            # the narrow vec_parts above assumed the broadcast path; the
            # shuffled-hash join needs the vector side on the SAME
            # hash(v, n_partitions) layout as the edges or it would
            # re-exchange the vector every iteration — re-pin both
            # vec_parts (ranks inherit it below) and the cached vd
            # (no-op when the vector already kept the wide layout)
            if vec_parts != g.n_partitions:
                old_vd = vd
                vec_parts = g.n_partitions
                vd = old_vd.repartition(vec_parts, "v").cache()
                vd.count()
                old_vd.unpersist()

    # dangling mass: the rank on the static outdeg == 0 set
    dangling = F.sum(F.when(F.col("deg") == 0, F.col("rank"))).alias("dm")
    start_iter = 0
    init_aggs = [dangling]
    # n == 0 (edgeless graph): the empty vector, no share to compute
    share = 1.0 / n if n else 0.0
    if checkpointer is not None and checkpointer.latest_iteration() is not None:
        start_iter = checkpointer.latest_iteration() + 1
        ranks = checkpointer.load_latest(spark)
        if "deg" not in ranks.columns:
            # snapshot written by the pre-(v, deg, rank) format: re-join
            # the static degree column instead of failing on F.col("deg")
            ranks = ranks.join(vd, "v", "inner").select("v", "deg", "rank")
    elif init_ranks is not None:
        # warm start: carry over prior ranks, 1/n for new vertices,
        # re-normalize to total mass 1 (one scalar aggregate)
        r0 = vd.join(
            init_ranks.select("v", F.col("rank").alias("_r0")), "v", "left"
        ).select("v", "deg", F.coalesce("_r0", F.lit(share)).alias("rank"))
        total = float(r0.agg(F.sum("rank")).collect()[0][0])
        ranks = r0.select("v", "deg", (F.col("rank") / total).alias("rank"))
    else:
        # init 1/n; ranks carries deg so the iteration needs no extra join.
        # Dangling mass (#dangling)/n, not a sum of n-ths: the dense
        # reference's first-iteration value, bit for bit
        ranks = vd.select("v", "deg", F.lit(share).alias("rank"))
        init_aggs = [(F.count(F.when(F.col("deg") == 0, 1)) / n).alias("dm")]

    # the previous rank rides ALONG in the new row (_prev), so the
    # superstep's scalar aggregate computes the delta over the fresh
    # checkpoint alone — no O(n)⋈O(n) delta join.  Fixed-iteration mode
    # (tol < 0) needs no delta, so it drops the column entirely — a
    # narrower checkpoint row.
    prev_in = (F.col("rank").alias("_prev"),) if tol >= 0 else ()
    prev_out = ("_prev",) if tol >= 0 else ()
    aggs = [dangling]
    if tol >= 0:
        _dexpr = F.sum if norm == "l1" else F.max
        aggs.append(_dexpr(F.abs(F.col("rank") - F.col("_prev"))).alias("d"))

    def step(ranks: DataFrame, row: dict, _it: int):
        # PlusTimes SpMV: edges ⋈ contrib (broadcast) → groupBy(dst).sum.
        # contrib = rank/deg for non-dangling sources.
        contrib = (
            ranks.filter(F.col("deg") > 0)
            .select("v", (F.col("rank") / F.col("deg")).alias("val"))
        )
        # non-broadcast path: co-partitioned shuffled-hash join — edges
        # are cached hash(src, P) and the contrib side inherits the rank
        # checkpoint's hash(v, P), so the join needs NO exchange on
        # either side and no driver-side broadcast build; the hint stops
        # AQE from "helpfully" broadcasting (which would reintroduce the
        # O(n) driver constant) and SMJ from sorting the edges each
        # iteration (measured 5x slower than SHJ at scale 20).
        x = F.broadcast(contrib) if broadcast_contrib else contrib.hint("shuffle_hash")
        sums = (
            edges.join(x, edges[SRC] == x["v"], "inner")
            .groupBy(F.col(DST).alias("v"))
            .agg(F.sum(F.col("val")).alias("s"))
        )
        base = (1.0 - alpha) / n + alpha * (row["dm"] or 0.0) / n
        # On the wide layout both sides of ranks⋈sums are already
        # hash(v, n_partitions) (the checkpoint inherits the previous
        # join's layout; sums inherits the groupBy's), so a shuffled-hash
        # join is exchange-AND-sort-free.  The hint pins that plan: the
        # post-agg size of sums (~24 B/vertex) sits right at the 64 MB
        # AQE broadcast threshold at a few million vertices, and letting
        # AQE flip to a broadcast join re-introduces a multi-second
        # serial driver build per iteration (measured as run-to-run
        # 11s-vs-13s superstep floors at scale 22, local[4]).
        sums_j = sums.hint("shuffle_hash") if vec_parts == g.n_partitions else sums
        # Plan-stable iteration: ``base`` changes every iteration, and a
        # literal would be INLINED into the whole-stage-codegen source —
        # a brand-new generated class per iteration.  On big graphs that
        # measurably poisons the JIT (the C2 queue re-churns each
        # superstep; task CPU was observed 3x inflated mid-run at scale
        # 22 until profiles re-settled).  Feeding base through a 1-row
        # broadcast parameter table keeps the generated source — and so
        # the compiled class, via Spark's codegen cache — IDENTICAL
        # across iterations; only the data changes.  Small graphs keep
        # the plain literal: one extra broadcast stage per iteration
        # costs more than compilation there.
        if n >= NARROW_VEC_ROWS:
            base_param = spark.createDataFrame([(float(base),)], "_base double")
            base_col = F.col("_base")
        else:
            base_param = None
            base_col = F.lit(base)
        joined = ranks.select("v", "deg", *prev_in).join(sums_j, "v", "left")
        if base_param is not None:
            joined = joined.crossJoin(F.broadcast(base_param))
        new_ranks = joined.select(
            "v",
            "deg",
            (base_col + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                "rank"
            ),
            *prev_out,
        )
        if broadcast_contrib and vec_parts != g.n_partitions and n >= 100_000:
            # worth a stage barrier only when the vector is big enough
            # that wide task fan-out dominates (tiny graphs are pure
            # per-stage latency — an extra exchange just adds one)
            # narrow the rank row set back to the vector partition count
            # (the join output inherits the wide shuffle layout) — an
            # exchange of O(n) rows, repaid by every per-iteration driver
            # job over the checkpoint (broadcast-build scan, delta
            # aggregate) running vec_parts tasks instead of n_partitions.
            # A coalesce would be exchange-free but collapses the whole
            # superstep stage's width with it.
            new_ranks = new_ranks.repartition(vec_parts, "v")
        return new_ranks, aggs

    res = superstep.run(
        spark,
        n,
        ranks,
        init_aggs,
        step,
        max_iter,
        until=lambda row: row.get("d", float("inf")) <= tol,
        checkpointer=checkpointer,
        start=start_iter,
        metrics={"n": n, "m": m},
    )
    return PageRankResult(
        ranks=res.state.select("v", "rank"),
        iterations=res.iterations,
        delta=res.row.get("d", float("inf")),
        edges_processed=m * res.iterations,
        loop_seconds=res.loop_seconds,
        iter_seconds=res.iter_seconds,
    )


def pagerank_fixed(
    spark: SparkSession,
    g: Graph,
    n_iter: int,
    alpha: float = 0.85,
) -> DataFrame:
    """Exactly ``n_iter`` PageRank iterations (no convergence check).

    Used by the DuckDB-oracle correctness gate, where the oracle SQL
    unrolls the same number of iterations as chained CTEs.
    """
    res = pagerank(spark, g, alpha=alpha, tol=-1.0, max_iter=n_iter)
    return res.ranks


def pagerank_warm(
    spark: SparkSession,
    g: Graph,
    init_ranks: DataFrame,
    n_iter: int,
    alpha: float = 0.85,
) -> DataFrame:
    """Exactly ``n_iter`` iterations from a warm start (v, rank).

    The batch-incremental update for a crawl delta: re-rank the grown
    graph starting from yesterday's converged vector instead of 1/n —
    the PageRank sibling of algos/incremental.py's summary-matrix MCL
    restart (IncClust.h's reuse of prior state)."""
    res = pagerank(
        spark, g, alpha=alpha, tol=-1.0, max_iter=n_iter, init_ranks=init_ranks
    )
    return res.ranks
