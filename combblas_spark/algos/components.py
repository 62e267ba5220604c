"""Connected components: FastSV (primary) and Awerbuch–Shiloach hooking.

FastSV reference: Applications/FastSV.h:336-375 — per iteration
  mngp = SpMV_min(A, gp)             # min grandparent over neighbors
  hook: D[u] = min(D[u], mngp at parent and at self)
  shortcut: gp = D[D]                # pointer jumping
  stop when no label changed.

LACC/Awerbuch–Shiloach reference: Applications/CC.h:1430-1544
(ConditionalHook :1194, StarCheck :1034, UnconditionalHook2 :1242,
Shortcut :1321).  We implement FastSV-style min-label propagation with
pointer-jumping as the primary (BSP-friendliest) variant and a
hooking-on-stars variant for parity.

Spark formulation per iteration: one SpMV join (edges ⋈ labels →
groupBy.min — the Select2ndMinSR semiring, CC.h:62-84), one
pointer-jump self-join, one scalar agg for convergence.  Labels
converge to the **minimum vertex id of the component** — the
normalization the tests use (SURVEY.md §7c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans.superstep import vector_side


def _symmetrized_edges(g: Graph) -> DataFrame:
    e = g.edges.select(SRC, DST)
    return e.unionByName(
        e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    ).distinct()


def connected_components(
    spark: SparkSession,
    g: Graph,
    max_iter: int = 64,
    checkpointer=None,
) -> DataFrame:
    """(v, comp) — comp = min vertex id in the component.

    FastSV-style: alternate min-neighbor-label propagation with
    pointer jumping (label[label]) so chains converge in O(log n)
    supersteps (the chain_1k fixture is the worst case).
    """
    edges = _symmetrized_edges(g).repartition(g.n_partitions, SRC).cache()
    edges.count()
    # symmetrized ⇒ every vertex appears as src: derive the label init
    # from the CACHED edges, not the upstream plan (which could be a
    # whole extraction pipeline re-executed)
    labels = (
        edges.select(F.col(SRC).alias("v"))
        .distinct()
        .select("v", F.col("v").alias("comp"))
        .repartition(g.n_partitions, "v")
        .cache()
    )
    n = labels.count()
    # bytes-aware broadcast-or-shuffled-hash switch for the O(n) vector
    # side — policy lives in operators/spmv.vec_join_side
    _vec = vector_side(spark, n)

    for it in range(max_iter):
        # SpMV over Select2ndMin: min neighbor label per vertex
        nbr_min = (
            edges.join(_vec(labels), edges[SRC] == labels["v"], "inner")
            .groupBy(F.col(DST).alias("v"))
            .agg(F.min("comp").alias("nmin"))
        )
        hooked = (
            labels.join(nbr_min, "v", "left")
            .select(
                "v",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
        # pointer jump: comp = comp[comp] (Shortcut, CC.h:1321-1341 /
        # FullyDistVec subsref gather, FullyDistVec.cpp:933)
        l2 = hooked.select(F.col("v").alias("p"), F.col("comp").alias("pcomp"))
        jumped = (
            hooked.join(_vec(l2), hooked["comp"] == l2["p"], "left")
            .select("v", F.coalesce(F.col("pcomp"), F.col("comp")).alias("comp"))
            .repartition(g.n_partitions, "v")
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = (
            jumped.join(_vec(labels.withColumnRenamed("comp", "old")), "v")
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = jumped
        if checkpointer is not None:
            labels = checkpointer.snapshot(labels, it, metrics={"changed": changed})
        if changed == 0:
            break
    return labels


def connected_components_as(
    spark: SparkSession,
    g: Graph,
    max_iter: int = 64,
) -> DataFrame:
    """Awerbuch–Shiloach-flavoured variant: conditional hook of star
    roots onto smaller neighbors, then full pointer-jump shortcutting
    until stars only (CC.h:1194-1341 structure, declaratively).

    Produces identical (v, comp=min-member-id) labels to
    :func:`connected_components`; kept as the cross-path consistency
    check (SURVEY.md §5 — same result from independent code paths).
    """
    edges = _symmetrized_edges(g).repartition(g.n_partitions, SRC).cache()
    parents = (
        g.vertices().select("v", F.col("v").alias("p")).repartition(g.n_partitions, "v")
    ).cache()
    n = parents.count()
    # see operators/spmv.vec_join_side: bytes-aware strategy switch
    _vec = vector_side(spark, n)

    for it in range(max_iter):
        # min neighbor parent per vertex (Select2ndMin SpMV)
        nbr = (
            edges.join(_vec(parents), edges[SRC] == parents["v"], "inner")
            .groupBy(F.col(DST).alias("v"))
            .agg(F.min("p").alias("minp"))
        )
        # conditional hook: a root hooks onto the smallest neighbor parent
        # seen by any of its children or itself, if smaller.
        cand = (
            parents.join(nbr, "v", "left")
            .select("v", "p", F.coalesce(F.col("minp"), F.col("p")).alias("minp"))
            .groupBy(F.col("p").alias("root"))
            .agg(F.min("minp").alias("newp"))
            .filter(F.col("newp") < F.col("root"))
        )
        hooked = (
            parents.join(_vec(cand), parents["p"] == cand["root"], "left")
            .select("v", F.coalesce(F.col("newp"), F.col("p")).alias("p"))
        )
        # shortcut to fixpoint-ish: two pointer jumps per superstep
        for _ in range(2):
            l2 = hooked.select(F.col("v").alias("q"), F.col("p").alias("qp"))
            hooked = (
                hooked.join(_vec(l2), hooked["p"] == l2["q"], "left")
                .select("v", F.coalesce(F.col("qp"), F.col("p")).alias("p"))
            )
        hooked = hooked.repartition(g.n_partitions, "v").localCheckpoint(eager=True)
        changed = (
            hooked.join(_vec(parents.withColumnRenamed("p", "old")), "v")
            .filter(F.col("p") != F.col("old"))
            .limit(1)
            .count()
        )
        parents = hooked
        if changed == 0:
            break
    return parents.select("v", F.col("p").alias("comp"))


def component_sizes(labels: DataFrame) -> DataFrame:
    """Component-size histogram (HistCC, Applications/CC.h:1576-1617)."""
    return (
        labels.groupBy("comp")
        .count()
        .groupBy(F.col("count").alias("size"))
        .agg(F.count("*").alias("n_components"))
        .orderBy("size")
    )
