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

Both are a hook step on the superstep loop (plans/superstep.py): one
SpMV join (edges ⋈ labels → groupBy.min — the Select2ndMinSR semiring,
CC.h:62-84), the hook, pointer-jump self-joins, and the count of
changed labels in the loop's one aggregate (each row carries its
previous label as ``old``).  Labels converge to the **minimum vertex id
of the component** — the normalization the tests use (SURVEY.md §7c).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans import superstep

Vec = Callable[[DataFrame], DataFrame]


def _label_sweep(
    spark: SparkSession,
    g: Graph,
    hook: Callable[[DataFrame, DataFrame, Vec], DataFrame],
    max_iter: int,
    checkpointer=None,
) -> DataFrame:
    """(v, comp) from comp = v, iterating ``hook(edges, labels, vec)``
    — which returns (v, comp, old) — until no label changes."""
    edges = g.symmetrize().edges.select(SRC, DST).repartition(g.n_partitions, SRC).cache()
    # symmetrized ⇒ every vertex appears as src: the label init reads
    # the CACHED edges, not the upstream plan (maybe a whole pipeline)
    start = (
        edges.select(F.col(SRC).alias("v")).distinct()
        .select("v", F.col("v").alias("comp"))
        .repartition(g.n_partitions, "v")
    )

    def step(state: DataFrame, row: dict, _it: int):
        vec = superstep.vector_side(spark, row["rows"])
        new = hook(edges, state.select("v", "comp"), vec)
        return new.repartition(g.n_partitions, "v"), [
            F.count(F.when(F.col("comp") != F.col("old"), 1)).alias("changed")
        ]

    res = superstep.run(
        spark, None, start, [], step, max_iter,
        until=lambda row: row["rows"] == 0 or row.get("changed") == 0,
        checkpointer=checkpointer,
    )
    edges.unpersist()
    return res.state.select("v", "comp")


def _nbr_min(edges: DataFrame, labels: DataFrame, vec: Vec) -> DataFrame:
    """SpMV over Select2ndMin: (v, nmin) = min neighbor label per vertex."""
    return (
        edges.join(vec(labels), edges[SRC] == labels["v"], "inner")
        .groupBy(F.col(DST).alias("v"))
        .agg(F.min("comp").alias("nmin"))
    )


def _jump(df: DataFrame, vec: Vec) -> DataFrame:
    """Pointer jump comp = comp[comp] (Shortcut, CC.h:1321-1341 /
    FullyDistVec subsref gather, FullyDistVec.cpp:933)."""
    l2 = df.select(F.col("v").alias("p"), F.col("comp").alias("pcomp"))
    return (
        df.join(vec(l2), df["comp"] == l2["p"], "left")
        .select("v", F.coalesce(F.col("pcomp"), F.col("comp")).alias("comp"), "old")
    )


def _fastsv_hook(edges: DataFrame, labels: DataFrame, vec: Vec) -> DataFrame:
    hooked = labels.join(_nbr_min(edges, labels, vec), "v", "left").select(
        "v", F.least("comp", "nmin").alias("comp"), F.col("comp").alias("old")
    )
    return _jump(hooked, vec)


def _as_hook(edges: DataFrame, labels: DataFrame, vec: Vec) -> DataFrame:
    # conditional hook: a root hooks onto the smallest neighbor parent
    # seen by any of its children or itself, if smaller.
    cand = (
        labels.join(_nbr_min(edges, labels, vec), "v", "left")
        .groupBy(F.col("comp").alias("root"))
        .agg(F.min(F.coalesce("nmin", "comp")).alias("newp"))
        .filter(F.col("newp") < F.col("root"))
    )
    hooked = labels.join(vec(cand), labels["comp"] == cand["root"], "left").select(
        "v", F.coalesce("newp", "comp").alias("comp"), F.col("comp").alias("old")
    )
    # shortcut to fixpoint-ish: two pointer jumps per superstep
    return _jump(_jump(hooked, vec), vec)


def connected_components(
    spark: SparkSession,
    g: Graph,
    max_iter: int = 64,
    checkpointer=None,
) -> DataFrame:
    """(v, comp) — comp = min vertex id in the component.

    FastSV-style: alternate min-neighbor-label propagation with
    pointer jumping (label[label]) so chains converge in O(log n)
    supersteps (the chain_1k fixture is the worst case).  With a
    ``checkpointer`` every superstep's labels are snapshotted durably.
    """
    return _label_sweep(spark, g, _fastsv_hook, max_iter, checkpointer)


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
    return _label_sweep(spark, g, _as_hook, max_iter)


def component_sizes(labels: DataFrame) -> DataFrame:
    """Component-size histogram (HistCC, Applications/CC.h:1576-1617)."""
    return (
        labels.groupBy("comp")
        .count()
        .groupBy(F.col("count").alias("size"))
        .agg(F.count("*").alias("n_components"))
        .orderBy("size")
    )
