"""Triangles vs brute force, label propagation determinism, BFS parent
validity (structural invariant per TopDownBFS.cpp:448-458)."""

from itertools import combinations

import pytest

from combblas_spark.algos.bfs import bfs
from combblas_spark.algos.labelprop import label_propagation
from combblas_spark.algos.triangles import per_vertex_triangles, triangle_count
from combblas_spark.sources import fixtures as FX


def brute_triangles(triples):
    adj = {}
    for s, d, _ in triples:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    count = 0
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            count += 1
    return count


TRI_CASES = [
    ("seven", FX.SEVEN),
    ("nine", FX.NINE),
    ("two_cliques", FX.TWO_CLIQUES),
    ("star", FX.star_hub(50)),
]


@pytest.mark.parametrize("name,triples", TRI_CASES)
def test_triangle_count(spark, name, triples):
    g = FX.graph(spark, triples)
    assert triangle_count(spark, g) == brute_triangles(triples), name


def test_per_vertex_triangles_k5(spark):
    g = FX.graph(spark, FX.TWO_CLIQUES)
    pv = {r["v"]: r["triangles"] for r in per_vertex_triangles(spark, g).collect()}
    # every K5 vertex is in C(4,2)=6 triangles; isolate absent
    assert pv == {v: 6 for v in range(10)}


def test_label_propagation_cliques(spark):
    g = FX.graph(spark, FX.TWO_CLIQUES)
    labels = {r["v"]: r["label"] for r in label_propagation(spark, g, n_iter=5).collect()}
    assert all(labels[v] == 0 for v in range(5))
    assert all(labels[v] == 5 for v in range(5, 10))


def test_label_propagation_star_tiebreak(spark):
    """Hub sees every leaf label once → argmax tie broken to min label."""
    g = FX.graph(spark, FX.star_hub(100))
    labels = {r["v"]: r["label"] for r in label_propagation(spark, g, n_iter=1).collect()}
    assert labels[0] == 1  # min leaf label wins the tie


def python_bfs(triples, source):
    adj = {}
    for s, d, _ in triples:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    level = {source: 0}
    frontier = [source]
    lv = 0
    while frontier:
        lv += 1
        nxt = []
        for u in frontier:
            for w in adj.get(u, ()):
                if w not in level:
                    level[w] = lv
                    nxt.append(w)
        frontier = nxt
    return level


@pytest.mark.parametrize("name,triples,src", [
    ("seven", FX.SEVEN, 0),
    ("nine", FX.NINE, 0),
    ("chain", FX.chain(64), 0),
])
def test_bfs_levels_and_parent_validity(spark, name, triples, src):
    g = FX.graph(spark, triples)
    rows = bfs(spark, g, src).collect()
    got_levels = {r["v"]: r["level"] for r in rows}
    want_levels = python_bfs(triples, src)
    assert got_levels == want_levels, name
    # parent validity: parent's level = level - 1; parent is a neighbor
    adj = set()
    for s, d, _ in triples:
        adj.add((s, d))
        adj.add((d, s))
    for r in rows:
        if r["v"] == src:
            assert r["parent"] == src
        else:
            assert got_levels[r["parent"]] == r["level"] - 1
            assert (r["parent"], r["v"]) in adj


def test_dir_opt_bfs_matches_top_down(spark):
    """Cross-path consistency (the reference's own methodology,
    MultTest.cpp:146-200): direction-optimizing BFS must produce the
    exact same (v, parent, level) set as top-down.  The R-MAT graph is
    dense enough that the bottom-up branch actually fires (frontier
    out-edges > m/20 by level 2)."""
    from combblas_spark.algos.bfs import bfs_dir_opt
    from combblas_spark.sources.generators import rmat_graph

    g = rmat_graph(spark, scale=9, edge_factor=8, seed=7, n_partitions=8)
    src = int(g.edges.agg({"src": "min"}).collect()[0][0])
    td = {(r["v"], r["parent"], r["level"]) for r in bfs(spark, g, src).collect()}
    do = {(r["v"], r["parent"], r["level"]) for r in bfs_dir_opt(spark, g, src).collect()}
    assert td == do


def test_dir_opt_bfs_clique_bottom_up_branch(spark):
    """On a clique every level-1 frontier exceeds m/20 — the bottom-up
    branch runs and must still give single-hop levels."""
    from combblas_spark.algos.bfs import bfs_dir_opt

    g = FX.graph(spark, FX.TWO_CLIQUES, n_partitions=4).remove_loops()
    rows = bfs_dir_opt(spark, g, 0).collect()
    levels = {r["v"]: r["level"] for r in rows}
    assert levels == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1}


@pytest.mark.parametrize("name,triples,src", [
    ("seven", FX.SEVEN, 0),
    ("nine", FX.NINE, 0),
])
def test_random_parent_bfs_validity_and_determinism(spark, name, triples, src):
    """RandomParentBFS (RandomParentBFS.cpp:92-117): levels identical
    to bfs (parent choice never changes reachability), every parent a
    valid level-(k-1) neighbor, and a fixed seed reproduces the exact
    parent set (the DETERMINISTIC-build MTRand(1) trick)."""
    from combblas_spark.algos.bfs import random_parent_bfs

    g = FX.graph(spark, triples)
    rows = random_parent_bfs(spark, g, src, seed=7).collect()
    got_levels = {r["v"]: r["level"] for r in rows}
    assert got_levels == python_bfs(triples, src), name
    adj = set()
    for s, d, _ in triples:
        adj.add((s, d))
        adj.add((d, s))
    for r in rows:
        if r["v"] == src:
            assert r["parent"] == src
        else:
            assert got_levels[r["parent"]] == r["level"] - 1
            assert (r["parent"], r["v"]) in adj
    again = {(r["v"], r["parent"]) for r in random_parent_bfs(spark, g, src, seed=7).collect()}
    assert again == {(r["v"], r["parent"]) for r in rows}


def test_random_parent_bfs_differs_from_max_parent(spark):
    """On the star the hub's children all share the hub parent, but on
    a diamond (two paths to the sink) the seeded-hash choice must be a
    real choice: across seeds both parents appear (it is random, not
    the deterministic max)."""
    from combblas_spark.algos.bfs import random_parent_bfs

    # diamond: 0 -> 1, 0 -> 2, 1 -> 3, 2 -> 3
    triples = [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)]
    g = FX.graph(spark, triples)
    seen = set()
    for seed in range(8):
        rows = {r["v"]: r["parent"] for r in random_parent_bfs(spark, g, 0, seed=seed).collect()}
        seen.add(rows[3])
        if seen == {1, 2}:
            break
    assert seen == {1, 2}


def test_single_child_bfs_one_rep_per_parent(spark):
    """SingleChildBFS (SingleChildBFS.cpp:280-281): (v, parent, level)
    matches bfs exactly, and each (parent, level>=1) flags exactly one
    single_child representative — the min child id."""
    from combblas_spark.algos.bfs import single_child_bfs

    triples = FX.TWO_CLIQUES
    g = FX.graph(spark, triples)
    rows = single_child_bfs(spark, g, 0).collect()
    base = {(r["v"], r["parent"], r["level"]) for r in bfs(spark, g, 0).collect()}
    assert {(r["v"], r["parent"], r["level"]) for r in rows} == base
    from collections import defaultdict
    kids = defaultdict(list)
    for r in rows:
        if r["level"] >= 1:
            kids[(r["parent"], r["level"])].append((r["v"], r["single_child"]))
    for (p, lv), vs in kids.items():
        flagged = [v for v, s in vs if s]
        assert flagged == [min(v for v, _ in vs)], (p, lv)


def _executed_plans(spark, run) -> list[str]:
    """Physical-plan descriptions of the SQL executions ``run()``
    starts.  An adaptive plan's description carries both its initial
    (pre-adaptive) and its final plan."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()
        return {
            execs.apply(i).executionId(): execs.apply(i)
            for i in range(execs.size())
        }

    before = set(executions())
    run()
    # execution events reach the status store asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        e.physicalPlanDescription()
        for i, e in executions().items()
        if i not in before
    ]


def test_triangle_wedge_joins_never_sort(spark):
    """The scale-curve fix (BASELINE.md round-5): the O(m^1.5) wedge
    stream must stream through shuffled-hash joins — a sort-merge plan
    sorts it, which is what turned the recorded 10x run super-linear.
    Checked on every plan each wedge kernel runs (the k-truss peel
    runs one per round, behind its checkpoints); AQE may still pick
    broadcast for tiny inputs at runtime, the pin only has to forbid
    the sort-merge degradation beyond broadcast reach."""
    from combblas_spark.algos.triangles import local_clustering, triangle_wedges
    from combblas_spark.algos.truss import ktruss_rounds

    g = FX.graph(spark, FX.NINE)
    for name, fn in [
        ("triangle_wedges", lambda: triangle_wedges(spark, g)),
        ("local_clustering", lambda: local_clustering(spark, g)),
        ("ktruss_rounds", lambda: ktruss_rounds(spark, g, k=3, rounds=2)),
    ]:
        plans = _executed_plans(spark, lambda: fn().collect())
        assert not any("SortMergeJoin" in p for p in plans), (name, plans)
        assert any("ShuffledHashJoin" in p for p in plans), (name, plans)


DEGENERATE = {
    "empty": [],
    "self_loop": [(0, 0, 1.0)],
    "two_self_loops": [(0, 0, 1.0), (1, 1, 1.0)],
    "star3": FX.star_hub(3),
    "dup_antiparallel": [
        (0, 1, 1.0), (0, 1, 1.0), (1, 0, 1.0), (1, 2, 1.0), (2, 1, 1.0)
    ],
    "triangle_self_loop": [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (0, 0, 1.0)],
}


@pytest.mark.parametrize("inp", sorted(DEGENERATE))
def test_wedge_kernels_on_degenerate_inputs(spark, inp):
    """Edgeless, self-loop-only, triangle-free and multi-edge graphs
    give defined rows — no exception, null or NaN — from every wedge
    kernel; duplicates (kept, not summed) and antiparallel edges are
    one undirected edge."""
    import math

    from combblas_spark.algos.linkpred import adamic_adar_topk, jaccard_topk
    from combblas_spark.algos.triangles import local_clustering
    from combblas_spark.algos.truss import ktruss_rounds

    triples = DEGENERATE[inp]
    g = FX.graph(spark, triples, sum_duplicates=False)
    tri = 1 if inp == "triangle_self_loop" else 0
    assert triangle_count(spark, g) == tri
    out = {
        "per_vertex": per_vertex_triangles(spark, g).collect(),
        "clustering": local_clustering(spark, g).collect(),
        "ktruss": ktruss_rounds(spark, g, k=3, rounds=2).collect(),
        "adamic_adar": adamic_adar_topk(spark, g, k=2).collect(),
        "jaccard": jaccard_topk(spark, g, k=2).collect(),
    }
    for name, rows in out.items():
        for r in rows:
            for x in r:
                assert x is not None, (name, inp, r)
                assert not (isinstance(x, float) and math.isnan(x)), (name, inp, r)
    assert sum(r["triangles"] for r in out["per_vertex"]) == 3 * tri
    assert len(out["ktruss"]) == 3 * tri
    # a vertex carried only by a self-loop has no undirected edge
    looped_only = {s for s, d, _ in triples if s == d} - {
        v for s, d, _ in triples if s != d for v in (s, d)
    }
    assert not looped_only & {r["v"] for r in out["clustering"]}
    if inp == "star3":
        assert sorted(tuple(r) for r in out["clustering"]) == [
            (v, 0.0) for v in range(4)
        ]
        leaf_pairs = [(u, v) for u in (1, 2, 3) for v in (1, 2, 3) if u != v]
        aa = round(1 / math.log(3), 6)  # the hub's degree is 3
        assert sorted(tuple(r) for r in out["adamic_adar"]) == [
            (u, v, aa) for u, v in leaf_pairs
        ]
        assert sorted(tuple(r) for r in out["jaccard"]) == [
            (u, v, 1.0) for u, v in leaf_pairs
        ]


def test_validate_bfs_tree_accepts_real_tree(spark):
    """A tree produced by bfs() passes all four Graph500 spec checks."""
    from combblas_spark.algos.bfs import bfs, validate_bfs_tree

    g = FX.graph(spark, FX.SEVEN)
    tree = bfs(spark, g, source=0)
    row = validate_bfs_tree(spark, g, tree).collect()[0]
    assert tuple(row) == (1, 0, 0, 0)


def test_validate_bfs_tree_detects_corruption(spark):
    """Flipping a parent to a non-neighbor and bumping a level trips
    exactly the corresponding counters."""
    from pyspark.sql import functions as F

    from combblas_spark.algos.bfs import bfs, validate_bfs_tree

    g = FX.graph(spark, FX.SEVEN)
    tree = bfs(spark, g, source=0).cache()
    victim = tree.filter(
        (F.col("v") != F.col("parent")) & (F.col("level") >= 1)
    ).limit(1)
    vrow = victim.collect()[0]
    # corrupt: point the victim at itself+100 (no such edge) AND give
    # it an impossible level
    bad = tree.withColumn(
        "parent",
        F.when(F.col("v") == vrow["v"], F.lit(vrow["v"] + 100)).otherwise(
            F.col("parent")
        ),
    ).withColumn(
        "level",
        F.when(F.col("v") == vrow["v"], F.lit(99)).otherwise(F.col("level")),
    )
    row = validate_bfs_tree(spark, g, bad).collect()[0]
    assert row["n_roots"] == 1
    assert row["bad_edges"] >= 1
    assert row["bad_levels"] >= 1
    # duplicate detection
    dup = tree.unionByName(tree.limit(1))
    row2 = validate_bfs_tree(spark, g, dup).collect()[0]
    assert row2["n_dup"] == 1
    # a second self-parented vertex, away from level 0, is a second root
    selfp = tree.withColumn(
        "parent",
        F.when(F.col("v") == vrow["v"], F.col("v")).otherwise(F.col("parent")),
    )
    row3 = validate_bfs_tree(spark, g, selfp).collect()[0]
    assert row3["n_roots"] == 2


def _frontier_kernels():
    from combblas_spark.algos.bfs import (
        bfs_dir_opt, random_parent_bfs, single_child_bfs,
    )
    from combblas_spark.algos.bowtie import bowtie_decompose, reachable_set

    def edges(spark, triples):
        return FX.edges_df(spark, triples).select("src", "dst")

    def graph_kernel(fn):
        return lambda spark, t, it: fn(spark, FX.graph(spark, t), 0, max_iter=it)

    return {
        "bfs": graph_kernel(bfs),
        "bfs_dir_opt": graph_kernel(bfs_dir_opt),
        "random_parent_bfs": graph_kernel(random_parent_bfs),
        "single_child_bfs": graph_kernel(single_child_bfs),
        # the caller caches the edges reachable_set walks
        "reachable_set": lambda spark, t, it: reachable_set(
            spark, edges(spark, t).cache(), 0, max_iter=it
        ),
        "bowtie_decompose": lambda spark, t, it: bowtie_decompose(
            spark, edges(spark, t), 0, n_partitions=4, max_iter=it
        ),
    }


FRONTIER = _frontier_kernels()

# (v, parent, level) from source 0, and the bowtie regions around it
FRONTIER_DEGENERATE = {
    "empty": ([(0, 0, 0)], {}),
    "self_loop": ([(0, 0, 0)], {0: "CORE"}),
    "star3": (
        [(0, 0, 0), (1, 0, 1), (2, 0, 1), (3, 0, 1)],
        {0: "CORE", 1: "OUT", 2: "OUT", 3: "OUT"},
    ),
    "source_absent": ([(0, 0, 0)], {1: "OTHER", 2: "OTHER"}),
    "two_parts": (
        [(0, 0, 0), (1, 0, 1)], {0: "CORE", 1: "OUT", 2: "OTHER", 3: "OTHER"}
    ),
}
FRONTIER_INPUTS = {
    "empty": [],
    "self_loop": [(0, 0, 1.0)],
    "star3": FX.star_hub(3),
    "source_absent": [(1, 2, 1.0)],
    "two_parts": [(0, 1, 1.0), (2, 3, 1.0)],
}


@pytest.mark.parametrize("kernel", sorted(FRONTIER))
def test_frontier_kernels_on_degenerate_inputs(spark, kernel):
    """Edgeless, self-loop, star, source-absent and two-part graphs give
    the source row and its reach — no exception (bfs_dir_opt used to
    divide by the edge count)."""
    for inp, triples in FRONTIER_INPUTS.items():
        tree, regions = FRONTIER_DEGENERATE[inp]
        got = sorted(tuple(r) for r in FRONTIER[kernel](spark, triples, 10_000).collect())
        if kernel == "bowtie_decompose":
            want = sorted(regions.items())
        elif kernel == "reachable_set":
            want = [(v,) for v, _, _ in tree]
        elif kernel == "single_child_bfs":
            # the min child per (parent, level) is the representative
            want = [
                (v, p, lv, lv == 0 or v == min(
                    c for c, q, k in tree if (q, k) == (p, lv)
                ))
                for v, p, lv in tree
            ]
        else:
            want = tree
        assert got == want, (kernel, inp)


def test_frontier_broadcast_cutoff_is_read_from_conf(spark):
    """``spark.combblas.broadcast.maxBytes`` = 1 sends every frontier
    down the shuffled-hash join; the rows do not change."""
    key = "spark.combblas.broadcast.maxBytes"

    def rows():
        return [
            sorted(tuple(r) for r in FRONTIER[k](spark, FX.NINE, 10_000).collect())
            for k in ("bfs", "bowtie_decompose")
        ]

    default = rows()
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        shuffled = rows()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert shuffled == default


def _live_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


@pytest.mark.parametrize("kernel", sorted(FRONTIER))
def test_frontier_level_cost_and_checkpoints(spark, kernel):
    """One level is one superstep: at most two SQL executions (the lazy
    checkpoint and the aggregate that materializes it), superseded
    level checkpoints are freed, and a foreign checkpoint survives."""
    from combblas_spark.plans.superstep import _checkpoint_rdd_id

    foreign = spark.range(100).toDF("v").localCheckpoint(eager=True)
    fid = _checkpoint_rdd_id(foreign)
    assert fid is not None

    def call(levels: int) -> tuple[int, set[int]]:
        spark.catalog.clearCache()
        before = _live_rdd_ids(spark)
        plans = _executed_plans(
            spark, lambda: FRONTIER[kernel](spark, FX.chain(16), levels).collect()
        )
        return len(plans), _live_rdd_ids(spark) - before

    (ex2, left2), (ex4, left4) = call(2), call(4)
    assert (ex4 - ex2) / 2 <= 2, (ex2, ex4)
    assert len(left4) <= len(left2), (left2, left4)
    assert fid in _live_rdd_ids(spark)
    assert foreign.count() == 100
