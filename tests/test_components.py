"""CC golden tests: exact match vs a pure-Python union-find,
labels normalized to min-member id (SURVEY.md §7c), plus
cross-path consistency FastSV vs Awerbuch-Shiloach (SURVEY.md §5).
Also the other label/distance kernels on the superstep loop: label
propagation and Bellman-Ford SSSP."""

import os

import pytest

from combblas_spark.algos.components import (
    component_sizes,
    connected_components,
    connected_components_as,
)
from combblas_spark.algos.labelprop import label_propagation
from combblas_spark.algos.sssp import sssp, sssp_rounds
from combblas_spark.plans.checkpoint import Checkpointer
from combblas_spark.sources import fixtures as FX


def union_find_cc(triples, extra_vertices=()):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d, _ in triples:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        union(s, d)
    for v in extra_vertices:
        parent.setdefault(v, v)
    # normalize: component label = min member id
    comp_min = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in parent}


def labels_dict(df):
    return {r["v"]: r["comp"] for r in df.collect()}


CASES = [
    ("seven", FX.SEVEN),
    ("nine", FX.NINE),
    ("two_cliques", FX.TWO_CLIQUES),
    ("chain_255", FX.chain(255)),
    ("star_200", FX.star_hub(200)),
]


@pytest.mark.parametrize("name,triples", CASES)
def test_fastsv_matches_union_find(spark, name, triples):
    g = FX.graph(spark, triples)
    got = labels_dict(connected_components(spark, g))
    want = union_find_cc(triples)
    assert got == want, f"{name}"


@pytest.mark.parametrize("name,triples", [("seven", FX.SEVEN), ("nine", FX.NINE), ("chain_100", FX.chain(100))])
def test_as_variant_agrees_with_fastsv(spark, name, triples):
    g = FX.graph(spark, triples)
    a = labels_dict(connected_components(spark, g))
    b = labels_dict(connected_components_as(spark, g))
    assert a == b, f"{name}"


def test_nine_component_count(spark):
    # small_nonsym: vertices 0..8; edges link {0..8}\{6,7,8}... compute expected
    g = FX.graph(spark, FX.NINE)
    labels = labels_dict(connected_components(spark, g))
    want = union_find_cc(FX.NINE)
    assert labels == want
    assert len(set(labels.values())) == len(set(want.values()))


def test_component_sizes_histogram(spark):
    g = FX.graph(spark, FX.TWO_CLIQUES)
    labels = connected_components(spark, g)
    hist = {r["size"]: r["n_components"] for r in component_sizes(labels).collect()}
    # two K5s and one isolate (self-loop vertex 10)
    assert hist == {1: 1, 5: 2}


def test_chain_converges_in_log_supersteps(spark):
    """chain_1k fixture: pointer jumping must converge in O(log n)."""
    g = FX.graph(spark, FX.chain(1000))
    labels = labels_dict(connected_components(spark, g, max_iter=25))
    assert set(labels.values()) == {0}
    assert len(labels) == 1000


def test_kcore_cascading_peel(spark):
    """K4 clique + a tail chain: with k=3 the chain peels away over
    multiple cascading rounds (each removal exposes the next), and the
    clique survives with within-core degree 3; k above the max degree
    yields an empty core."""
    from combblas_spark.algos.kcore import kcore

    clique = [(a, b, 1.0) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    tail = [(13, 20, 1.0), (20, 21, 1.0), (21, 22, 1.0)]
    g = FX.graph(spark, clique + tail)
    got = {r["v"]: r["deg"] for r in kcore(spark, g, k=3).collect()}
    assert got == {10: 3, 11: 3, 12: 3, 13: 3}
    assert kcore(spark, g, k=5).count() == 0
    with pytest.raises(ValueError):
        kcore(spark, g, k=0)


# kernel(spark, g, iterations) for the vector kernels on the superstep
# loop; the SSSP source is vertex 0
SUPERSTEP = {
    "connected_components": lambda spark, g, it: connected_components(spark, g, max_iter=it),
    "connected_components_as": lambda spark, g, it: connected_components_as(
        spark, g, max_iter=it
    ),
    "label_propagation": lambda spark, g, it: label_propagation(spark, g, n_iter=it),
    "sssp_rounds": lambda spark, g, it: sssp_rounds(spark, g, 0, it),
    "sssp": lambda spark, g, it: sssp(spark, g, 0, max_rounds=it),
}


def python_bellman_ford(triples, source, rounds=None):
    """Synchronous MinPlus rounds from ``source`` (duplicate edges
    summed, as the graph constructor does) until no distance changes,
    or for at most ``rounds`` rounds."""
    w = {}
    for s, d, x in triples:
        w[(s, d)] = w.get((s, d), 0.0) + x
    dist, done = {source: 0.0}, 0
    while rounds is None or done < rounds:
        new = dict(dist)
        for (s, d), x in w.items():
            if s in dist and dist[s] + x < new.get(d, float("inf")):
                new[d] = dist[s] + x
        done += 1
        if new == dist:
            break
        dist = new
    return dist


@pytest.mark.parametrize("fn,rounds", [("sssp", None), ("sssp_rounds", 2)])
def test_sssp_matches_python_bellman_ford(spark, fn, rounds):
    """On the weighted SEVEN digraph from vertex 0; two rounds do not
    yet reach vertex 5 (0→1→4→5 is three hops)."""
    g = FX.graph(spark, FX.SEVEN)
    df = sssp(spark, g, 0) if rounds is None else sssp_rounds(spark, g, 0, rounds)
    got = {r["v"]: r["dist"] for r in df.collect()}
    want = python_bellman_ford(FX.SEVEN, 0, rounds)
    assert set(got) == set(want) == set(range(7)) - ({5} if rounds else set())
    assert got == pytest.approx(want, abs=1e-9)


# rows on degenerate inputs: (components, label propagation, SSSP)
DEGENERATE = {
    "empty": ([], [], [(0, 0.0)]),
    "self_loop": ([(0, 0)], [(0, 0)], [(0, 0.0)]),
    "star3": (
        [(0, 0), (1, 0), (2, 0), (3, 0)],
        [(0, 0), (1, 1), (2, 1), (3, 1)],
        [(0, 0.0), (1, 1.0), (2, 1.0), (3, 1.0)],
    ),
    "source_absent": ([(1, 1), (2, 1)], [(1, 1), (2, 2)], [(0, 0.0)]),
    "two_parts": (
        [(0, 0), (1, 0), (2, 2), (3, 2)],
        [(0, 0), (1, 1), (2, 2), (3, 3)],
        [(0, 0.0), (1, 1.0)],
    ),
}
DEGENERATE_INPUTS = {
    "empty": [],
    "self_loop": [(0, 0, 1.0)],
    "star3": FX.star_hub(3),
    "source_absent": [(1, 2, 1.0)],
    "two_parts": [(0, 1, 1.0), (2, 3, 1.0)],
}


@pytest.mark.parametrize("kernel", sorted(SUPERSTEP))
def test_superstep_kernels_on_degenerate_inputs(spark, kernel):
    """Edgeless, self-loop, star, source-absent and two-part graphs give
    defined rows: SSSP the source row and its reach, the rest one row
    per vertex (none on the empty graph)."""
    which = {"label_propagation": 1, "sssp_rounds": 2, "sssp": 2}.get(kernel, 0)
    it = 2 if kernel in ("label_propagation", "sssp_rounds") else 64
    for inp, triples in DEGENERATE_INPUTS.items():
        got = sorted(
            tuple(r) for r in SUPERSTEP[kernel](spark, FX.graph(spark, triples), it).collect()
        )
        assert got == DEGENERATE[inp][which], (kernel, inp)


def _live_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _sql_execution_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


@pytest.mark.parametrize("kernel", sorted(SUPERSTEP))
def test_superstep_cost_and_checkpoints(spark, kernel):
    """On chain(64), which none of the kernels finishes in 4 supersteps:
    at most two SQL executions per superstep (the lazy checkpoint and
    the aggregate that materializes it — no separate convergence join),
    superseded checkpoints are freed, and a foreign checkpoint
    survives."""
    from combblas_spark.plans.superstep import _checkpoint_rdd_id

    foreign = spark.range(100).toDF("v").localCheckpoint(eager=True)
    fid = _checkpoint_rdd_id(foreign)
    assert fid is not None
    g = FX.graph(spark, FX.chain(64))

    def call(iterations: int) -> tuple[int, set[int]]:
        spark.catalog.clearCache()
        before, execs = _live_rdd_ids(spark), _sql_execution_ids(spark)
        SUPERSTEP[kernel](spark, g, iterations).collect()
        return len(_sql_execution_ids(spark) - execs), _live_rdd_ids(spark) - before

    (ex2, left2), (ex4, left4) = call(2), call(4)
    assert (ex4 - ex2) / 2 <= 2, (ex2, ex4)
    assert len(left4) <= len(left2), (left2, left4)
    assert fid in _live_rdd_ids(spark)
    assert foreign.count() == 100


def test_connected_components_checkpointer(spark, tmp_path):
    """``checkpointer=`` snapshots every superstep durably without
    changing the labels."""
    g = FX.graph(spark, FX.chain(32))
    ck = Checkpointer(str(tmp_path), run_id="cc")
    durable = labels_dict(connected_components(spark, g, checkpointer=ck))
    assert durable == labels_dict(connected_components(spark, g))
    assert durable == union_find_cc(FX.chain(32))
    it = ck.latest_iteration()
    assert it is not None
    assert os.path.exists(os.path.join(ck.root, f"iter={it}", "_lineage.json"))
    assert ck.lineage(it)["rows"] == 32
