"""PageRank golden tests: Spark vs dense numpy power iteration.

Mirrors the reference's golden-output comparison strategy
(ReleaseTests, SURVEY.md §5) with allclose(atol=1e-6) per BASELINE.md.
"""

import numpy as np
import pytest

from combblas_spark.algos.hits import hits_fixed, salsa_fixed
from combblas_spark.algos.katz import katz_fixed
from combblas_spark.algos.pagerank import pagerank, pagerank_fixed
from combblas_spark.algos.ppr import ppr_fixed
from combblas_spark.algos.wpagerank import wpagerank_fixed
from combblas_spark.sources import fixtures as FX


def numpy_pagerank(triples, n, alpha=0.85, tol=1e-6, max_iter=200, n_iter=None):
    """Dense reference implementation matching
    CC_ipdps18/HPCGraph/0.1/pagerank.cpp semantics (dangling mass
    redistributed uniformly each iteration)."""
    A = np.zeros((n, n))
    for s, d, _ in triples:
        A[s, d] += 1.0  # unweighted adjacency: PageRank follows link structure
    outdeg = A.sum(axis=1)
    pr = np.full(n, 1.0 / n)
    it = 0
    while True:
        contrib = np.where(outdeg > 0, pr / np.maximum(outdeg, 1), 0.0)
        dangling = pr[outdeg == 0].sum()
        new = (1 - alpha) / n + alpha * (A.T @ contrib + dangling / n)
        delta = np.abs(new - pr).max()
        pr = new
        it += 1
        if n_iter is not None:
            if it >= n_iter:
                return pr
        elif delta < tol or it >= max_iter:
            return pr


def ranks_to_array(ranks_df, n):
    rows = {r["v"]: r["rank"] for r in ranks_df.collect()}
    return np.array([rows[i] for i in range(n)])


def to_pattern(triples):
    """Collapse duplicate (s,d) to a single unweighted edge (matches the
    numpy adjacency which sums, then PageRank treats A as weights=count —
    use count-weighted? No: engine uses out-degree = edge count)."""
    return sorted({(s, d) for s, d, _ in triples})


@pytest.mark.parametrize(
    "name,triples,n",
    [
        ("seven", FX.SEVEN, 7),
        ("nine", FX.NINE, 9),
        ("chain64", FX.chain(64), 64),
        ("star100", FX.star_hub(100), 101),
    ],
)
def test_pagerank_matches_numpy(spark, name, triples, n):
    g = FX.graph(spark, triples)
    res = pagerank(spark, g, tol=1e-9, max_iter=300)
    got = ranks_to_array(res.ranks, n)
    want = numpy_pagerank(triples, n, tol=1e-9, max_iter=300)
    assert np.allclose(got, want, atol=1e-6), f"{name}: {got} vs {want}"
    assert abs(got.sum() - 1.0) < 1e-6  # ranks are a distribution


def test_pagerank_fixed_iterations(spark):
    g = FX.graph(spark, FX.SEVEN)
    ranks = pagerank_fixed(spark, g, n_iter=5)
    got = ranks_to_array(ranks, 7)
    want = numpy_pagerank(FX.SEVEN, 7, n_iter=5)
    assert np.allclose(got, want, atol=1e-9)


def test_pagerank_converges_and_reports(spark):
    g = FX.graph(spark, FX.SEVEN)
    res = pagerank(spark, g, tol=1e-6)
    assert res.delta < 1e-6
    assert res.iterations > 1
    assert res.edges_processed == res.iterations * 12


def test_pagerank_broadcast_and_shuffle_paths_agree(spark):
    """Cross-path consistency: the zero-shuffle broadcast superstep and
    the co-partitioned shuffled-hash superstep must converge to the
    same ranks (the SpMSpV sparse/dense switch, CC.h:1256, must be
    semantics-free)."""
    g = FX.graph(spark, FX.SEVEN, n_partitions=4)
    b = pagerank(spark, g, tol=1e-8, max_iter=60, broadcast_contrib=True)
    s = pagerank(spark, g, tol=1e-8, max_iter=60, broadcast_contrib=False)
    rb = {r["v"]: r["rank"] for r in b.ranks.collect()}
    rs = {r["v"]: r["rank"] for r in s.ranks.collect()}
    assert set(rb) == set(rs)
    for v in rb:
        assert abs(rb[v] - rs[v]) < 1e-9, v


def numpy_pagerank_l1(triples, n, alpha=0.85, tol=1e-3, max_iter=200):
    """Same dense loop, L1 (total-mass-moved) stopping rule."""
    A = np.zeros((n, n))
    for s, d, _ in triples:
        A[s, d] += 1.0
    outdeg = A.sum(axis=1)
    pr = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        contrib = np.where(outdeg > 0, pr / np.maximum(outdeg, 1), 0.0)
        dangling = pr[outdeg == 0].sum()
        new = (1 - alpha) / n + alpha * (A.T @ contrib + dangling / n)
        delta = np.abs(new - pr).sum()
        pr = new
        if delta < tol:
            return pr, it
    return pr, max_iter


def test_pagerank_l1_norm_matches_numpy(spark):
    g = FX.graph(spark, FX.NINE)
    res = pagerank(spark, g, tol=1e-3, norm="l1", max_iter=200)
    want, want_iters = numpy_pagerank_l1(FX.NINE, 9, tol=1e-3)
    got = ranks_to_array(res.ranks, 9)
    assert res.iterations == want_iters
    assert np.allclose(got, want, atol=1e-9)


def disjoint_copies(triples, n, k):
    """k key-disjoint copies of a fixture graph (the scale-curve
    construction, scripts/make_scale_input.py)."""
    out = []
    for c in range(k):
        out += [(s + c * n, d + c * n, w) for s, d, w in triples]
    return out


def test_pagerank_l1_iterations_invariant_under_copy_scaling(spark):
    """The scale property the L1 criterion buys (BASELINE.md round-5):
    corpus growth by key-disjoint replication must not change when
    "converged" is declared.  Max-norm shrinks ~1/K and stops early;
    L1 is exactly invariant."""
    tol = 1e-3
    one = pagerank(spark, FX.graph(spark, FX.NINE), tol=tol, norm="l1")
    three = pagerank(
        spark,
        FX.graph(spark, disjoint_copies(FX.NINE, 9, 3)),
        tol=tol,
        norm="l1",
    )
    assert one.iterations == three.iterations
    # and the defect being guarded against: max-norm stops EARLIER on
    # the replicated corpus (per-vertex values shrank with n)
    one_max = pagerank(spark, FX.graph(spark, FX.NINE), tol=1e-5, norm="max")
    three_max = pagerank(
        spark,
        FX.graph(spark, disjoint_copies(FX.NINE, 9, 3)),
        tol=1e-5,
        norm="max",
    )
    assert three_max.iterations < one_max.iterations


def test_pagerank_norm_validation(spark):
    g = FX.graph(spark, FX.SEVEN)
    with pytest.raises(ValueError):
        pagerank(spark, g, norm="l2")


#: the superstep kernels, each as (spark, graph, n_iter) -> result rows
KERNELS = {
    "pagerank": lambda spark, g, k: pagerank_fixed(spark, g, n_iter=k),
    "wpagerank": lambda spark, g, k: wpagerank_fixed(spark, g, k),
    "ppr": lambda spark, g, k: ppr_fixed(spark, g, [0], k),
    "katz": lambda spark, g, k: katz_fixed(spark, g, k),
    "hits": lambda spark, g, k: hits_fixed(spark, g, k),
    "salsa": lambda spark, g, k: salsa_fixed(spark, g, k),
}


def _live_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_pagerank_frees_only_its_own_checkpoints(spark, kernel):
    """The per-iteration checkpoint sweep must not unpersist RDDs OTHER
    code persisted mid-loop (Spark supports concurrent driver jobs on
    one session): only the kernel's own superseded snapshots are freed,
    so what one call leaves persisted does not grow with iterations."""
    from combblas_spark.plans.superstep import _checkpoint_rdd_id

    # a "foreign" checkpoint, as another driver thread would hold
    foreign = spark.range(100).toDF("v").localCheckpoint(eager=True)
    fid = _checkpoint_rdd_id(foreign)
    assert fid is not None

    def left_behind(n_iter: int) -> set[int]:
        # earlier calls may hold their own checkpoints (clearCache()
        # only drops catalog-cached plans) — count only what THIS call
        # adds, which is the property under test
        spark.catalog.clearCache()
        before = _live_rdd_ids(spark)
        KERNELS[kernel](spark, FX.graph(spark, FX.NINE), n_iter).collect()
        return _live_rdd_ids(spark) - before

    one, four = left_behind(1), left_behind(4)
    # the foreign checkpoint survived the sweeps and is still usable
    assert fid in _live_rdd_ids(spark)
    assert foreign.count() == 100
    # superseded snapshots were freed: the final checkpoint plus the
    # loop-invariant caches remain, NOT one RDD per iteration
    assert len(four) <= len(one), (one, four)


def _jobs_per_call(spark, kernel: str, n_iter: int) -> int:
    sc = spark.sparkContext
    group = f"superstep-jobs-{kernel}-{n_iter}"
    sc.setJobGroup(group, group)
    try:
        KERNELS[kernel](spark, FX.graph(spark, FX.NINE), n_iter).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_superstep_jobs_per_iteration(spark):
    """Every kernel's iteration costs no more Spark jobs than
    PageRank's (HITS and SALSA: two half-steps, so twice): one driver
    action per superstep, with the checkpoint materialized under it."""
    spark.catalog.clearCache()
    delta = {
        k: _jobs_per_call(spark, k, 3) - _jobs_per_call(spark, k, 2)
        for k in KERNELS
    }
    for k, d in delta.items():
        assert d <= delta["pagerank"] * (2 if k in ("hits", "salsa") else 1), delta


DEGENERATE = {
    "empty": [],
    "self_loop": [(0, 0, 1.0)],
    "two_self_loops": [(0, 0, 1.0), (1, 1, 1.0)],
    "star3": FX.star_hub(3),  # every leaf dangling
}


@pytest.mark.parametrize("inp", sorted(DEGENERATE))
@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_degenerate_inputs_are_defined(spark, kernel, inp):
    """Edgeless, self-loop-only and all-dangling graphs give one finite
    value per vertex, and the PageRank family keeps rank mass 1."""
    import math

    triples = DEGENERATE[inp]
    rows = KERNELS[kernel](spark, FX.graph(spark, triples), 3).collect()
    verts = {v for s, d, _ in triples for v in (s, d)}
    assert sorted(r["v"] for r in rows) == sorted(verts)
    for r in rows:
        for x in list(r)[1:]:
            assert x is not None and not math.isnan(x), (kernel, inp, r)
    if kernel in ("pagerank", "wpagerank", "ppr") and rows:
        # wpagerank and ppr round each value to 6 places
        tol = 1e-9 if kernel == "pagerank" else 1e-9 + 5e-7 * len(rows)
        assert abs(sum(r["rank"] for r in rows) - 1.0) <= tol, rows


def test_hits_matches_numpy(spark):
    """hits_fixed == the same alternating L1-normalized recursion run
    densely in numpy on the adjacency matrix."""
    import numpy as np

    from combblas_spark.algos.hits import hits_fixed
    from combblas_spark.sources import fixtures as FX

    triples = FX.SEVEN
    g = FX.graph(spark, triples)
    ids = sorted({v for s, d, _ in triples for v in (s, d)})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, d, _ in triples:
        A[idx[s], idx[d]] = 1.0
    hub = np.ones(len(ids))
    for _ in range(4):
        auth = A.T @ hub
        auth /= auth.sum()
        hub = A @ auth
        hub /= hub.sum()
    got = {r["v"]: (r["hub"], r["auth"]) for r in hits_fixed(spark, g, 4).collect()}
    assert set(got) == set(ids)
    for v in ids:
        assert got[v][0] == pytest.approx(round(float(hub[idx[v]]), 6), abs=2e-6)
        assert got[v][1] == pytest.approx(round(float(auth[idx[v]]), 6), abs=2e-6)


def test_ppr_matches_numpy_and_conserves_mass(spark):
    """ppr_fixed == the dense seed-teleport recursion; mass stays 1
    (teleport + dangling both restart at the seed set); non-seed,
    unreachable vertices get rank 0."""
    import numpy as np

    from combblas_spark.algos.ppr import ppr_fixed
    from combblas_spark.sources import fixtures as FX

    triples = FX.SEVEN
    g = FX.graph(spark, triples)
    ids = sorted({v for s, d, _ in triples for v in (s, d)})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for s, d, _ in triples:
        A[idx[s], idx[d]] = 1.0
    seeds = ids[:2]
    t = np.zeros(n)
    for s in seeds:
        t[idx[s]] = 1.0 / len(seeds)
    outdeg = A.sum(axis=1)
    r = t.copy()
    for _ in range(4):
        contrib = np.where(outdeg > 0, r / np.maximum(outdeg, 1), 0.0)
        dangling = r[outdeg == 0].sum()
        r = 0.15 * t + 0.85 * (A.T @ contrib + dangling * t)
    got = {x["v"]: x["rank"] for x in ppr_fixed(spark, g, seeds, 4, 0.85).collect()}
    assert set(got) == set(ids)
    for v in ids:
        assert got[v] == pytest.approx(round(float(r[idx[v]]), 6), abs=2e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)
    with pytest.raises(ValueError):
        ppr_fixed(spark, g, [], 2)


def test_wpagerank_matches_numpy(spark):
    """wpagerank_fixed == the dense weighted recursion; unequal weights
    must CHANGE the ranking vs the unweighted kernel."""
    import numpy as np

    from combblas_spark.algos.pagerank import pagerank_fixed
    from combblas_spark.algos.wpagerank import wpagerank_fixed
    from combblas_spark.sources import fixtures as FX

    triples = [
        (0, 1, 10.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (2, 3, 5.0), (3, 4, 1.0),  # 4 is dangling
    ]
    g = FX.graph(spark, triples)
    n = 5
    Wm = np.zeros((n, n))
    for s, d, w in triples:
        Wm[s, d] = w
    wdeg = Wm.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(4):
        contrib = np.where(wdeg > 0, r / np.maximum(wdeg, 1e-300), 0.0)
        dangling = r[wdeg == 0].sum()
        r = (1 - 0.85) / n + 0.85 * (Wm.T @ contrib + dangling / n)
    got = {x["v"]: x["rank"] for x in wpagerank_fixed(spark, g, 4, 0.85).collect()}
    for v in range(n):
        assert got[v] == pytest.approx(round(float(r[v]), 6), abs=2e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)
    unw = {x["v"]: x["rank"] for x in pagerank_fixed(spark, g, n_iter=4).collect()}
    assert any(abs(unw[v] - got[v]) > 1e-4 for v in range(n))


def test_pagerank_warm_start_converges_fast(spark):
    """Warm-starting from the converged vector is a fixpoint: one more
    iteration moves nothing, and convergence needs ~1 iteration vs the
    cold run's dozens."""
    from combblas_spark.algos.pagerank import pagerank, pagerank_warm

    g = FX.graph(spark, FX.SEVEN)
    cold = pagerank(spark, g, tol=1e-12, max_iter=200)
    warm = pagerank(
        spark, g, tol=1e-12, max_iter=200, init_ranks=cold.ranks
    )
    assert warm.iterations <= 2 < cold.iterations
    a = {r["v"]: r["rank"] for r in cold.ranks.collect()}
    b = {r["v"]: r["rank"] for r in warm.ranks.collect()}
    for v in a:
        assert abs(a[v] - b[v]) < 1e-9


def test_pagerank_warm_new_vertices_and_mass(spark):
    """Crawl-delta shape: vertices missing from the init vector start
    at 1/n, the init is re-normalized, and rank mass stays 1 through
    the warm iterations."""
    from pyspark.sql import functions as F

    from combblas_spark.algos.pagerank import pagerank_fixed, pagerank_warm

    base = FX.graph(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)])
    grown = FX.graph(
        spark,
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 1.0), (2, 3, 1.0)],
    )
    prev = pagerank_fixed(spark, base, n_iter=10)
    warm = pagerank_warm(spark, grown, prev, n_iter=3)
    rows = {r["v"]: r["rank"] for r in warm.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    true = {
        r["v"]: r["rank"]
        for r in pagerank_fixed(spark, grown, n_iter=60).collect()
    }
    cold3 = {
        r["v"]: r["rank"]
        for r in pagerank_fixed(spark, grown, n_iter=3).collect()
    }
    warm_err = sum(abs(rows[v] - true[v]) for v in true)
    cold_err = sum(abs(cold3[v] - true[v]) for v in true)
    # the warm start's whole point: same iteration budget, closer to
    # the fixpoint than a cold 1/n start (here the delta rewires a
    # 4-vertex graph and warm is still ~2x closer)
    assert warm_err < cold_err
    assert warm_err < 0.2
