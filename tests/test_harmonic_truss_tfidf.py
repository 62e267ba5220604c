"""Golden tests for harmonic centrality, k-truss peeling, and tf-idf
term salience — each checked against an independent pure-Python
reference on hand-built inputs (the FIXTURES.md §2 strategy), plus
structural invariants (K5-core isolation, tie-breaking)."""

import math
from collections import defaultdict

from pyspark.sql import functions as F

from combblas_spark.sources import fixtures as FX


# ---------------------------------------------------------------------------
# harmonic centrality
# ---------------------------------------------------------------------------


def py_harmonic(triples, sources, depth):
    adj = defaultdict(set)
    for s, d, _w in triples:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    out = defaultdict(float)
    for s in sources:
        dist = {s: 0}
        frontier = [s]
        for dd in range(1, depth + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dd
                        nxt.append(v)
            frontier = nxt
        for v, dd in dist.items():
            if dd > 0:
                out[v] += 1.0 / dd
    return {v: round(h, 6) for v, h in out.items()}


def test_harmonic_matches_python_bfs(spark):
    from combblas_spark.algos.harmonic import harmonic_centrality

    g = FX.graph(spark, FX.SEVEN)
    got = {
        r["v"]: r["harmonic"]
        for r in harmonic_centrality(
            spark, g, sources=[0, 3], max_depth=3
        ).collect()
    }
    want = py_harmonic(FX.SEVEN, [0, 3], 3)
    assert got == want


def test_harmonic_excludes_source_and_caps_depth(spark):
    """Path 0-1-2-3: from source 0 at depth 2, vertex 3 is unreached
    (contributes 0, not -inf/NaN) and 0 itself is excluded."""
    from combblas_spark.algos.harmonic import harmonic_centrality

    g = FX.graph(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)])
    got = {
        r["v"]: r["harmonic"]
        for r in harmonic_centrality(spark, g, sources=[0], max_depth=2).collect()
    }
    assert got == {1: 1.0, 2: 0.5}


def test_harmonic_disconnected_sources_sum(spark):
    """Two components, one source in each: a vertex only accumulates
    from sources in its own component."""
    from combblas_spark.algos.harmonic import harmonic_centrality

    g = FX.graph(spark, [(0, 1, 1.0), (10, 11, 1.0), (11, 12, 1.0)])
    got = {
        r["v"]: r["harmonic"]
        for r in harmonic_centrality(
            spark, g, sources=[0, 10], max_depth=4
        ).collect()
    }
    assert got == {1: 1.0, 11: 1.0, 12: 0.5}


# ---------------------------------------------------------------------------
# k-truss
# ---------------------------------------------------------------------------


def py_ktruss(pairs, k, rounds):
    E = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    for _ in range(rounds):
        adj = defaultdict(set)
        for u, v in E:
            adj[u].add(v)
            adj[v].add(u)
        E = {(u, v) for u, v in E if len(adj[u] & adj[v]) >= k - 2}
    return E


K5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
PENDANT = [(4, 5), (5, 6), (6, 7)]


def _as_graph(spark, pairs):
    return FX.graph(spark, [(u, v, 1.0) for u, v in pairs])


def test_ktruss_isolates_k5_core(spark):
    """K5 + pendant path: every K5 edge has support 3, the path edges
    0 — the 4-truss (support ≥ 2) is exactly the K5."""
    from combblas_spark.algos.truss import ktruss_rounds

    g = _as_graph(spark, K5 + PENDANT)
    got = {
        (r["u"], r["v"])
        for r in ktruss_rounds(spark, g, k=4, rounds=2).collect()
    }
    assert got == set(K5)


def test_ktruss_peel_cascade(spark):
    """k=6 dissolves even K5 (support 3 < 4) — first round empties the
    graph and the second round is a no-op on the empty set."""
    from combblas_spark.algos.truss import ktruss_rounds

    g = _as_graph(spark, K5 + PENDANT)
    assert ktruss_rounds(spark, g, k=6, rounds=2).count() == 0


def test_ktruss_matches_python_peel(spark):
    """K5 plus a triangle strip (peels one rung per round: 19 → 13 →
    10 edges) vs the pure-Python peel — exercises a genuinely
    multi-round cascade, not just a single-round filter."""
    strip = []
    for a in range(4, 9):
        strip += [(a, a + 1)] + ([(a, a + 2)] if a + 2 <= 9 else [])
    pairs = K5 + strip
    from combblas_spark.algos.truss import ktruss_rounds

    g = _as_graph(spark, pairs)
    for rounds in (1, 2):
        got = {
            (r["u"], r["v"])
            for r in ktruss_rounds(spark, g, k=4, rounds=rounds).collect()
        }
        assert got == py_ktruss(pairs, 4, rounds), f"rounds={rounds}"
    # non-vacuity of the test input: each round strictly peels
    assert (
        len(py_ktruss(pairs, 4, 2))
        < len(py_ktruss(pairs, 4, 1))
        < len({tuple(sorted(p)) for p in pairs})
    )


def _live_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_ktruss_frees_its_round_checkpoints(spark):
    """Each peel round's checkpoint and oriented-edge cache are freed
    once superseded, and only those: what one call leaves persisted
    does not grow with rounds, and a foreign checkpoint survives."""
    from combblas_spark.algos.truss import ktruss_rounds
    from combblas_spark.plans.superstep import _checkpoint_rdd_id

    foreign = spark.range(100).toDF("v").localCheckpoint(eager=True)
    fid = _checkpoint_rdd_id(foreign)
    assert fid is not None

    def left_behind(rounds: int) -> set[int]:
        spark.catalog.clearCache()
        before = _live_rdd_ids(spark)
        g = FX.graph(spark, FX.NINE)
        ktruss_rounds(spark, g, k=3, rounds=rounds).collect()
        return _live_rdd_ids(spark) - before

    one, three = left_behind(1), left_behind(3)
    assert fid in _live_rdd_ids(spark)
    assert foreign.count() == 100
    assert len(three) <= len(one), (one, three)


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------


def test_tfidf_hand_computed(spark):
    from combblas_spark.pipeline.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_topk(docs, k=2).collect()
    }
    n = 3.0
    want = {
        (0, "apple"): round(2 * math.log(n / 1), 6),
        (0, "banana"): round(1 * math.log(n / 2), 6),
        (1, "cherry"): round(1 * math.log(n / 2), 6),
        (1, "banana"): round(1 * math.log(n / 2), 6),
        (2, "cherry"): round(2 * math.log(n / 2), 6),
        (2, "date"): round(1 * math.log(n / 1), 6),
    }
    assert got == want


def test_tfidf_tie_breaks_on_token(spark):
    """Equal scores at the k boundary: the lexicographically smaller
    token wins — the engine-independent boundary the gate relies on."""
    from combblas_spark.pipeline.text import tfidf_topk

    docs = spark.createDataFrame(
        [(0, "zeta alpha"), (1, "noise")], "doc_id long, text string"
    )
    rows = [
        r["token"]
        for r in tfidf_topk(docs, k=1).filter(F.col("doc_id") == 0).collect()
    ]
    assert rows == ["alpha"]
