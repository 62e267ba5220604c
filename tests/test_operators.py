"""Direct unit tests for operators/: ewise, indexing, reduce, spgemm,
semiring SpMV — golden comparisons against tiny driver-side models
(the reference's operator-test strategy, ReleaseTests/CMakeLists.txt:49-60)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from combblas_spark.functions.semiring import MIN_PLUS, PLUS_TIMES, SECOND_MIN
from combblas_spark.graph import Graph
from combblas_spark.operators import ewise as E
from combblas_spark.operators import indexing as IX
from combblas_spark.operators import reduce as R
from combblas_spark.operators.spgemm import estimate_flops, masked_spgemm, spgemm, spgemm_phased, square
from combblas_spark.operators.spmv import spmv, spmv_salted
from combblas_spark.sources import fixtures as FX

A_TRIPLES = [(0, 1, 2.0), (0, 2, 3.0), (1, 2, 4.0), (2, 0, 5.0), (2, 2, 1.0)]
B_TRIPLES = [(0, 1, 1.0), (1, 2, 2.0), (2, 1, 3.0)]


def edges_set(g):
    return {(r["src"], r["dst"], r["w"]) for r in g.edges.collect()}


@pytest.fixture(scope="module")
def ga(spark):
    return FX.graph(spark, A_TRIPLES, n_partitions=2)


@pytest.fixture(scope="module")
def gb(spark):
    return FX.graph(spark, B_TRIPLES, n_partitions=2)


# -- ewise ------------------------------------------------------------------

def test_apply_prune(spark, ga):
    doubled = E.apply(ga, lambda w: w * 2)
    assert edges_set(doubled) == {(s, d, w * 2) for s, d, w in A_TRIPLES}
    kept = E.prune(ga, lambda w: w < 3.0)  # REMOVE w<3
    assert edges_set(kept) == {(s, d, w) for s, d, w in A_TRIPLES if w >= 3.0}


def test_ewise_mult_and_exclude(spark, ga, gb):
    had = E.ewise_mult(ga, gb)
    assert edges_set(had) == {(0, 1, 2.0 * 1.0), (1, 2, 4.0 * 2.0)}
    exc = E.ewise_mult(ga, gb, exclude=True)
    assert edges_set(exc) == {
        (s, d, w) for s, d, w in A_TRIPLES if (s, d) not in {(0, 1), (1, 2), (2, 1)}
    }
    assert edges_set(E.set_difference(ga, gb)) == edges_set(exc)


def test_ewise_apply_union(spark, ga, gb):
    added = E.ewise_apply(ga, gb, lambda x, y: x + y, a_null=0.0, b_null=0.0)
    want = {}
    for s, d, w in A_TRIPLES:
        want[(s, d)] = want.get((s, d), 0.0) + w
    for s, d, w in B_TRIPLES:
        want[(s, d)] = want.get((s, d), 0.0) + w
    assert edges_set(added) == {(s, d, w) for (s, d), w in want.items()}


def test_prune_column(spark, ga):
    thr = spark.createDataFrame([(2, 3.5)], "v long, val double")
    kept = E.prune_column(ga, thr, keep=lambda w, t: w >= t)
    # column 2 entries below 3.5 dropped ((0,2,3.0) and (2,2,1.0));
    # columns without a threshold untouched
    assert edges_set(kept) == {(0, 1, 2.0), (2, 0, 5.0), (1, 2, 4.0)}


def test_vector_ops(spark):
    x = spark.createDataFrame([(0, 1.0), (1, 2.0), (2, 3.0)], "v long, val double")
    y = spark.createDataFrame([(1, 10.0), (3, 30.0)], "v long, val double")
    inter = {(r["v"], r["val"]) for r in E.vec_ewise_apply(x, y, lambda a, b: a + b).collect()}
    assert inter == {(1, 12.0)}
    union = {
        (r["v"], r["val"])
        for r in E.vec_ewise_apply(
            x, y, lambda a, b: a + b, how="full_outer", x_null=0.0, y_null=0.0
        ).collect()
    }
    assert union == {(0, 1.0), (1, 12.0), (2, 3.0), (3, 30.0)}
    assert {r["v"] for r in E.vec_setminus(x, y).collect()} == {0, 2}
    assert E.vec_count(x, lambda v: v >= 2.0) == 2


def test_row_scaling_and_vector_primitives(spark, ga):
    """DimApply, PruneI, vector Apply/ApplyInd/Find, vector Reduce,
    MinElement, Uniq, Concatenate and Set/GetElement."""
    from combblas_spark.operators.spmv import dim_apply

    scale = spark.createDataFrame([(0, 10.0), (2, 0.5)], "v long, scale double")
    assert edges_set(dim_apply(ga, scale)) == {
        (0, 1, 20.0), (0, 2, 30.0), (2, 0, 2.5), (2, 2, 0.5)
    }
    assert edges_set(E.prune_ijv(ga, lambda i, j, w: i == j)) == {
        t for t in A_TRIPLES if t[0] != t[1]
    }

    def rows(df):
        return sorted((r["v"], r["val"]) for r in df.collect())

    x = spark.createDataFrame([(0, 3.0), (1, 1.0), (2, 3.0), (3, 1.0)], "v long, val double")
    assert rows(E.vec_apply(x, lambda v: v * 2)) == [(0, 6.0), (1, 2.0), (2, 6.0), (3, 2.0)]
    assert rows(E.vec_apply_ind(x, lambda v, i: v + i)) == [(0, 3.0), (1, 2.0), (2, 5.0), (3, 4.0)]
    assert rows(E.vec_find(x, lambda v: v > 2.0)) == [(0, 3.0), (2, 3.0)]
    assert R.vec_reduce(x, F.max("val")) == 3.0
    assert tuple(R.min_element(x)) == (1, 1.0)
    assert rows(R.vec_uniq(x)) == [(0, 3.0), (1, 1.0)]
    y = spark.createDataFrame([(0, 7.0)], "v long, val double")
    assert rows(IX.vec_concatenate(spark, [x, y])) == rows(x) + [(4, 7.0)]
    assert IX.get_element(IX.set_element(x, 1, 9.0, spark), 1) == 9.0


# -- indexing ---------------------------------------------------------------

def test_subsref_relabels(spark, ga):
    remap = spark.createDataFrame([(0, 10), (2, 20)], "v long, new_id long")
    sub = IX.subsref(ga, remap)
    assert edges_set(sub) == {(10, 20, 3.0), (20, 10, 5.0), (20, 20, 1.0)}


def test_spasgn(spark, ga, gb):
    rows = spark.createDataFrame([(0, 0), (1, 1)], "v long, new_id long")
    cols = spark.createDataFrame([(1, 1), (2, 2)], "v long, new_id long")
    out = IX.spasgn(ga, rows, cols, gb)
    # region rows{0,1}×cols{1,2} cleared ((0,1),(0,2),(1,2) gone), B's
    # in-region entries written back at their global positions, rows
    # outside the region untouched; B's (2,1) has no row mapping → dropped
    assert edges_set(out) == {
        (2, 0, 5.0), (2, 2, 1.0),  # untouched
        (0, 1, 1.0), (1, 2, 2.0),  # from B
    }


def test_vec_gather_scatter_invert(spark):
    vec = spark.createDataFrame([(0, 5.0), (1, 6.0), (2, 7.0)], "v long, val double")
    idx = spark.createDataFrame([(0, 2), (1, 0)], "v long, idx long")
    gathered = {(r["v"], r["val"]) for r in IX.vec_subsref(vec, idx).collect()}
    assert gathered == {(0, 7.0), (1, 5.0)}
    upd = spark.createDataFrame([(1, 60.0), (1, 50.0)], "v long, val double")
    assigned = {(r["v"], r["val"]) for r in IX.vec_assign(vec, upd, combine="min").collect()}
    assert assigned == {(0, 5.0), (1, 50.0), (2, 7.0)}
    inv = {(r["v"], r["val"]) for r in IX.vec_invert(vec).collect()}
    assert inv == {(5, 0), (6, 1), (7, 2)}


def test_iota_nziota_randperm(spark):
    assert {(r["v"], r["val"]) for r in IX.iota(spark, 3, 5).collect()} == {
        (0, 5), (1, 6), (2, 7)
    }
    sparse = spark.createDataFrame([(3, 9.0), (7, 1.0)], "v long, val double")
    assert {(r["v"], r["val"]) for r in IX.nziota(sparse).collect()} == {(3, 0), (7, 1)}
    p = IX.rand_perm(spark, 10, seed=1)
    ids = sorted(r["new_id"] for r in p.collect())
    assert ids == list(range(10))


def test_dense_rank_is_jvm_side_and_window_free(spark):
    """The global ranking under nziota/rand_perm/vec_sort must neither
    serialize through Python workers (no PythonRDD/BatchEvalPython
    stage) nor funnel all rows into a single-partition window (no
    Exchange SinglePartition over the data; the P-row offset window is
    fine — it never carries data rows)."""
    from combblas_spark.sources.dictionary import build_dictionary

    vec = spark.range(100).select(
        F.col("id").alias("v"), (F.col("id") % 7).cast("double").alias("val")
    )
    plans = []
    plans.append(IX.nziota(vec.select("v"))._jdf.queryExecution().executedPlan().toString())
    plans.append(IX.rand_perm(spark, 50, seed=3)._jdf.queryExecution().executedPlan().toString())
    sv, perm = IX.vec_sort(vec)
    plans.append(sv._jdf.queryExecution().executedPlan().toString())
    plans.append(perm._jdf.queryExecution().executedPlan().toString())
    labels = spark.range(40).select(F.concat(F.lit("u"), F.col("id")).alias("label"))
    plans.append(build_dictionary(labels)._jdf.queryExecution().executedPlan().toString())
    import inspect

    # no Python serialization anywhere in the ranking path: neither a
    # Python-RDD zipWithIndex (source-level pin) nor any Python eval
    # node in the executed plans.  (A JVM-side "Scan ExistingRDD" is
    # expected now: _dense_rank_by pins its row order with an eager
    # localCheckpoint, which scans block-manager RDDs — still 100% JVM.)
    assert ".zipWithIndex(" not in inspect.getsource(IX)
    for plan in plans:
        assert "PythonRDD" not in plan and "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan
    # ranks are still the dense total-order positions
    expect = sorted(range(100), key=lambda j: (j % 7, j))
    sorted_rows = {(r["v"], r["val"]) for r in sv.collect()}
    assert sorted_rows == {(pos, float(orig % 7)) for pos, orig in enumerate(expect)}
    ranks = {r["v"]: r["new_id"] for r in perm.collect()}
    assert all(ranks[orig] == pos for pos, orig in enumerate(expect))


# -- reduce -----------------------------------------------------------------

def test_reduce_and_kselect(spark, ga):
    colsum = {(r["v"], r["val"]) for r in R.reduce_dim(ga, dim="dst").collect()}
    assert colsum == {(1, 2.0), (2, 3.0 + 4.0 + 1.0), (0, 5.0)}
    k2 = {(r["v"], r["kth"]) for r in R.kselect(ga, 2, dim="dst").collect()}
    assert k2 == {(2, 3.0)}  # column 2 values sorted desc: 4,3,1 → 2nd is 3
    assert R.bandwidth(ga) == 2
    hist = {(r["size"], r["n"]) for r in R.histogram(
        spark.createDataFrame([(0, 9), (1, 9), (2, 8)], "v long, comp long")
    ).collect()}
    assert hist == {(1, 1), (2, 1)}


# -- spgemm / spmv ----------------------------------------------------------

def _spgemm_py(a, b):
    out = {}
    for i, k, x in a:
        for k2, j, y in b:
            if k == k2:
                out[(i, j)] = out.get((i, j), 0.0) + x * y
    return {(i, j, w) for (i, j), w in out.items()}


def test_spgemm_matches_model(spark, ga, gb):
    assert edges_set(spgemm(ga, gb)) == _spgemm_py(A_TRIPLES, B_TRIPLES)
    assert edges_set(square(gb)) == _spgemm_py(B_TRIPLES, B_TRIPLES)
    phased = spgemm_phased(ga, gb, phases=3)
    assert edges_set(phased) == _spgemm_py(A_TRIPLES, B_TRIPLES)
    flops = estimate_flops(ga, gb)
    assert flops == sum(
        sum(1 for k2, _, _ in B_TRIPLES if k2 == k) for _, k, _ in A_TRIPLES
    )


def test_masked_spgemm(spark, ga):
    full = _spgemm_py(A_TRIPLES, A_TRIPLES)
    mask_pat = {(s, d) for s, d, _ in A_TRIPLES}
    want = {(i, j, w) for i, j, w in full if (i, j) in mask_pat}
    assert edges_set(masked_spgemm(ga, ga, ga)) == want
    want_ex = {(i, j, w) for i, j, w in full if (i, j) not in mask_pat}
    assert edges_set(masked_spgemm(ga, ga, ga, exclude=True)) == want_ex


def test_spmv_semirings(spark, ga):
    x = spark.createDataFrame(
        [(0, 1.0), (1, 10.0), (2, 100.0)], "v long, val double"
    )
    pt = {(r["v"], r["val"]) for r in spmv(ga, x, PLUS_TIMES).collect()}
    want = {}
    for s, d, w in A_TRIPLES:
        want[d] = want.get(d, 0.0) + w * {0: 1.0, 1: 10.0, 2: 100.0}[s]
    assert pt == {(d, w) for d, w in want.items()}
    # salted variant must agree exactly for sum
    ps = {(r["v"], r["val"]) for r in spmv_salted(ga, x, PLUS_TIMES).collect()}
    assert ps == pt
    mp = {(r["v"], r["val"]) for r in spmv(ga, x, MIN_PLUS).collect()}
    wmp = {}
    for s, d, w in A_TRIPLES:
        c = w + {0: 1.0, 1: 10.0, 2: 100.0}[s]
        wmp[d] = min(wmp.get(d, float("inf")), c)
    assert mp == {(d, w) for d, w in wmp.items()}
    sm = {(r["v"], r["val"]) for r in spmv(ga, x, SECOND_MIN).collect()}
    wsm = {}
    for s, d, _ in A_TRIPLES:
        v = {0: 1.0, 1: 10.0, 2: 100.0}[s]
        wsm[d] = min(wsm.get(d, float("inf")), v)
    assert sm == {(d, w) for d, w in wsm.items()}


# -- round-2 operator additions ---------------------------------------------

def test_ewise_scale_dense(spark, ga):
    dense = E.dense_matrix(spark, 3, 3, 2.0)
    scaled = E.ewise_scale(ga, dense)
    assert edges_set(scaled) == {(s, d, w * 2.0) for s, d, w in A_TRIPLES}


def test_vec_select_and_select_apply(spark):
    x = spark.createDataFrame([(0, 10.0), (1, 20.0), (2, 30.0)], "v long, val double")
    comp = spark.createDataFrame([(0, 1.0), (1, -1.0), (2, 5.0)], "v long, val double")
    sel = {(r["v"], r["val"]) for r in E.vec_select(x, comp, lambda c: c > 0).collect()}
    assert sel == {(0, 10.0), (2, 30.0)}
    sa = {
        (r["v"], r["val"])
        for r in E.vec_select_apply(x, comp, lambda c: c > 0, lambda xv, cv: xv + cv).collect()
    }
    assert sa == {(0, 11.0), (2, 35.0)}
    selector = spark.createDataFrame([(9, 10.0), (8, 30.0)], "v long, val double")
    fb = {(r["v"], r["val"]) for r in E.vec_filter_by_val(x, selector).collect()}
    assert fb == {(0, 10.0), (2, 30.0)}
    fbn = {(r["v"], r["val"]) for r in E.vec_filter_by_val(x, selector, keep_present=False).collect()}
    assert fbn == {(1, 20.0)}


def test_vec_sort_returns_permutation(spark):
    vec = spark.createDataFrame(
        [(0, 3.0), (1, 1.0), (2, 2.0), (3, 1.0)], "v long, val double"
    )
    sorted_vec, perm = IX.vec_sort(vec)
    sv = {(r["v"], r["val"]) for r in sorted_vec.collect()}
    assert sv == {(0, 1.0), (1, 1.0), (2, 2.0), (3, 3.0)}
    p = {r["v"]: r["new_id"] for r in perm.collect()}
    # ties broken by original index: v=1 before v=3
    assert p == {1: 0, 3: 1, 2: 2, 0: 3}
    # applying the permutation reproduces the sorted vector
    gathered = {
        (r["new_id"], r["val"])
        for r in vec.join(perm, "v").select("new_id", "val").collect()
    }
    assert gathered == sv


def test_del_element(spark):
    vec = spark.createDataFrame([(0, 1.0), (1, 2.0)], "v long, val double")
    assert {r["v"] for r in IX.del_element(vec, 1).collect()} == {0}


def test_induced_subgraphs(spark):
    g = FX.graph(spark, FX.TWO_CLIQUES, n_partitions=4).remove_loops()
    labels = spark.createDataFrame(
        [(v, 0 if v < 5 else 1) for v in range(10)], "v long, comp long"
    )
    sub = IX.induced_subgraphs(g, labels)
    by_label = {}
    for r in sub.collect():
        by_label.setdefault(r["comp"], set()).add((r["src"], r["dst"]))
    assert len(by_label[0]) == 20 and len(by_label[1]) == 20  # K5 directed pairs
    assert all(s < 5 and d < 5 for s, d in by_label[0])
    assert all(s >= 5 and d >= 5 for s, d in by_label[1])


def test_profile_metric(spark):
    # upper-diag entries: col1 first row 0 -> 1; col2 first row 0 -> 2;
    # col0 has no upper-diag entry -> +1 (empty-column convention)
    g = FX.graph(spark, A_TRIPLES, n_partitions=2)
    assert R.profile(g) == (1 - 0) + (2 - 0) + 1
    # the fused single-action probe must agree with the separate ops
    assert R.bandwidth_profile(g) == (R.bandwidth(g), R.profile(g))


def test_calculate_phases_auto(spark, ga):
    from combblas_spark.operators.spgemm import calculate_phases

    # tiny graph -> 1 phase under any realistic budget
    assert calculate_phases(ga, ga) == 1
    # force a small budget: flops=7 (est) * 40B / 100B -> 3 phases
    flops = estimate_flops(ga, ga)
    want = -(-flops * 40 // 100)
    assert calculate_phases(ga, ga, per_phase_budget_bytes=100) == min(256, want)
    auto = spgemm_phased(ga, ga, phases=None)
    assert edges_set(auto) == edges_set(spgemm(ga, ga))


def test_prune_rows_cols_and_full(spark, ga):
    rows = spark.createDataFrame([(0,), (2,)], "v long")
    cols = spark.createDataFrame([(2,)], "v long")
    block = E.prune_rows_cols(ga, rows, cols)
    # entries (0,2) and (2,2) cleared; (1,2) kept (row 1 not in ri)
    assert edges_set(block) == {(0, 1, 2.0), (1, 2, 4.0), (2, 0, 5.0)}
    full = E.prune_full(ga, rows, cols)
    # rows 0,2 and col 2 all cleared
    assert edges_set(full) == set()


def test_col_split_concatenate(spark, ga):
    from combblas_spark.operators.spgemm import col_concatenate, col_split

    parts = col_split(ga, 3)
    for i, p in enumerate(parts):
        assert all(r["dst"] % 3 == i for r in p.edges.collect())
    assert edges_set(col_concatenate(parts)) == set(A_TRIPLES)


def test_drop_isolated_compacts_id_space(spark):
    g = FX.graph(spark, [(5, 90, 1.0), (90, 300, 2.0)], n_partitions=2)
    g2, perm = g.drop_isolated(spark)
    p = {r["v"]: r["new_id"] for r in perm.collect()}
    assert p == {5: 0, 90: 1, 300: 2}
    assert edges_set(g2) == {(0, 1, 1.0), (1, 2, 2.0)}


def test_perm_edges_preserves_multiset(spark, ga):
    from combblas_spark.sources.generators import perm_edges

    shuffled = perm_edges(ga.edges, seed=7, n_partitions=4)
    assert sorted(tuple(r) for r in shuffled.collect()) == sorted(
        tuple(r) for r in ga.edges.collect()
    )
    assert shuffled.rdd.getNumPartitions() == 4


def test_prune_column_by_index(spark, ga):
    # PruneColumnByIndex: whole listed columns vanish, others untouched
    cols = spark.createDataFrame([(2,), (7,)], "v long")
    out = E.prune_column_by_index(ga, cols)
    assert edges_set(out) == {(s, d, w) for s, d, w in A_TRIPLES if d != 2}


def test_load_imbalance(spark):
    # all edges hashed to one src key -> one partition holds everything
    skewed = FX.graph(spark, [(1, d, 1.0) for d in range(2, 34)], n_partitions=8)
    ratio = R.load_imbalance(skewed)
    assert ratio >= 4.0  # 32 rows on 1 of >=4 non-empty-capable partitions
    balanced = FX.graph(
        spark, [(s, s + 1, 1.0) for s in range(64)], n_partitions=8
    )
    assert R.load_imbalance(balanced) < R.load_imbalance(skewed) + 1e-9


def test_should_salt_trigger():
    from combblas_spark.operators.spmv import should_salt

    # hub holding 20% of m across 32 partitions: 0.2 > 4/32 -> salt
    assert should_salt(200_000, 1_000_000, 32)
    # uniform in-degrees: max ~ m/n far below 4x the partition share
    assert not should_salt(40, 1_000_000, 32)
    # exactly at the boundary: strict inequality, no salt
    assert not should_salt(125_000, 1_000_000, 32, factor=4.0)
    assert should_salt(125_001, 1_000_000, 32, factor=4.0)
    # degenerate inputs never salt
    assert not should_salt(10, 0, 32)
    assert not should_salt(10, 100, 1)


def test_spmv_auto_salt_identical(spark):
    """Hub graph: the salted and plain SpMV paths agree exactly, the
    degree-stats pass measures the hub, and auto_salt routes by the
    trigger (reference ReduceAssign, CC.h:579-737)."""
    from combblas_spark.operators.spmv import in_degree_skew

    hub = 0
    edges = [(s, hub, 1.0) for s in range(1, 41)]          # 40-in-degree hub
    edges += [(s, s + 100, 1.0) for s in range(1, 41)]     # 40 singleton dsts
    g = Graph(
        edges=spark.createDataFrame(edges, "src long, dst long, w double"),
        n_partitions=8,
    )
    mx, m = in_degree_skew(g)
    assert (mx, m) == (40, 80)
    vec = spark.createDataFrame(
        [(v, float(v)) for v in range(1, 41)], "v long, val double"
    )
    plain = {r["v"]: r["val"] for r in spmv(g, vec).collect()}
    salted = {r["v"]: r["val"] for r in spmv_salted(g, vec).collect()}
    assert plain == salted
    # boundary stats (40 == 4 * 80/8) keep the plain path; a heavier
    # hub trips the salted route — results identical either way
    for stats in [(mx, m), (mx + 1, m)]:
        auto = {
            r["v"]: r["val"]
            for r in spmv(g, vec, auto_salt=True, skew_stats=stats).collect()
        }
        assert auto == plain


def test_route_salted_partial_agg_gate():
    """auto_salt only salts a skewed reduce whose add can't partially
    aggregate — algebraic adds are map-side-combine-immune (measured,
    BENCH_SKEW.json)."""
    from dataclasses import replace as dc_replace

    from combblas_spark.operators.spmv import _route_salted

    skewed = (200_000, 1_000_000)  # 20% hub over 32 partitions
    assert not _route_salted(PLUS_TIMES, skewed, 32)  # partial-capable: never
    gather = dc_replace(PLUS_TIMES, name="gather", partial_agg=False)
    assert _route_salted(gather, skewed, 32)          # gather add + skew: salt
    assert not _route_salted(gather, (40, 1_000_000), 32)  # no skew: plain


def test_spmv_salted_join_identical(spark):
    """The salted co-partitionable join (hub-src regime) matches the
    plain path exactly, pre-salted or not."""
    from combblas_spark.operators.spmv import salt_edges, spmv_salted_join

    hub = 0
    edges = [(hub, d, float(d)) for d in range(1, 41)]   # hub src fan-out
    edges += [(s, s + 100, 1.0) for s in range(1, 41)]
    g = Graph(
        edges=spark.createDataFrame(edges, "src long, dst long, w double"),
        n_partitions=8,
    )
    vec = spark.createDataFrame(
        [(v, float(v + 1)) for v in range(0, 45)], "v long, val double"
    )
    plain = {r["v"]: r["val"] for r in spmv(g, vec, broadcast_vector=False).collect()}
    fresh = {r["v"]: r["val"] for r in spmv_salted_join(g, vec, n_salts=4).collect()}
    pre = salt_edges(g, n_salts=4)
    cached = {r["v"]: r["val"] for r in spmv_salted_join(pre, vec, n_salts=4).collect()}
    assert plain == fresh == cached and plain
    # a pre-salted graph carries its replication factor: a MISMATCHED
    # n_salts at the call site (here the default 8 vs the pre-salt 4)
    # must NOT silently drop the edges whose _salt >= n_salts — the
    # recorded salt_count wins
    assert pre.salt_count == 4
    dflt = {r["v"]: r["val"] for r in spmv_salted_join(pre, vec).collect()}
    assert dflt == plain
    # a hand-salted graph without the recorded factor is refused rather
    # than risk silent mass loss
    import pytest as _pytest

    from dataclasses import replace as dc_replace

    bare = dc_replace(pre, salt_count=None)
    with _pytest.raises(ValueError, match="salt_count"):
        spmv_salted_join(bare, vec, n_salts=8)
