"""The workloads: inputs, the kernel calls of one pass, and their checks.

Sizes are chosen so that one run (JVM start, set-up, a warm-up pass and
two timed passes) takes under a minute on a 4-core host; ``tiny``
sizes serve the self-test.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import __spark_entry__ as E

from combblas_spark.algos.hits import hits_fixed
from combblas_spark.algos.linkpred import adamic_adar_topk
from combblas_spark.algos.pagerank import pagerank
from combblas_spark.algos.triangles import triangle_count
from combblas_spark.algos.truss import ktruss_rounds
from combblas_spark.sources.tables import link_graph_edges

#: converged PageRank (L1 criterion of bench.py's north metric; 13
#: iterations on the link graph at every size and seed tried)
PR_TOL, PR_NORM, PR_MAX_ITER = 1e-1, "l1", 60
#: fixed iterations of the durable (parquet snapshot) PageRank
DURABLE_ITERS = 3
#: iterations of HITS (the oracle SQL unrolls the same number)
HITS_ITERS = 1
KTRUSS_K, KTRUSS_ROUNDS = 12, 1
LP_K, LP_MAX_SRC = E.AA_K, E.AA_MAX_SRC

#: scale factor of the generated tables per workload input
SIZES = {
    "full": {"link": 0.005, "copurchase": 0.003},
    "tiny": {"link": 0.001, "copurchase": 0.001},
}

#: tables each input is derived from
TABLES = {"link": ("orders", "lineitem"), "copurchase": ("lineitem",)}

#: DuckDB derivation of each input's edge table, as the oracle SQL has it
EDGES_SQL = {
    "link": "WITH " + E.EDGES_CTE.strip() + " SELECT src, dst FROM edges",
    "copurchase": """
SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""",
}


@dataclass
class Out:
    """What one kernel call returns, before materialization."""

    df: object                      # DataFrame whose rows are checked
    pagerank: object = None         # PageRankResult for PageRank calls


@dataclass(frozen=True)
class Kernel:
    name: str                               # algos.<name>_s
    call: Callable[..., Out]                # (bench) -> Out
    gate: str | None = None                 # oracle SQL for the value check
    pagerank: tuple | None = None           # (tol, max_iter) of the numpy reference


@dataclass(frozen=True)
class Workload:
    name: str
    input: str                              # "link" | "copurchase"
    kernels: tuple[Kernel, ...]


def _pagerank(c, tol: float, max_iter: int, durable: bool = False) -> Out:
    r = pagerank(c.spark, c.graph, tol=tol, norm=PR_NORM, max_iter=max_iter,
                 checkpointer=c.new_checkpointer() if durable else None)
    return Out(r.ranks, r)


LINK = Workload(
    "link_iterative", "link",
    (
        Kernel("pagerank", lambda c: _pagerank(c, PR_TOL, PR_MAX_ITER),
               pagerank=(PR_TOL, PR_MAX_ITER)),
        Kernel("hits", lambda c: Out(hits_fixed(c.spark, c.graph, HITS_ITERS)),
               gate=E._hits_sql(HITS_ITERS)),
        Kernel("pagerank_durable", lambda c: _pagerank(c, -1.0, DURABLE_ITERS, durable=True),
               pagerank=(-1.0, DURABLE_ITERS)),
    ),
)

COPURCHASE = Workload(
    "copurchase_wedge", "copurchase",
    (
        Kernel("triangle_count", lambda c: Out(c.spark.createDataFrame(
            [(triangle_count(c.spark, c.graph),)], schema="n_triangles long")),
            gate=E.TRIANGLES_SQL),
        Kernel("ktruss", lambda c: Out(ktruss_rounds(
            c.spark, c.graph, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)),
            gate=E._ktruss_sql(KTRUSS_K, KTRUSS_ROUNDS)),
        Kernel("adamic_adar", lambda c: Out(adamic_adar_topk(
            c.spark, c.graph, k=LP_K, max_src=LP_MAX_SRC)),
            gate=E._adamic_adar_sql(LP_K, LP_MAX_SRC)),
    ),
)

WORKLOADS = {w.name: w for w in (LINK, COPURCHASE)}


def load_edges(spark, kind: str, tables_dir: str):
    """The workload's input edge table (uncached)."""
    if kind == "link":
        return link_graph_edges(spark, tables_dir)
    return E._copurchase_graph(spark, tables_dir).edges
