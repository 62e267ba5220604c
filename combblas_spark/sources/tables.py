"""Loaders for the driver-provided parquet tables and the derived link graph.

The sandbox test data (/root/testdata/sf*/… per TESTDATA.md) is a
TPC-H-ish star schema.  The engine's canonical correctness-gate graph is
derived deterministically from it: the **customer→supplier graph** —
an edge (c, s) whenever customer c placed an order containing a line
item supplied by s.  Supplier ids are offset into their own id space so
the graph is bipartite-by-construction but treated as a general digraph.

This derivation is pure relational algebra, so the DuckDB oracle can
reproduce it exactly (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import Graph

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: keeps supplier vertex ids disjoint from customer ids
SUPPLIER_OFFSET = 1_000_000

LINK_GRAPH_SQL = """
SELECT o.o_custkey AS src,
       l.l_suppkey + 1000000 AS dst,
       CAST(count(*) AS DOUBLE) AS w
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_custkey, l.l_suppkey
"""


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def link_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived customer→supplier multigraph collapsed to weighted edges.

    Column pruning pushes down to the parquet scans (only the three key
    columns are read); the join key o_orderkey has near-uniform
    cardinality so no salting is needed here.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPPLIER_OFFSET).alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("w"))
    )


def link_graph(spark: SparkSession, sf_dir: str, n_partitions: int = 32) -> Graph:
    e = link_graph_edges(spark, sf_dir).repartition(n_partitions, "src")
    return Graph(edges=e, n_partitions=n_partitions)


def event_link_edges(
    spark: SparkSession, sf_dir: str, mod: int = 7
) -> DataFrame:
    """Directed user→user edge list from consecutive same-type events,
    thinned by a deterministic per-edge hash (keep when
    (src·131 + dst·17) mod ``mod`` = 0).

    The dense consecutive-event graph is strongly connected at every
    SF, which makes reachability analyses (bowtie) vacuous; the thinned
    graph keeps a giant SCC plus genuine IN/OUT/tendril mass — the
    Broder web shape — while staying a pure column expression the
    DuckDB oracle replays verbatim.  Scan reads three columns; the
    self-equijoin on (event_type, event_id+1) hash-partitions on
    event_type, and the thinning filter sits under the distinct so the
    exchange only carries surviving pairs.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.event_id") == F.col("a.event_id") + 1),
        )
        .select(
            F.col("a.user_id").alias("src"),
            F.col("b.user_id").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .filter((F.col("src") * 131 + F.col("dst") * 17) % mod == 0)
        .distinct()
    )
