"""Indexing / assignment / permutation (SURVEY.md §2.5).

The reference implements A(ri,ci) as permutation-matrix SpGEMM
(SpParMat::SubsRef_SR, SpParMat.cpp:2028-2263); here sub-matrix
extraction/assignment is two joins against id-remap tables — the remap
table IS the permutation matrix.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..graph import DST, SRC, W, Graph


def subsref(g: Graph, rows: DataFrame, cols: DataFrame | None = None) -> Graph:
    """A(ri, ci): keep entries with src∈rows, dst∈cols and RELABEL to
    the positions given by the remap tables (v, new_id).

    ``rows``/``cols``: (v, new_id).  cols defaults to rows (symmetric
    extraction, e.g. dropping isolated vertices, TopDownBFS.cpp:167).
    """
    if cols is None:
        cols = rows
    r = rows.select(F.col("v").alias(SRC), F.col("new_id").alias("_nsrc"))
    c = cols.select(F.col("v").alias(DST), F.col("new_id").alias("_ndst"))
    out = (
        g.edges.join(r, SRC, "inner")
        .join(c, DST, "inner")
        .select(
            F.col("_nsrc").alias(SRC), F.col("_ndst").alias(DST), F.col(W)
        )
    )
    return replace(g, edges=out)


def spasgn(g: Graph, rows: DataFrame, cols: DataFrame, b: Graph) -> Graph:
    """SpAsgn: A(ri,ci) = B (SpParMat.cpp:2434-2573) — clear the
    (ri×ci) region with anti-joins, then union B remapped into global
    ids.  ``rows``/``cols``: (v=global_id, new_id=B-local id)."""
    cleared = (
        g.edges.join(rows.select(F.col("v").alias(SRC)), SRC, "left_anti")
        .unionByName(
            g.edges.join(rows.select(F.col("v").alias(SRC)), SRC, "left_semi")
            .join(cols.select(F.col("v").alias(DST)), DST, "left_anti")
        )
    )
    rinv = rows.select(F.col("new_id").alias(SRC), F.col("v").alias("_gsrc"))
    cinv = cols.select(F.col("new_id").alias(DST), F.col("v").alias("_gdst"))
    remapped = (
        b.edges.join(rinv, SRC, "inner")
        .join(cinv, DST, "inner")
        .select(F.col("_gsrc").alias(SRC), F.col("_gdst").alias(DST), F.col(W))
    )
    return replace(g, edges=cleared.unionByName(remapped))


def vec_subsref(vec: DataFrame, indices: DataFrame, val_col: str = "val") -> DataFrame:
    """v2 = v(ri): gather — the Shortcut `parent(parent)` join of CC
    (FullyDistVec.cpp:933-1070; CC.h:1324).  ``indices``: (v, idx) where
    idx points into ``vec``; result (v, val=vec[idx])."""
    tgt = vec.select(F.col("v").alias("idx"), F.col(val_col))
    return indices.join(tgt, "idx", "inner").select("v", val_col)


def vec_assign(
    vec: DataFrame, updates: DataFrame, val_col: str = "val", combine: str = "last"
) -> DataFrame:
    """Assign(ind, val): scatter updates into a vector (CC.h:746-1028).
    Duplicate targets combine by min/max ('min'/'max') or overwrite
    ('last' → min for determinism).  Spark's partial aggregation IS the
    reference's adaptive ReduceAssign combine."""
    agg = {"min": F.min, "max": F.max, "last": F.min}[combine](val_col)
    u = updates.groupBy("v").agg(agg.alias("_nv"))
    return (
        vec.join(u, "v", "left")
        .select("v", F.coalesce(F.col("_nv"), F.col(val_col)).alias(val_col))
    )


def vec_invert(vec: DataFrame, val_col: str = "val", dup: str = "min") -> DataFrame:
    """Invert: (v, val) → (v=val, val=v) — build an inverse permutation /
    index lookup (FullyDistSpVec.cpp:1800-2390).  Duplicate values keep
    min (or max) original index."""
    agg = F.min if dup == "min" else F.max
    return (
        vec.groupBy(F.col(val_col).cast("long").alias("v"))
        .agg(agg("v").alias(val_col))
    )


def iota(spark: SparkSession, n: int, first: int = 0) -> DataFrame:
    """v[i] = first + i (FullyDistVec.h:159)."""
    return spark.range(n).select(
        F.col("id").alias("v"), (F.col("id") + first).alias("val")
    )


def _dense_rank_by(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed global rank assignment, 100% JVM-side.

    NO single-partition window (Window.orderBy with no partitionBy
    moves every row to one task) and NO Python RDD (zipWithIndex
    pickles every row out to Python workers and back).  Instead:

    1. range-partition + sort within partitions on ``order_cols`` —
       the distributed sample sort (psort analogue);
    2. ``monotonically_increasing_id`` then encodes exactly
       (partition_id << 33) | within-partition position, and the
       within-partition order IS the sorted order;
    3. one tiny per-partition count aggregate gives each partition's
       global offset (driver sees P rows, not data);
    4. broadcast-join the offsets back: rank = offset + local position.

    One wide exchange total (the range partition); ranks depend only on
    the total order, so the result is deterministic at any parallelism.
    ``order_cols`` must be a total order (all callers pass unique keys).
    """
    spark = df.sparkSession
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    # localCheckpoint, not cache(): the offsets pass and the final join
    # must see the SAME materialized row order (cache eviction would
    # silently recompute and could reshuffle), and cache() entries here
    # leaked for the session lifetime at every call site
    tagged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", 33))
        .withColumn("_loc", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .localCheckpoint(eager=True)
    )
    counts = tagged.groupBy("_pid").agg(F.count("*").alias("_n"))
    # cumulative offsets over P rows — a driver-scale window, not a data one
    w0 = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w0), F.lit(0)).alias("_off")
    )
    keep = keep_cols if keep_cols is not None else ["v"]
    return (
        tagged.join(F.broadcast(offs), "_pid")
        .select(*keep, (F.col("_off") + F.col("_loc")).alias(out_col))
    )


def nziota(vec: DataFrame, first: int = 0) -> DataFrame:
    """Rank-numbering of nonzeros in index order (FullyDistSpVec.h:185):
    val = first + rank_of_v — the LabelCC root renumbering primitive
    (CC.h:1393).  Distributed sort + zipWithIndex; no global window."""
    ranked = _dense_rank_by(vec.select("v"), ["v"], "val")
    if first:
        ranked = ranked.select("v", (F.col("val") + first).alias("val"))
    return ranked


def rand_perm(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Distributed random permutation (FullyDistVec::RandPerm,
    FullyDistVec.cpp:783-880): (v, new_id).

    The shuffle key is a seeded counter-based hash of the id —
    deterministic and partitioning-independent (``F.rand(seed)`` is
    NOT: its stream depends on partition layout), then the distributed
    sort + zipWithIndex assigns dense positions with no global window."""
    base = spark.range(n).select(
        F.col("id").alias("v"), F.xxhash64(F.col("id"), F.lit(seed)).alias("_k")
    )
    return _dense_rank_by(base, ["_k", "v"], "new_id")


def permute_symmetric(g: Graph, perm: DataFrame) -> Graph:
    """A(p,p) random relabel for load balance (MCL.cpp:496-511,
    TopDownBFS.cpp:342-345)."""
    return subsref(g, perm)


def vec_concatenate(
    spark: SparkSession,
    vecs: list[DataFrame],
    val_col: str = "val",
    lengths: list[int] | None = None,
) -> DataFrame:
    """Stack vectors with offset ids (ParFriends.h:75-174).

    Offsets come from ``lengths`` when the caller knows them, else from
    ONE tagged-union counting job — not k sequential ``count()`` driver
    actions (k round-trips for k vectors)."""
    if lengths is None:
        tagged = None
        for i, v in enumerate(vecs):
            t = v.select(F.lit(i).alias("_i"))
            tagged = t if tagged is None else tagged.unionByName(t)
        counts = {r["_i"]: r["count"] for r in tagged.groupBy("_i").count().collect()}
        lengths = [int(counts.get(i, 0)) for i in range(len(vecs))]
    out = None
    offset = 0
    for v, ln in zip(vecs, lengths):
        shifted = v.select((F.col("v") + offset).alias("v"), F.col(val_col))
        out = shifted if out is None else out.unionByName(shifted)
        offset += ln
    return out


def set_element(vec: DataFrame, v: int, val, spark: SparkSession, val_col: str = "val") -> DataFrame:
    """Point update (SetElement) via union of a literal row."""
    lit = spark.createDataFrame([(v, val)], schema=vec.select("v", val_col).schema)
    return vec.filter(F.col("v") != v).unionByName(lit)


def get_element(vec: DataFrame, v: int, val_col: str = "val"):
    rows = vec.filter(F.col("v") == v).select(val_col).collect()
    return rows[0][0] if rows else None


def del_element(vec: DataFrame, v: int) -> DataFrame:
    """DelElement (FullyDistSpVec.h:189): drop the entry at index v."""
    return vec.filter(F.col("v") != v)


def vec_sort(vec: DataFrame, val_col: str = "val", ascending: bool = True):
    """sort(): sort a vector by value and RETURN THE PERMUTATION
    (FullyDistVec::sort, FullyDistVec.cpp:746-782 — the psort-based
    sample sort whose output is the reorder map, reusable across later
    subsref/permute calls).

    Returns (sorted_vec, perm): ``sorted_vec`` is (v=rank, val) with
    ranks dense 0..n-1 in value order (ties by original index, so the
    permutation is deterministic); ``perm`` is (v=original_index,
    new_id=rank) ready for ``subsref``/``permute_symmetric``.
    JVM-side distributed rank (see _dense_rank_by) — no global window,
    no Python RDD in the data path.

    NaN contract: Spark orders NaN as the greatest double, so descending
    puts NaN first — the negated ascending key would silently flip that
    (-NaN is still NaN and sorts last ascending), so NaN is mapped to
    -inf on the descending path to preserve the F.desc() placement."""
    src = vec
    if not ascending:
        # rank by a JVM-negatable key so one code path serves both
        # directions; restore the original value column afterwards
        key = -F.col(val_col)
        if vec.schema[val_col].dataType.typeName() in ("double", "float"):
            key = F.when(F.isnan(F.col(val_col)), F.lit(float("-inf"))).otherwise(key)
        src = vec.withColumn("_negv", key)
        order = ["_negv", "v"]
    else:
        order = [val_col, "v"]
    both = _dense_rank_by(src, order, "rank", keep_cols=["v", val_col])
    sorted_vec = both.select(F.col("rank").alias("v"), F.col(val_col))
    perm = both.select(F.col("v").alias("_o"), F.col("rank").alias("new_id")).select(
        F.col("_o").alias("v"), "new_id"
    )
    return sorted_vec, perm


def induced_subgraphs(g: Graph, labels: DataFrame, label_col: str = "comp") -> DataFrame:
    """InducedSubgraphs (SpParMat.h:108; ReleaseTests/
    InducedSubgraphsTest.cpp): partition the graph into per-label
    induced subgraphs — edges whose BOTH endpoints carry the same
    label, tagged with it.

    Returns (label, src, dst, w) hash-distributed BY LABEL, so each
    subgraph's edges are co-located for whatever per-component
    processing follows (the Spark analogue of the reference's
    per-process subgraph assignment).  Common post-CC step: feed each
    component to a local algorithm."""
    ls = labels.select(F.col("v").alias(SRC), F.col(label_col).alias("_ls"))
    ld = labels.select(F.col("v").alias(DST), F.col(label_col).alias("_ld"))
    tagged = (
        g.edges.join(ls, SRC, "inner")
        .join(ld, DST, "inner")
        .filter(F.col("_ls") == F.col("_ld"))
        .select(F.col("_ls").alias(label_col), SRC, DST, W)
    )
    return tagged.repartition(g.n_partitions, label_col)
