"""Output checks, run outside the timed region.

* Gate kernels: row count plus an order-insensitive value digest, with
  the normalization of ``scripts/check_oracle.py`` (columns ordered by
  name, values as strings, rows sorted), against the kernel's DuckDB
  oracle SQL from ``__spark_entry__`` evaluated on the same generated
  tables.
* PageRank: rank mass 1 ± 1e-6, no null or NaN, the iteration count of
  a numpy power iteration with the engine's update rule, and every rank
  within 1e-9 of that reference.

Oracle results are cached per input, so repeated runs on one seed pay
for them once.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

MASS_TOL = 1e-6
RANK_TOL = 1e-9


def digest(rows, cols) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(str(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(norm).encode()).hexdigest()
    return {"rows": len(norm), "digest": h, "cols": sorted(cols)}


def duck(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')"
        )
    return con


def oracle_digests(cache_path: str, tables_dir: str, sqls: dict[str, str]) -> dict:
    """{gate: digest} of each oracle SQL on the tables, cached on disk
    under the SQL text's hash."""
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("sql_sha256") == key:
            return cached["digests"]
    con = duck(tables_dir)
    out = {}
    for name, sql in sqls.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = digest(cur.fetchall(), cols)
    con.close()
    with open(cache_path, "w") as f:
        json.dump({"sql_sha256": key, "digests": out}, f)
    return out


def check_gate(rows, cols, expected: dict) -> str | None:
    got = digest(rows, cols)
    if got["cols"] != expected["cols"]:
        return f"columns {got['cols']} != {expected['cols']}"
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != {expected['rows']}"
    if got["digest"] != expected["digest"]:
        return "value digest mismatch"
    return None


# -- PageRank -----------------------------------------------------------

def pagerank_reference(src: np.ndarray, dst: np.ndarray, tol: float, max_iter: int,
                       norm: str = "l1", alpha: float = 0.85) -> tuple[np.ndarray, np.ndarray, int]:
    """(vertex ids, ranks, iterations): the update rule of
    ``algos.pagerank.pagerank`` — dangling mass spread uniformly,
    ``tol < 0`` runs exactly ``max_iter`` iterations."""
    verts, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[: src.size], idx[src.size:]
    n = verts.size
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    it, delta = 0, math.inf
    while it < max_iter and delta > tol:
        contrib = np.where(dangling, 0.0, rank / np.where(dangling, 1.0, deg))
        sums = np.bincount(d, weights=contrib[s], minlength=n)
        new = (1.0 - alpha) / n + alpha * rank[dangling].sum() / n + alpha * sums
        diff = np.abs(new - rank)
        delta = diff.sum() if norm == "l1" else diff.max()
        rank, it = new, it + 1
    return verts, rank, it


def check_pagerank(rows, iterations: int, ref: dict) -> str | None:
    """``rows`` are (v, rank); ``ref`` holds the reference arrays."""
    v = np.array([r[0] for r in rows], dtype=np.int64)
    rank = np.array([np.nan if r[1] is None else r[1] for r in rows], dtype=np.float64)
    if np.isnan(rank).any():
        return "null or NaN rank"
    if abs(rank.sum() - 1.0) > MASS_TOL:
        return f"rank mass {rank.sum():.9f}"
    if iterations != ref["iterations"]:
        return f"iterations {iterations} != {ref['iterations']}"
    order = np.argsort(v)
    if not np.array_equal(v[order], ref["v"]):
        return "vertex set differs"
    err = np.abs(rank[order] - ref["rank"]).max()
    if err > RANK_TOL:
        return f"max rank error {err:.3g}"
    return None


def reference_edges(cache_path: str, tables_dir: str, sql: str):
    """(src, dst) int64 arrays of the input edge table, derived by
    DuckDB from the generated tables; cached on disk as .npz."""
    if not os.path.exists(cache_path):
        con = duck(tables_dir)
        cols = con.execute(sql).fetchnumpy()
        con.close()
        _save_npz(cache_path, src=np.asarray(cols["src"], dtype=np.int64),
                  dst=np.asarray(cols["dst"], dtype=np.int64))
    z = np.load(cache_path)
    return z["src"], z["dst"]


def pagerank_oracle(cache_path: str, src, dst, tol: float, max_iter: int) -> dict:
    """Reference ranks for the input, cached on disk as .npz."""
    if not os.path.exists(cache_path):
        v, rank, it = pagerank_reference(src, dst, tol, max_iter)
        _save_npz(cache_path, v=v, rank=rank, iterations=it)
    z = np.load(cache_path)
    return {"v": z["v"], "rank": z["rank"], "iterations": int(z["iterations"])}


def _save_npz(path: str, **arrays) -> None:
    with open(path + ".tmp", "wb") as f:
        np.savez(f, **arrays)
    os.replace(path + ".tmp", path)
