"""Independent references for every kernel the benchmark times.

Each function takes the planted edge list (an (E, 2) int64 array of
directed, distinct, self-loop-free pairs) and computes the expected
result with numpy or DuckDB alone.  Each ``check_*`` returns ``None``
when the engine's output matches, else a one-line reason.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa


def _dense(edges: np.ndarray, vertices: np.ndarray | None = None):
    """Map ids to positions 0..n-1 in ascending id order."""
    ids = np.unique(edges.ravel()) if vertices is None else np.unique(vertices)
    return ids, np.searchsorted(ids, edges[:, 0]), np.searchsorted(ids, edges[:, 1])


def _symmetric(u: np.ndarray, v: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Both directions of every undirected edge, each pair once."""
    a, b = np.concatenate([u, v]), np.concatenate([v, u])
    key = np.unique(a * n + b)
    return key // n, key % n


def pagerank(edges: np.ndarray, vertices=None, alpha: float = 0.85, tol: float = 1e-6,
             max_supersteps: int = 100) -> tuple[np.ndarray, np.ndarray]:
    """Power iteration with the engine's rule: stop once the L1 change
    of a superstep is below ``tol``; dangling mass is spread evenly."""
    ids, s, d = _dense(edges, vertices)
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(max_supersteps):
        contrib = np.zeros(n)
        np.add.at(contrib, d, rank[s] / out_deg[s])
        new = (1.0 - alpha) / n + alpha * (contrib + rank[dangling].sum() / n)
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < tol:
            break
    return ids, rank


def components(edges: np.ndarray, vertices=None) -> tuple[np.ndarray, np.ndarray]:
    """Min-id component label of every vertex of the undirected view
    (hooking plus pointer jumping)."""
    ids, u, v = _dense(edges, vertices)
    lab = np.arange(len(ids))
    while True:
        new = lab.copy()
        np.minimum.at(new, u, lab[v])
        np.minimum.at(new, v, lab[u])
        new = new[new]
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def label_propagation(edges: np.ndarray, supersteps: int, vertices=None) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous label propagation on the undirected view: each vertex
    takes the most frequent neighbour label, ties to the smallest label;
    a vertex without neighbours keeps its own."""
    ids, u, v = _dense(edges, vertices)
    n = len(ids)
    src, dst = _symmetric(u, v, n)
    lab = ids.copy()
    for _ in range(supersteps):
        key = np.unique(dst * (ids.max() + 1) + lab[src], return_counts=True)
        d, l_, cnt = key[0] // (ids.max() + 1), key[0] % (ids.max() + 1), key[1]
        # per destination: highest count, then smallest label
        order = np.lexsort((l_, -cnt, d))
        d, l_ = d[order], l_[order]
        first = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        new = lab.copy()
        new[d[first]] = l_[first]
        lab = new
    return ids, lab


def triangles(edges: np.ndarray) -> int:
    """Exact triangle count of the simple undirected view (DuckDB)."""
    u, v = edges[:, 0], edges[:, 1]
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    con = duckdb.connect()
    try:
        con.register("raw", pa.table({"u": lo, "v": hi}))
        con.execute("CREATE TABLE e AS SELECT DISTINCT u, v FROM raw")
        return int(con.execute(
            "SELECT count(*) FROM e a JOIN e b ON a.v = b.u JOIN e c ON c.u = a.u AND c.v = b.v"
        ).fetchone()[0])
    finally:
        con.close()


def _aligned(ids: np.ndarray, got_ids: np.ndarray, got_vals: np.ndarray, what: str):
    if len(got_ids) != len(ids):
        return None, f"{what}: {len(got_ids)} rows, expected {len(ids)}"
    order = np.argsort(got_ids)
    if not np.array_equal(got_ids[order], ids):
        return None, f"{what}: vertex ids differ from the input's"
    return got_vals[order], None


def check_close(ids, expected, got_ids, got_vals, what: str, atol: float):
    vals, err = _aligned(ids, got_ids, got_vals, what)
    if err:
        return err
    worst = float(np.max(np.abs(vals - expected))) if len(ids) else 0.0
    return None if worst <= atol else f"{what}: max difference {worst:.3g} > {atol:g}"


def check_equal(ids, expected, got_ids, got_vals, what: str):
    vals, err = _aligned(ids, got_ids, got_vals, what)
    if err:
        return err
    bad = int(np.count_nonzero(vals != expected))
    return None if bad == 0 else f"{what}: {bad} of {len(ids)} vertices differ"


def check_coloring(edges: np.ndarray, ids, got_ids, got_colors):
    """Proper (no edge joins two equal colors) and complete (every
    vertex colored exactly once)."""
    vals, err = _aligned(ids, got_ids, got_colors, "coloring")
    if err:
        return err
    if np.any(vals < 0):
        return "coloring: negative or missing colors"
    u, v = np.searchsorted(ids, edges[:, 0]), np.searchsorted(ids, edges[:, 1])
    clash = int(np.count_nonzero(vals[u] == vals[v]))
    return None if clash == 0 else f"coloring: {clash} edges join equal colors"
