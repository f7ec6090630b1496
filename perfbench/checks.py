"""Vectorized reference outputs the benchmark checks every plan result against.

The package's own oracles (minigraph_spark.oracle) are the test references,
but several loop per edge or per vertex in Python and take minutes at
benchmark sizes. The checks here compute the same fixpoints with NumPy array
operations (and DuckDB for triangles), independently of the Spark engine.
PageRank reuses oracle.pagerank_standard, which is already vectorized.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from minigraph_spark import oracle


def _dense(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return np.searchsorted(ids, src), np.searchsorted(ids, dst), ids


def wcc_labels(src: np.ndarray, dst: np.ndarray) -> pd.Series:
    """Min-vertex-id component label per vertex of the undirected closure.

    Shiloach-Vishkin style: hook every edge's parents onto the smaller one,
    then shortcut to stars, until every edge joins equal parents. Parents
    only ever point at smaller vertices of the same component, so the root
    of each star is the component's minimum id."""
    u, v, ids = _dense(np.asarray(src, np.int64), np.asarray(dst, np.int64))
    parent = np.arange(ids.size)
    while True:
        pu, pv = parent[u], parent[v]
        if np.array_equal(pu, pv):
            break
        np.minimum.at(parent, pu, pv)
        np.minimum.at(parent, pv, pu)
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return pd.Series(ids[parent], index=ids)


def lpa_labels(src: np.ndarray, dst: np.ndarray, max_iter: int) -> pd.Series:
    """Synchronous most-frequent-neighbour-label propagation on the simple
    undirected closure, ties to the smallest label, stopping early when a
    sweep changes nothing — plans.lpa.run_lpa's rule."""
    u, v, ids = _dense(np.asarray(src, np.int64), np.asarray(dst, np.int64))
    pairs = np.unique(np.stack([np.r_[u, v], np.r_[v, u]], axis=1), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    s, d = pairs[:, 0], pairs[:, 1]
    label = ids.copy()
    for _ in range(max_iter):
        lab = label[s]
        order = np.lexsort((lab, d))
        dd, ll = d[order], lab[order]
        start = np.r_[True, (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])]
        pos = np.flatnonzero(start)
        cnt = np.diff(np.r_[pos, dd.size])
        gd, gl = dd[pos], ll[pos]
        best = np.lexsort((gl, -cnt, gd))
        first = best[np.r_[True, gd[best][1:] != gd[best][:-1]]]
        new = label.copy()
        new[gd[first]] = gl[first]
        if np.array_equal(new, label):
            break
        label = new
    return pd.Series(label, index=ids)


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the simple undirected closure, counted once each by a
    DuckDB join over the canonical (low, high) edge set."""
    lo = np.minimum(src, dst)
    hi = np.maximum(src, dst)
    keep = lo != hi
    edges = pd.DataFrame({"a": lo[keep], "b": hi[keep]}).drop_duplicates()
    con = duckdb.connect()
    try:
        con.register("e", edges)
        return int(
            con.execute(
                "SELECT count(*) FROM e x JOIN e y ON x.b = y.a "
                "JOIN e z ON z.a = x.a AND z.b = y.b"
            ).fetchone()[0]
        )
    finally:
        con.close()


def pagerank(src: np.ndarray, dst: np.ndarray, tol: float, max_iter: int) -> pd.Series:
    edges = np.stack([np.asarray(src, np.int64), np.asarray(dst, np.int64)], axis=1)
    return pd.Series(oracle.pagerank_standard(edges, tol=tol, max_iter=max_iter))


def _aligned(got: pd.DataFrame, want: pd.Series):
    """(got values, want values) over the same sorted vertex ids, or None
    when the vertex sets differ."""
    g = got.set_index("vid")["value"].sort_index()
    w = want.sort_index()
    if len(g) != len(w) or not np.array_equal(g.index.to_numpy(), w.index.to_numpy()):
        return None
    return g.to_numpy(), w.to_numpy()


def same_labels(got: pd.DataFrame, want: pd.Series) -> bool:
    """Exact (vid -> value) equality, vertex sets included."""
    pair = _aligned(got, want)
    return pair is not None and bool(np.array_equal(*pair))


def close_ranks(got: pd.DataFrame, want: pd.Series, atol: float = 1e-6) -> bool:
    pair = _aligned(got, want)
    return pair is not None and bool(np.allclose(*pair, rtol=0.0, atol=atol))
