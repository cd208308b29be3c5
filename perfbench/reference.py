"""Independent reference implementations the benchmark checks outputs against.

NumPy for PageRank, connected components and label propagation (same
semantics as linkgraph's, written from the algorithm definitions, not
from its code); DuckDB SQL for per-vertex triangle counts. Each takes
edge arrays ``(src, dst)`` of int64 vertex ids and returns
``(ids, values)`` sorted by id.
"""

from __future__ import annotations

import numpy as np


def _index(src, dst, extra=None):
    parts = [src, dst] + ([extra] if extra is not None else [])
    ids, inv = np.unique(np.concatenate(parts), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src): len(src) + len(dst)]


def pagerank(src, dst, tol=1e-6, damping=0.85, init=None, updates=None, max_updates=100):
    """Power iteration over the vertices that appear in an edge.

    Teleport is ``(1 - damping) / N``; a dangling vertex's mass is
    dropped, not redistributed. ``init`` = ``(ids, ranks)`` seeds the
    listed vertices (others start at 1/N). Runs exactly ``updates`` rank
    updates when given, else until the L1 change is <= ``tol``.
    Returns ``((ids, ranks), updates_run, deltas)``.
    """
    ids, s, d = _index(src, dst)
    n = len(ids)
    rank = np.full(n, 1.0 / n)
    if init is not None:
        pos = np.searchsorted(ids, init[0])
        hit = (pos < n) & (ids[pos.clip(0, n - 1)] == init[0])
        rank[pos[hit]] = init[1][hit]
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    deltas = []
    limit = updates if updates is not None else max_updates
    for _ in range(limit):
        msum = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
        new = (1.0 - damping) / n + damping * msum
        deltas.append(float(np.abs(new - rank).sum()))
        rank = new
        if updates is None and deltas[-1] <= tol:
            break
    return (ids, rank), len(deltas), deltas


def connected_components(src, dst, vertices=None):
    """Undirected components labelled by their smallest vertex id."""
    ids, s, d = _index(src, dst, vertices)
    root = np.arange(len(ids))
    while True:
        lo = np.minimum(root[s], root[d])
        before = root.copy()
        np.minimum.at(root, s, lo)
        np.minimum.at(root, d, lo)
        root = root[root]          # pointer jumping
        if np.array_equal(root, before):
            break
    # at the fixpoint every vertex of a component holds its smallest
    # index, which is its smallest id (ids are sorted)
    return ids, ids[root]


def label_propagation(src, dst, max_supersteps, vertices=None):
    """Synchronous mode-label propagation over the undirected simple
    graph: each vertex with neighbours takes its neighbours' most
    frequent label, ties to the smallest label; labels start at the
    vertex id; stops when nothing changes or after ``max_supersteps``."""
    ids, s, d = _index(src, dst, vertices)
    pairs = np.unique(np.stack([np.concatenate([s, d]), np.concatenate([d, s])], 1), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    v, u = pairs[:, 0], pairs[:, 1]
    label = ids.copy()
    for _ in range(max_supersteps):
        nl = label[u]
        order = np.lexsort((nl, v))
        vv, ll = v[order], nl[order]
        run = np.flatnonzero(np.r_[True, (vv[1:] != vv[:-1]) | (ll[1:] != ll[:-1])])
        cnt = np.diff(np.r_[run, len(vv)])
        rv, rl = vv[run], ll[run]
        # per vertex: highest count, then smallest label
        best = np.lexsort((rl, -cnt, rv))
        first = best[np.r_[True, rv[best][1:] != rv[best][:-1]]]
        new = label.copy()
        new[rv[first]] = rl[first]
        if np.array_equal(new, label):
            break
        label = new
    return ids, label


def triangle_counts(src, dst, vertices):
    """Per-vertex triangle counts over the undirected simple graph, each
    triangle a < b < c counted once at its smallest vertex a; DuckDB."""
    import duckdb
    import pyarrow as pa

    edges = pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})
    verts = pa.table({"id": pa.array(vertices, pa.int64())})
    con = duckdb.connect()
    try:
        con.register("edges", edges)
        con.register("verts", verts)
        out = con.execute(
            """
            WITH e AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst
            ), t AS (
                SELECT e1.a AS id, count(*) AS n
                FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
                GROUP BY e1.a
            )
            SELECT v.id, coalesce(t.n, 0) AS n FROM verts v LEFT JOIN t USING (id) ORDER BY v.id
            """
        ).fetchnumpy()
    finally:
        con.close()
    return out["id"].astype(np.int64), out["n"].astype(np.int64)
