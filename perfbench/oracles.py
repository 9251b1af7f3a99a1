"""Reference results computed without Spark (numpy / networkx).

Each function takes plain arrays of int64 vertex ids, so the benchmark can
feed it the same edges it generated for the engine and compare outputs.
"""

from __future__ import annotations

import numpy as np


def dedup_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs without self loops: the build_graph
    pattern (sum duplicates, drop loops) with every weight ignored."""
    keep = src != dst
    width = int(max(src.max(), dst.max())) + 1
    key = np.unique(src[keep] * width + dst[keep])
    return key // width, key % width


def pagerank(src, dst, alpha=0.85, n_iter=None, tol=1e-8, max_iter=100):
    """Power iteration with uniform teleport and dangling mass spread
    uniformly, over the vertex set src UNION dst, starting from 1/n.

    ``n_iter`` runs exactly that many supersteps; otherwise it stops after
    the first superstep whose L1 change is below ``tol``. Returns
    (ids, ranks, supersteps run).
    """
    ids = np.unique(np.concatenate([src, dst]))
    n = ids.size
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    w = 1.0 / outdeg[s]
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    iters = n_iter if n_iter is not None else max_iter
    done = 0
    for _ in range(iters):
        inflow = np.bincount(d, weights=w * r[s], minlength=n)
        new = (1.0 - alpha) / n + alpha * (inflow + r[dangling].sum() / n)
        delta = np.abs(new - r).sum()
        r = new
        done += 1
        if n_iter is None and delta < tol:
            break
    return ids, r, done


def components(src, dst) -> tuple[np.ndarray, np.ndarray]:
    """(ids, comp) with comp = min vertex id of the undirected component:
    min-label hooking plus pointer jumping until nothing changes."""
    ids = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    label = np.arange(ids.size)
    while True:
        m = np.minimum(label[s], label[d])
        new = label.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, d, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return ids, ids[label]
        label = new


def triangle_count(src, dst) -> int:
    """Triangles in the undirected simple view of the edges (networkx)."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((int(a), int(b)) for a, b in zip(src, dst) if a != b)
    return sum(nx.triangles(g).values()) // 3
