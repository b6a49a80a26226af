"""Vectorized numpy oracles for the operators the benchmark times.

Each oracle takes edge arrays with arbitrary int64 vertex ids (dense,
sparse, or shifted by 2^40), compacts the ids order-preservingly, runs
the algorithm on the compact ids and maps results back. Order
preservation matters: WCC labels, BFS predecessors and LPA tie-breaks
are all "smallest id", which the compaction keeps.

Semantics follow the loop oracles in ``tests/oracles.py`` (which the
benchmark's tests compare against) but every superstep is a handful of
array passes, so a check at millions of edges takes seconds.
"""

from __future__ import annotations

import numpy as np


def simple_edges(src, dst, w=None):
    """Collapse parallel edges keeping the minimum weight (the default
    ``Graph(multi_edge=False)`` semantics) and sort by (src, dst)."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.ones(len(src)) if w is None else np.asarray(w, dtype=np.float64)
    order = np.lexsort((w, dst, src))
    src, dst, w = src[order], dst[order], w[order]
    keep = np.ones(len(src), dtype=bool)
    keep[1:] = (src[1:] != src[:-1]) | (dst[1:] != dst[:-1])
    return src[keep], dst[keep], w[keep]


def compact(src, dst):
    """(ids, s, d): sorted distinct vertex ids and the edge endpoints as
    indices into them."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, w, alpha=0.85, tol=1e-6, max_iter=100):
    """Returns (ids, ranks, supersteps). ``tol=0`` runs exactly
    ``max_iter`` supersteps."""
    ids, s, d = compact(src, dst)
    n = len(ids)
    ows = np.bincount(s, weights=w, minlength=n)
    dangling_mask = ows == 0.0
    div = np.where(dangling_mask, 1.0, ows)
    r = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        contrib = np.bincount(d, weights=(r / div)[s] * w, minlength=n)
        new = alpha * contrib + (r[dangling_mask].sum() * alpha + (1 - alpha)) / n
        l1 = np.abs(new - r).sum()
        r = new
        if tol > 0 and l1 < tol:
            break
    return ids, r, it


def wcc(src, dst):
    """Returns (ids, labels): each label is the smallest id in the
    vertex's weakly connected component."""
    ids, s, d = compact(src, dst)
    lab = np.arange(len(ids))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        while True:  # pointer jumping: lab[v] <= v stays in v's component
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def bfs(src, dst, source):
    """Directed BFS from ``source``. Returns (ids, distance, predecessor);
    the predecessor is the smallest-id frontier in-neighbour at the level
    of first reach; unreachable vertices get -1 for both."""
    ids, s, d = compact(src, dst)
    n = len(ids)
    order = np.argsort(s, kind="stable")
    s_sorted, d_sorted = s[order], d[order]
    indptr = np.searchsorted(s_sorted, np.arange(n + 1))
    dist = np.full(n, -1, dtype=np.int64)
    pred = np.full(n, -1, dtype=np.int64)
    pos = np.searchsorted(ids, source)
    if pos == n or ids[pos] != source:
        return ids, dist, pred
    dist[pos] = 0
    frontier = np.array([pos])
    level = 0
    while len(frontier):
        level += 1
        starts, counts = indptr[frontier], indptr[frontier + 1] - indptr[frontier]
        total = counts.sum()
        if total == 0:
            break
        offs = np.repeat(starts - np.cumsum(counts) + counts, counts) + np.arange(total)
        to, frm = d_sorted[offs], np.repeat(frontier, counts)
        fresh = dist[to] == -1
        to, frm = to[fresh], frm[fresh]
        if not len(to):
            break
        o = np.lexsort((frm, to))
        to, frm = to[o], frm[o]
        first = np.ones(len(to), dtype=bool)
        first[1:] = to[1:] != to[:-1]
        frontier = to[first]
        dist[frontier] = level
        pred[frontier] = frm[first]
    return ids, dist, np.where(pred >= 0, ids[np.maximum(pred, 0)], -1)


def label_propagation(src, dst, w, max_iter=20):
    """Synchronous LPA over a symmetric edge list: label(v) <- the label
    with the largest incident weight, ties to the smallest label, from
    label(v) = v; stops at a fixpoint or after ``max_iter`` supersteps.
    Returns (ids, labels)."""
    ids, s, d = compact(src, dst)
    n = len(ids)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        key, inv = np.unique(d * n + lab[s], return_inverse=True)
        wsum = np.bincount(inv, weights=w)
        kd, kl = key // n, key % n
        o = np.lexsort((kl, -wsum, kd))
        kd, kl = kd[o], kl[o]
        first = np.ones(len(kd), dtype=bool)
        first[1:] = kd[1:] != kd[:-1]
        new = lab.copy()
        new[kd[first]] = kl[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return ids, ids[lab]


def triangle_count(src, dst):
    """Per-vertex triangle counts of the undirected simple graph under
    the edges (self-loops and parallel edges ignored). Returns
    (ids, counts)."""
    ids, s, d = compact(src, dst)
    n = len(ids)
    keep = s != d
    a, b = np.minimum(s[keep], d[keep]), np.maximum(s[keep], d[keep])
    und = np.unique(a * n + b)
    a, b = und // n, und % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    # orient every edge from lower to higher (degree, id) rank, so each
    # triangle is found once, from its lowest-ranked corner
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    lo = np.where(rank[a] < rank[b], a, b)
    hi = np.where(rank[a] < rank[b], b, a)
    o = np.lexsort((rank[hi], lo))
    lo, hi = lo[o], hi[o]
    edge_keys = np.sort(rank[lo] * n + rank[hi])
    indptr = np.searchsorted(lo, np.arange(n + 1))
    local = np.arange(len(lo)) - indptr[lo]
    out_deg = np.diff(indptr)
    counts = np.zeros(n, dtype=np.int64)
    for t in range(1, int(out_deg.max(initial=0))):
        i = np.flatnonzero(local + t < out_deg[lo])
        u, x, y = lo[i], hi[i], hi[i + t]
        q = rank[x] * n + rank[y]
        pos = np.minimum(np.searchsorted(edge_keys, q), len(edge_keys) - 1)
        closed = edge_keys[pos] == q
        for v in (u[closed], x[closed], y[closed]):
            counts += np.bincount(v, minlength=n)
    return ids, counts
