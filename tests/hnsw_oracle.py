"""Single-query HNSW search oracles for the kernel tests.

``search`` is the textbook per-query search over the python adjacency
sets (greedy descent on levels > 0, beam on level 0 —
`index/hnsw.go:216-247`); ``search_fast`` is the same walk over a
finalized graph's padded adjacency with tombstones traversable but never
returned.  Both return ``[(dist, id), ...]`` ascending and are the
references the batch kernel (`HnswGraph.search_fast_batch`) is checked
against.
"""

import heapq

import numpy as np


def search(g, q, k, ef=None):
    if g.entrypoint < 0:
        return []
    q = np.asarray(q, dtype=np.float32)
    ef = max(ef or g.cfg.ef, k)
    cur = g.entrypoint
    for lvl in range(g.levels[cur], 0, -1):
        cur = g._greedy_closest(q, cur, lvl)
    return g._search_level(q, cur, ef, 0)[:k]


def _dist_ids(g, ids, q, qn2, qn):
    space = g.cfg.space
    sub = g.vectors[ids]
    dot = sub @ q
    if space == "euclidean":
        return np.sqrt(np.maximum(g.norms2[ids] - 2.0 * dot + qn2, 0.0))
    if space == "cosine":
        return np.abs(np.float32(1.0) - dot / (g.norms[ids] * qn))
    return np.abs(sub - q).sum(axis=1, dtype=np.float32)


def search_fast(g, q, k, ef=None):
    if g.entrypoint < 0:
        return []
    q = np.asarray(q, dtype=np.float32)
    qn2 = np.float32(np.dot(q, q))
    qn = np.float32(np.sqrt(qn2))
    ef = max(ef or g.cfg.ef, k)
    cur = g.entrypoint
    cur_d = float(_dist_ids(g, np.array([cur], dtype=np.int32), q, qn2, qn)[0])
    for lvl in range(g.levels[cur], 0, -1):
        pad = g.adj_pad.get(lvl)
        if pad is None:
            continue
        while True:
            nbrs = pad[cur]
            nbrs = nbrs[nbrs >= 0]
            if not len(nbrs):
                break
            ds = _dist_ids(g, nbrs, q, qn2, qn)
            j = int(np.argmin(ds))
            if ds[j] < cur_d:
                cur, cur_d = int(nbrs[j]), float(ds[j])
            else:
                break
    # beam on level 0 (tombstones traversable, never in results)
    pad = g.adj_pad[0]
    deleted = g.deleted
    visited = np.zeros(len(g.levels), dtype=bool)
    visited[cur] = True
    candidates = [(cur_d, cur)]
    results = [] if (deleted is not None and deleted[cur]) else [(-cur_d, cur)]
    while candidates:
        cd, c = heapq.heappop(candidates)
        if results and len(results) >= ef and cd > -results[0][0]:
            break
        nbrs = pad[c]
        nbrs = nbrs[nbrs >= 0]
        fresh = nbrs[~visited[nbrs]]
        if not len(fresh):
            continue
        visited[fresh] = True
        ds = _dist_ids(g, fresh, q, qn2, qn)
        for n_, nd in zip(fresh.tolist(), ds.tolist()):
            worst = -results[0][0] if len(results) >= ef else np.inf
            if nd < worst:
                heapq.heappush(candidates, (nd, n_))
                if deleted is None or not deleted[n_]:
                    heapq.heappush(results, (-nd, n_))
                    if len(results) > ef:
                        heapq.heappop(results)
    return sorted((-nd, n_) for nd, n_ in results)[:k]
