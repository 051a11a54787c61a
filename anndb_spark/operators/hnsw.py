"""Batch HNSW index build + ANN search — the Spark-shaped reimplementation
of the reference's core capability.

Reference parity:
- graph semantics: multi-layer navigable small world, per-level edge
  sets, level ~ floor(-ln(U)·mL) (`index/hnsw.go:18-36,249-251`)
- insert: connect via efConstruction beam per level, bidirectional
  edges, prune over-full neighbors to mMax/mMax0
  (`index/hnsw.go:80-140,419-444`)
- neighbor selection: simple (k best) and heuristic (HNSW paper alg 4,
  extend-candidates / keep-pruned options) (`index/hnsw.go:361-417`)
- search: greedy descent on levels > 0, beam search with ef=max(ef,k)
  on level 0, k best ascending (`index/hnsw.go:216-247,289-359`)
- defaults: m=16, mMax0=2m, efConstruction=100, ef=20
  (`index/config.go:106-133`)
- persistence: the graph is DATA — edge-list + vertex-level DataFrames
  in parquet replace the hand-rolled binary snapshot
  (`index/hnsw_persistence.go:45-241`)

Spark shape (100 TB-minded): vectors are routed to partitions by the
UuidMod-compatible partitioner; `applyInPandas` builds one independent
HNSW per partition (the reference's unit of distribution — one graph
per partition, `storage/partition.go`); search fans queries out to every
partition (cogrouped `applyInPandas`), takes a per-partition top-k, and
merges globally — exactly the reference's scatter/gather
(`storage/dataset.go:374-431`) expressed as partial + final top-k.
Each task holds exactly one partition's graph in memory, which is the
same sizing contract the reference imposes on its nodes.

The in-memory kernel is NumPy float32 (vectorized candidate-batch
distance evaluations stand in for the reference's SIMD kernels).
"""

from __future__ import annotations

import glob as _glob_mod
import heapq
import json
import math
from dataclasses import asdict, dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# In-memory NumPy HNSW (per-partition kernel)
# ---------------------------------------------------------------------------


@dataclass
class HnswConfig:
    # defaults per index/config.go:106-133
    m: int = 16
    m_max: int = 0          # 0 → m
    m_max_0: int = 0        # 0 → 2m
    ef_construction: int = 100
    ef: int = 20
    space: str = "euclidean"
    heuristic: bool = False  # reference benchmark uses simple selection
    extend_candidates: bool = False
    keep_pruned: bool = True
    # heuristic selection examines only the nearest `heuristic_pool`
    # candidates (0 = unlimited, the reference-faithful default).
    # Capping trades diversification reach for ~pool·accepts selection
    # cost: measured safe (recall unchanged) on small per-partition
    # graphs (≲6k rows, cap 64), but it COLLAPSES single-graph recall at
    # 60k (0.93 → 0.61) — the cross-cluster candidates that keep a big
    # graph navigable sit deeper than the nearest 64.  Cap only when the
    # partition size is known to tolerate it.
    heuristic_pool: int = 0
    seed: int = 42

    def __post_init__(self):
        if self.m_max == 0:
            self.m_max = self.m
        if self.m_max_0 == 0:
            self.m_max_0 = 2 * self.m

    @property
    def level_multiplier(self) -> float:
        return 1.0 / math.log(self.m)


def _dist_many(space: str, mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """float32 distances from rows of mat to q (vectorized batch —
    the SIMD-kernel analogue)."""
    if space == "euclidean":
        d = mat - q
        return np.sqrt(np.einsum("ij,ij->i", d, d, dtype=np.float32))
    if space == "manhattan":
        return np.abs(mat - q).sum(axis=1, dtype=np.float32)
    dot = mat @ q
    nm = np.sqrt(np.einsum("ij,ij->i", mat, mat, dtype=np.float32))
    nq = np.float32(np.sqrt(np.dot(q, q)))
    return np.abs(np.float32(1.0) - dot / (nm * nq))


def _hit_lists(ids: np.ndarray, dists: np.ndarray) -> list[list[tuple[float, int]]]:
    """Kernel ``(ids, dists)`` arrays → per-row ``[(dist, id), ...]``
    lists with the −1 pads dropped: the candidate form the build's
    `_select_neighbors` consumes."""
    return [
        [(d, i) for d, i in zip(drow, irow) if i >= 0]
        for drow, irow in zip(dists.tolist(), ids.tolist())
    ]


def _pad_hits(nq: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """An all-pad ``(nq, k)`` result: no hits for any query."""
    return (
        np.full((nq, k), -1, dtype=np.int64),
        np.full((nq, k), np.inf, dtype=np.float32),
    )


def _beam_topk(beam_d: np.ndarray, beam_i: np.ndarray, k: int):
    """Sort each query's beam ascending (stable) and keep ``k`` slots;
    slots without a finite distance become −1 pads (a row suffix, since
    they sort last)."""
    order = np.argsort(beam_d, axis=1, kind="stable")[:, :k]
    d = np.take_along_axis(beam_d, order, axis=1)
    i = np.take_along_axis(beam_i, order, axis=1)
    i[~np.isfinite(d)] = -1
    return i, d


# fork-build plumbing: children inherit the pre-wave graph via fork COW
# (no serialization); the tuple is (graph, vectors, ef_construction)
_BUILD_FORK_GRAPH = None

# fork-GEMM plumbing: (graph, vectors, efc, by_level, levels, upto)
_BUILD_FORK_GEMM = None



def _build_fork_cand_work(slice_ids: list[int]):
    g, v, efc = _BUILD_FORK_GRAPH
    res = _hit_lists(*g.search_fast_batch(v[slice_ids], k=efc, ef=efc))
    return [
        (x, g._select_neighbors(cand, g.cfg.m, 0, v[x]))
        for x, cand in zip(slice_ids, res)
    ]


def _limit_blas_threads():
    """Pool initializer: single-threaded BLAS inside fork children —
    ``workers`` processes × multi-threaded OpenBLAS oversubscribes the
    cores and THRASHES (measured)."""
    try:
        from threadpoolctl import threadpool_limits

        threadpool_limits(1)
    except Exception:
        pass


def _build_fork_gemm_work(payload):
    """Exact-candidate wave work for one slice: one GEMM distance block
    against the pre-wave prefix, then per-item top-efC selection and
    neighbor selection at EVERY level (level-0 from the full row, upper
    levels from that level's pre-wave node pool) — the per-item work of
    ``commit_exact`` minus the graph mutation, which stays in the
    (ordered, single-process) parent commit.

    Children are forked ONCE per build (not per wave): everything they
    read from the fork snapshot is static for the whole GEMM regime
    (vectors, norms, config, per-item levels) — the only wave-varying
    state, the upper-level node pools and the prefix bound, arrives in
    the task payload (a few KB)."""
    slice_ids, upto, by_level = payload
    g, v, efc, levels = _BUILD_FORK_GEMM
    X = v[slice_ids]
    space = g.cfg.space
    sub = v[:upto]
    if space == "manhattan":
        D = np.empty((len(slice_ids), upto), dtype=np.float32)
        for r in range(len(slice_ids)):
            D[r] = np.abs(sub - X[r]).sum(axis=1, dtype=np.float32)
    else:
        dot = X @ sub.T
        if space == "euclidean":
            qn2 = np.einsum("ij,ij->i", X, X, dtype=np.float32)
            D = np.sqrt(
                np.maximum(
                    g.norms2[:upto][None, :] - 2.0 * dot + qn2[:, None], 0.0
                )
            )
        else:
            qn = np.sqrt(np.einsum("ij,ij->i", X, X, dtype=np.float32))
            D = np.abs(
                np.float32(1.0) - dot / (g.norms[:upto][None, :] * qn[:, None])
            )
    return [
        (x, _exact_item_select(g, D[r], x, upto, efc, by_level, levels))
        for r, x in enumerate(slice_ids)
    ]


def _topk_ids(row: np.ndarray, k: int) -> np.ndarray:
    """Indices of the ``k`` smallest values (exact SET; order
    unspecified — callers sort).  Full-row introselect is
    data-sensitive (clustered corpora degrade its pivots to 2-4 ms per
    60k row, measured); a strided-sample quantile bound shrinks the row
    to a small exact-candidate subset first.  The ``idx.size >= k``
    check guarantees exactness: every value ≤ the true k-th is ≤ t."""
    nlen = row.shape[0]
    if k >= nlen:
        return np.arange(nlen)
    if nlen >= 8192:
        step = max(1, nlen // 4096)
        sample = row[::step]
        q = min(len(sample) - 1, (k * len(sample)) // nlen * 5 // 2 + 8)
        t = np.partition(sample, q)[q]
        idx = np.flatnonzero(row <= t)
        if idx.size >= k:
            if idx.size > k:
                sub = row[idx]
                return idx[np.argpartition(sub, k - 1)[:k]]
            return idx
        # sample bound too tight (rare): fall through to the full row
    return np.argpartition(row, k - 1)[:k]


def _exact_item_select(g, row, x, upto, efc, by_level, levels):
    """Per-item neighbor selection from an exact distance row against
    the pre-wave prefix: level-0 from the full row's top-efC, upper
    levels from that level's pre-wave pool — the per-item work of
    ``commit_exact`` minus the graph mutation."""
    v = g.vectors
    m = g.cfg.m
    sel_by_level: dict[int, list[tuple[float, int]]] = {}
    sel = _topk_ids(row[:upto], min(efc, upto))
    cand = sorted(zip(row[sel].tolist(), sel.tolist()))
    sel_by_level[0] = g._select_neighbors(cand, m, 0, v[x])
    for l in range(1, levels[x] + 1):
        nodes = by_level.get(l)
        if not nodes:
            continue
        pool = np.asarray(nodes, dtype=np.int64)
        pool = pool[pool < upto]  # intra-wave items invisible
        if not pool.size:
            continue
        pd_ = row[pool]
        sl = _topk_ids(pd_, min(efc, pd_.shape[0]))
        cand_l = sorted(zip(pd_[sl].tolist(), pool[sl].tolist()))
        sel_by_level[l] = g._select_neighbors(cand_l, m, l, v[x])
    return sel_by_level


def _build_fork_gemm_cols(args):
    """Stage A of the column-tiled exact wave: compute the wave's
    distance block against ONE column block of the prefix and write it
    into the shared-memory distance buffer.  The column block
    (~prefix/workers vectors) stays cache-resident through the GEMM, so
    32 concurrent children don't each stream the whole prefix from RAM
    (the row-chunked variant is memory-bandwidth-bound — measured)."""
    lo, hi, wlo, wave_n, shm_path, shm_rows = args
    g, v, efc, levels = _BUILD_FORK_GEMM
    X = v[wlo : wlo + wave_n]
    sub = v[lo:hi]
    dot = X @ sub.T
    if g.cfg.space == "euclidean":
        qn2 = np.einsum("ij,ij->i", X, X, dtype=np.float32)
        block = np.sqrt(
            np.maximum(g.norms2[lo:hi][None, :] - 2.0 * dot + qn2[:, None], 0.0)
        )
    else:
        qn = np.sqrt(np.einsum("ij,ij->i", X, X, dtype=np.float32))
        block = np.abs(
            np.float32(1.0) - dot / (g.norms[lo:hi][None, :] * qn[:, None])
        )
    D = np.memmap(
        shm_path, dtype=np.float32, mode="r+", shape=(shm_rows, v.shape[0])
    )
    D[:wave_n, lo:hi] = block
    del D
    # per-item block argmin (nearly free): the parent reduces these to
    # each item's nearest prefix vector and LOCALITY-SORTS the wave by
    # it before stage B — same-cluster items then share their candidate
    # vectors, so a stage-B chunk's scattered gathers become
    # cache-resident (the random-gather wall at 32 children, measured)
    bi = block.argmin(axis=1)
    return (bi + lo).astype(np.int64), block[np.arange(wave_n), bi]


def _build_fork_gemm_rows(args):
    """Stage B of the column-tiled exact wave: per-item top-efC and
    all-level neighbor selection straight from the shm distance rows."""
    item_ids, wlo, upto, by_level, shm_path, shm_rows = args
    g, v, efc, levels = _BUILD_FORK_GEMM
    D = np.memmap(
        shm_path, dtype=np.float32, mode="r", shape=(shm_rows, v.shape[0])
    )
    return [
        (x, _exact_item_select(g, D[x - wlo, :upto], x, upto, efc, by_level, levels))
        for x in item_ids
    ]


class HnswGraph:
    """One partition's HNSW graph over an int-indexed vector matrix."""

    def __init__(self, dim: int, config: HnswConfig):
        self.cfg = config
        self.dim = dim
        self.vectors = np.empty((0, dim), dtype=np.float32)
        self.levels: list[int] = []
        # adjacency[node] = {level: set(neighbor)}
        self.adj: list[dict[int, set[int]]] = []
        self.entrypoint: int = -1
        self._rng = np.random.default_rng(config.seed)
        # tombstone mask (None = no deletes).  Intentional divergence
        # from the reference: its Remove detaches edges and traversal
        # skips deleted neighbors outright (index/hnsw.go:183-214,
        # 295-297); here edges are never detached, so deleted vertices
        # stay TRAVERSABLE (preserving connectivity between rebuilds)
        # and are only excluded from result sets.
        self.deleted: np.ndarray | None = None
        # per-vertex metadata maps aligned with the vector matrix
        self.item_meta: list[dict | None] | None = None

    def __getstate__(self):
        # ctypes handles (kernel pointer caches like _ck_sel_ctx) are
        # per-process and unpicklable — rebuilt lazily on first use in
        # the receiving process
        return {
            k: v for k, v in self.__dict__.items() if not k.startswith("_ck_")
        }

    # -- level assignment (index/hnsw.go:249-251) ----------------------
    def random_level(self, u: float | None = None) -> int:
        if u is None:
            u = float(self._rng.random())
        u = min(max(u, 1e-12), 1 - 1e-12)
        return int(math.floor(-math.log(u) * self.cfg.level_multiplier))

    def _d(self, i: int, q: np.ndarray) -> float:
        return float(_dist_many(self.cfg.space, self.vectors[i : i + 1], q)[0])

    def _d_batch(self, ids: list[int], q: np.ndarray) -> np.ndarray:
        return _dist_many(self.cfg.space, self.vectors[ids], q)

    # -- greedy hill-climb on one level (index/hnsw.go:289-312) --------
    def _greedy_closest(self, q: np.ndarray, start: int, level: int) -> int:
        cur = start
        cur_d = self._d(cur, q)
        while True:
            nbrs = [n for n in self.adj[cur].get(level, ()) if self.levels[n] >= 0]
            if not nbrs:
                return cur
            ds = self._d_batch(nbrs, q)
            j = int(np.argmin(ds))
            if ds[j] < cur_d:
                cur, cur_d = nbrs[j], float(ds[j])
            else:
                return cur

    # -- beam search on one level (index/hnsw.go:314-359) --------------
    def _search_level(self, q: np.ndarray, entry: int, ef: int, level: int):
        """Best-first beam; returns list of (dist, node) ascending."""
        ed = self._d(entry, q)
        candidates = [(ed, entry)]          # min-heap
        results = [(-ed, entry)]            # max-heap (negated)
        visited = {entry}
        while candidates:
            cd, c = heapq.heappop(candidates)
            if cd > -results[0][0] and len(results) >= ef:
                break
            fresh = [n for n in self.adj[c].get(level, ()) if n not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            ds = self._d_batch(fresh, q)
            worst = -results[0][0]
            for n, nd in zip(fresh, ds):
                nd = float(nd)
                if len(results) < ef or nd < worst:
                    heapq.heappush(candidates, (nd, n))
                    heapq.heappush(results, (-nd, n))
                    if len(results) > ef:
                        heapq.heappop(results)
                    worst = -results[0][0]
        return sorted((-nd, n) for nd, n in results)

    # -- neighbor selection (index/hnsw.go:361-417) --------------------
    def _select_neighbors(self, cand: list[tuple[float, int]], k: int, level: int,
                          q: np.ndarray) -> list[tuple[float, int]]:
        if not self.cfg.heuristic:
            return heapq.nsmallest(k, cand)
        # heuristic (alg 4): optionally extend by neighbors-of-neighbors,
        # keep candidates closer to q than to any already-selected one.
        # Vectorized: each accepted neighbor prunes the remaining pool
        # with ONE batched distance row (d(s, c) <= d(q, c) → prune c) —
        # ≤k rows per call instead of one row per pool member, and the
        # pool shrinks fast because the nearest accept kills most of its
        # own cluster.  Semantics identical to the sequential loop.
        pool = dict(( (n, d) for d, n in cand ))
        if self.cfg.extend_candidates:
            seen = set(pool)
            for _, n in cand:
                for nn in self.adj[n].get(level, ()):
                    if nn not in seen:
                        seen.add(nn)
                        pool[nn] = self._d(nn, q)
        ordered = sorted((d, n) for n, d in pool.items())
        if self.cfg.heuristic_pool and len(ordered) > self.cfg.heuristic_pool:
            ordered = ordered[: self.cfg.heuristic_pool]
        W = len(ordered)
        ids = np.fromiter((n for _, n in ordered), dtype=np.int64, count=W)
        dq = np.fromiter((d for d, _ in ordered), dtype=np.float32, count=W)
        # small pools (backlink prunes: W = cap + overflow) precompute
        # the full pairwise matrix — the greedy then runs without any
        # further BLAS; large pools (efC construction candidates) would
        # waste a W²·d GEMM on a pool the first accept mostly kills, so
        # they compute one lazy gemv ROW per accepted neighbor instead
        P = self._pairwise_rows(ids) if W <= 64 else None
        X = None
        if P is None:
            # large pools gather the candidates' vectors once; builds
            # provide a float16 shadow matrix (vectors_h) that HALVES
            # the scattered-gather bytes — the greedy's domination test
            # is a diversity heuristic, so half-precision operands only
            # perturb near-boundary kills (recall unchanged, measured)
            Xh = getattr(self, "vectors_h", None)
            if Xh is not None and self.cfg.space != "manhattan":
                X = Xh[ids].astype(np.float32)
            else:
                X = self.vectors[ids]
        if P is None and self.cfg.space != "manhattan":
            Xn2 = np.einsum("ij,ij->i", X, X, dtype=np.float32)
            Xn = np.sqrt(Xn2) if self.cfg.space == "cosine" else None
        if P is not None and W <= 64:
            # small pools (backlink prunes: W = cap + overflow) pay
            # mostly numpy CALL overhead — run the greedy in pure
            # Python over the precomputed matrix's lists
            Pl = P.tolist()
            dql = dq.tolist()
            state = [0] * W  # 0 alive, 1 selected, 2 pruned
            n_sel = 0
            for i in range(W):
                if state[i] != 0:
                    continue
                state[i] = 1
                n_sel += 1
                if n_sel >= k:
                    break
                row = Pl[i]
                for j in range(i + 1, W):
                    if state[j] == 0 and row[j] <= dql[j]:
                        state[j] = 2
            selected = [
                (float(dql[i]), int(ids[i])) for i in range(W) if state[i] == 1
            ]
            if self.cfg.keep_pruned and len(selected) < k:
                for i in range(W):  # ascending d(q, ·)
                    if len(selected) >= k:
                        break
                    if state[i] == 2:
                        selected.append((float(dql[i]), int(ids[i])))
            return sorted(selected)
        if P is None and self.cfg.space != "manhattan":
            # COMPACTED greedy for large pools: the first accept kills
            # most of its own cluster, so physically shrinking the
            # arrays makes every later domination row stream only the
            # survivors — per-call memory traffic drops ~4× (the greedy
            # is bandwidth-bound under a full worker fleet, measured)
            space = self.cfg.space
            cur_d, cur_ids, cur_X, cur_n2 = dq, ids, X, Xn2
            cur_n = Xn if space == "cosine" else None
            selected: list[tuple[float, int]] = []
            pruned: list[tuple[float, int]] = []
            while len(selected) < k and cur_d.size:
                d0 = float(cur_d[0])
                selected.append((d0, int(cur_ids[0])))
                if len(selected) >= k or cur_d.size == 1:
                    cur_d, cur_ids = cur_d[1:], cur_ids[1:]
                    if space == "cosine":
                        cur_n = cur_n[1:]
                    cur_X, cur_n2 = cur_X[1:], cur_n2[1:]
                    continue
                x0 = cur_X[0]
                dot = cur_X[1:] @ x0
                if space == "euclidean":
                    ds = np.sqrt(
                        np.maximum(cur_n2[1:] + cur_n2[0] - 2.0 * dot, 0.0)
                    )
                else:
                    ds = np.abs(np.float32(1.0) - dot / (cur_n[1:] * cur_n[0]))
                kill = ds <= cur_d[1:]  # not strictly closer to q than to s
                if self.cfg.keep_pruned and kill.any():
                    pruned.extend(
                        zip(cur_d[1:][kill].tolist(), cur_ids[1:][kill].tolist())
                    )
                keep = ~kill
                cur_d, cur_ids = cur_d[1:][keep], cur_ids[1:][keep]
                cur_X, cur_n2 = cur_X[1:][keep], cur_n2[1:][keep]
                if space == "cosine":
                    cur_n = cur_n[1:][keep]
            if self.cfg.keep_pruned and len(selected) < k:
                # original semantics append pruned in ascending (d, id)
                for d_, n_ in sorted(pruned):
                    if len(selected) >= k:
                        break
                    selected.append((d_, n_))
            return sorted(selected)
        alive = np.ones(W, dtype=bool)
        pruned_mask = np.zeros(W, dtype=bool)
        sel_order: list[int] = []
        while len(sel_order) < k:
            nz = np.nonzero(alive)[0]
            if not nz.size:
                break
            i = int(nz[0])
            alive[i] = False
            sel_order.append(i)
            rest = nz[1:]
            if len(sel_order) >= k or not rest.size:
                continue
            if P is not None:
                ds = P[i, rest]
            else:
                ds = _dist_many(self.cfg.space, X[rest], X[i])
            kill = ds <= dq[rest]  # not strictly closer to q than to s
            kidx = rest[kill]
            alive[kidx] = False
            pruned_mask[kidx] = True
        selected = [(float(dq[i]), int(ids[i])) for i in sel_order]
        if self.cfg.keep_pruned and len(selected) < k:
            for i in np.nonzero(pruned_mask)[0]:  # ascending d(q, ·)
                if len(selected) >= k:
                    break
                selected.append((float(dq[i]), int(ids[i])))
        return sorted(selected)

    def _pairwise_rows(self, ids: np.ndarray) -> np.ndarray:
        """Full pairwise distance matrix among ``ids`` (one GEMM)."""
        X = self.vectors[ids]
        space = self.cfg.space
        if space == "manhattan":
            return np.abs(X[:, None, :] - X[None, :, :]).sum(
                axis=2, dtype=np.float32
            )
        G = X @ X.T
        n2 = np.einsum("ij,ij->i", X, X, dtype=np.float32)
        if space == "euclidean":
            return np.sqrt(np.maximum(n2[:, None] + n2[None, :] - 2.0 * G, 0.0))
        nm = np.sqrt(n2)
        return np.abs(np.float32(1.0) - G / (nm[:, None] * nm[None, :]))

    def _cap(self, level: int) -> int:
        return self.cfg.m_max_0 if level == 0 else self.cfg.m_max

    # -- prune an over-full vertex (index/hnsw.go:419-444) -------------
    def _prune(self, node: int, level: int):
        cap = self._cap(level)
        nbrs = list(self.adj[node].get(level, ()))
        if len(nbrs) <= cap:
            return
        keep_set = None
        if getattr(self, "_ck_prune_ok", False):
            # build-time fast path: the wave build precomputes
            # full-length norms2/norms, so the native distance+select
            # runs without any python-side gather (~10× per call over
            # the ~10⁵ backlink prunes a 60k build issues)
            from anndb_spark.operators import ckernel as _ckm

            kept = _ckm.select_from_pool(self, nbrs, node, cap)
            if kept is not None:
                keep_set = set(kept)
        if keep_set is None:
            ds = self._d_batch(nbrs, self.vectors[node])
            keep = self._select_neighbors(
                sorted(zip(ds.tolist(), nbrs)), cap, level, self.vectors[node]
            )
            keep_set = {n for _, n in keep}
        for n in nbrs:
            if n not in keep_set:
                self.adj[node][level].discard(n)
                self.adj[n].get(level, set()).discard(node)

    # -- insert (index/hnsw.go:80-140) ---------------------------------
    def insert(self, vec: np.ndarray, level: int | None = None) -> int:
        for a_ in ("q_codes", "q_scale", "q_min", "q_norms2", "q_norms"):
            if hasattr(self, a_):  # stale after any mutation
                delattr(self, a_)
        idx = len(self.levels)
        vec = np.asarray(vec, dtype=np.float32).reshape(1, -1)
        self.vectors = np.concatenate([self.vectors, vec]) if idx else vec.copy()
        q = self.vectors[idx]
        if level is None:
            level = self.random_level()
        self.levels.append(level)
        self.adj.append({l: set() for l in range(level + 1)})

        if self.entrypoint < 0:
            self.entrypoint = idx
            return idx

        ep = self.entrypoint
        max_level = self.levels[ep]
        cur = ep
        for l in range(max_level, level, -1):
            cur = self._greedy_closest(q, cur, l)
        for l in range(min(level, max_level), -1, -1):
            cand = self._search_level(q, cur, self.cfg.ef_construction, l)
            nbrs = self._select_neighbors(cand, self.cfg.m, l, q)
            for _, n in nbrs:
                self.adj[idx][l].add(n)
                self.adj[n].setdefault(l, set()).add(idx)
                if len(self.adj[n][l]) > self._cap(l):
                    self._prune(n, l)
            if cand:
                cur = cand[0][1]
        if level > max_level:
            self.entrypoint = idx  # CAS analogue (index/hnsw.go:136)
        return idx

    def thaw_adjacency(self) -> "HnswGraph":
        """Rebuild the python adjacency sets from the padded matrices —
        the inverse of finalize(), for mutating a reconstructed graph
        (online insert into a loaded index)."""
        for a_ in ("q_codes", "q_scale", "q_min", "q_norms2", "q_norms"):
            # traversal codes go stale the moment rows are added —
            # search re-quantizes lazily after the mutation
            if hasattr(self, a_):
                delattr(self, a_)
        n = len(self.levels)
        self.adj = [dict() for _ in range(n)]
        for lvl, pad in self.adj_pad.items():
            for i in range(min(n, pad.shape[0])):
                row = pad[i]
                ns = row[row >= 0]
                if len(ns):
                    self.adj[i][int(lvl)] = set(int(x) for x in ns)
        return self

    def insert_many(self, mats: np.ndarray, new_levels: list[int]) -> list[int]:
        """Online insert of a batch into an EXISTING graph — the
        reference's live-insert path (`index/hnsw.go:80-140`) in batch
        form: one matrix grow, then the sequential insert loop per item
        (beam search on the current python adjacency).  O(batch · search)
        compute, independent of partition size.  Invalidates the
        finalized pads (callers re-finalize for the fast search path)."""
        mats = np.ascontiguousarray(mats, dtype=np.float32).reshape(
            -1, self.dim or mats.shape[-1]
        )
        base = len(self.levels)
        self.vectors = (
            np.concatenate([self.vectors, mats]) if base else mats.copy()
        )
        if self.deleted is not None:
            self.deleted = np.concatenate(
                [self.deleted, np.zeros(len(new_levels), dtype=bool)]
            )
        out = []
        for r, level in enumerate(new_levels):
            idx = base + r
            q = self.vectors[idx]
            self.levels.append(int(level))
            self.adj.append({l: set() for l in range(int(level) + 1)})
            if self.entrypoint < 0:
                self.entrypoint = idx
                out.append(idx)
                continue
            ep = self.entrypoint
            max_level = self.levels[ep]
            cur = ep
            for l in range(max_level, level, -1):
                cur = self._greedy_closest(q, cur, l)
            for l in range(min(level, max_level), -1, -1):
                cand = self._search_level(q, cur, self.cfg.ef_construction, l)
                nbrs = self._select_neighbors(cand, self.cfg.m, l, q)
                for _, nb in nbrs:
                    self.adj[idx][l].add(nb)
                    self.adj[nb].setdefault(l, set()).add(idx)
                    if len(self.adj[nb][l]) > self._cap(l):
                        self._prune(nb, l)
                if cand:
                    cur = cand[0][1]
            if level > max_level:
                self.entrypoint = idx
            out.append(idx)
        # stale caches: pads/norms cover the pre-insert prefix only
        for attr in ("adj_pad", "norms2", "norms"):
            if hasattr(self, attr):
                delattr(self, attr)
        return out

    # -- finalized (read-only) fast search path ------------------------
    def finalize(self):
        """Freeze the graph for search: per-level padded int32 neighbor
        matrices + cached norms enable the dot-trick distance kernels
        (one BLAS gemv per beam step instead of per-edge Python)."""
        n = len(self.levels)
        max_level = max(self.levels) if n else 0
        self.adj_pad: dict[int, np.ndarray] = {}
        for lvl in range(max_level + 1):
            cap = max(
                (len(a.get(lvl, ())) for a in self.adj), default=0
            )
            mat = np.full((n, max(cap, 1)), -1, dtype=np.int32)
            for i, a in enumerate(self.adj):
                ns = a.get(lvl)
                if ns:
                    mat[i, : len(ns)] = sorted(ns)
            self.adj_pad[lvl] = mat
        v = self.vectors
        self.norms2 = np.einsum("ij,ij->i", v, v, dtype=np.float32)
        self.norms = np.sqrt(self.norms2)
        return self

    def quantize(self) -> "HnswGraph":
        """Per-dimension uint8 scalar quantization of the vector matrix
        for TRAVERSAL distance evaluation (search results are reranked
        with exact float32 at the end — see _search_batch_chunk).  The
        beam walk is memory-bandwidth-bound at high dimension: gathering
        1 byte/dim instead of 4 quarters the scattered-read traffic the
        kernel actually pays for."""
        if self.cfg.space == "manhattan" or hasattr(self, "q_codes"):
            return self
        v = np.asarray(self.vectors)
        vmin = v.min(axis=0)
        scale = (v.max(axis=0) - vmin) / np.float32(255.0)
        scale = np.where(scale > 0, scale, np.float32(1.0)).astype(np.float32)
        self.q_min = vmin.astype(np.float32)
        self.q_scale = scale
        self.q_codes = np.clip(
            np.round((v - vmin) / scale), 0, 255
        ).astype(np.uint8)
        # norms of the DEQUANTIZED rows (dot-trick consistency: the
        # traversal compares quantized-vs-quantized throughout)
        n2 = np.empty(v.shape[0], dtype=np.float32)
        for s in range(0, v.shape[0], 8192):
            dq = self.q_codes[s : s + 8192].astype(np.float32) * scale + vmin
            n2[s : s + 8192] = np.einsum("ij,ij->i", dq, dq, dtype=np.float32)
        self.q_norms2 = n2
        self.q_norms = np.sqrt(n2)
        return self

    def _gather_dequant(self, idx: np.ndarray) -> np.ndarray:
        """float32 rows for traversal: dequantized uint8 codes when the
        graph is quantized (¼ the gather bytes), exact rows otherwise."""
        qc = getattr(self, "q_codes", None)
        if qc is None:
            return self.vectors[idx]
        return qc[idx].astype(np.float32) * self.q_scale + self.q_min

    def _dist_gather(
        self, nb: np.ndarray, mask: np.ndarray, Q: np.ndarray, qn2: np.ndarray
    ) -> np.ndarray:
        """Distances from each query row to ITS OWN neighbor row.

        nb: (a, cap) node ids (may contain -1 / stale entries — masked),
        Q: (a, d) queries, qn2: (a,) squared query norms.
        Returns (a, cap) with +inf where ``mask`` is False.  One fused
        einsum for the whole frontier instead of a Python loop per query.
        Uses the quantized matrix when present (traversal accuracy)."""
        space = self.cfg.space
        safe = np.where(mask, nb, 0)
        if (
            getattr(self, "q_codes", None) is not None
            and space != "manhattan"
            and self.deleted is None  # tombstone path has no rerank
        ):
            sub = self._gather_dequant(safe)
            dot = np.einsum("acd,ad->ac", sub, Q, dtype=np.float32)
            if space == "euclidean":
                d = np.sqrt(
                    np.maximum(self.q_norms2[safe] - 2.0 * dot + qn2[:, None], 0.0)
                )
            else:
                qn = np.sqrt(qn2)
                d = np.abs(
                    np.float32(1.0) - dot / (self.q_norms[safe] * qn[:, None])
                )
            return np.where(mask, d, np.float32(np.inf))
        sub = self.vectors[safe]  # (a, cap, d)
        if space == "manhattan":
            d = np.abs(sub - Q[:, None, :]).sum(axis=2, dtype=np.float32)
        else:
            dot = np.einsum("acd,ad->ac", sub, Q, dtype=np.float32)
            if space == "euclidean":
                d = np.sqrt(
                    np.maximum(self.norms2[safe] - 2.0 * dot + qn2[:, None], 0.0)
                )
            else:
                qn = np.sqrt(qn2)
                d = np.abs(
                    np.float32(1.0) - dot / (self.norms[safe] * qn[:, None])
                )
        return np.where(mask, d, np.float32(np.inf))

    def search_fast_batch(
        self,
        Q: np.ndarray,
        k: int,
        ef: int | None = None,
        threads: int = 1,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batch beam search — the one graph-search entry every server
        and the build's candidate stage call.

        Returns ``(ids, dists)``: int64 vertex positions and float32
        distances, both (nq, k), rows in query order, each row
        ascending.  An id of −1 marks a pad (fewer than k live hits);
        pads are always a row suffix and their distance is meaningless.

        Inside it picks the seeding (greedy descent on small or flat
        graphs; on big ones a seed-GEMM against the graph's own
        upper-level vertices plus a locality sort of the batch), the
        compiled C beam (``ckernel``) or the lock-step NumPy kernel —
        the only path on a host without a C compiler — and the
        tombstone mask: deleted vertices stay traversable but never
        occupy a result slot.  ``threads`` > 1 fans the C beam over
        OpenMP threads for callers that own the machine.
        """
        nq = len(Q)
        if self.entrypoint < 0 or not nq:
            return _pad_hits(nq, k)
        n = len(self.levels)
        # NumPy kernels chunk the batch so the (chunk × n) visited
        # bitmap stays bounded (~200 MB) on large partitions
        chunk = int(max(16, min(1024, 2e8 / n)))
        from anndb_spark.operators import ckernel as _ck

        # the compiled per-query beam loop removes the lock-step NumPy
        # kernel's per-step interpreter constant (argpartition merges,
        # fancy gathers); exact same beam semantics, ~6× per core
        use_ck = _ck.available() and self.cfg.space in (
            "euclidean",
            "cosine",
            "manhattan",
        )
        has_tomb = self.deleted is not None and self.deleted.any()
        dele = self.deleted if has_tomb else None
        Qf = np.ascontiguousarray(Q, dtype=np.float32)
        ef = max(ef or self.cfg.ef, k)

        def numpy_chunks(kern, Qs=Qf, **seeds):
            """A lock-step NumPy kernel over the batch chunk by chunk."""
            ids, ds = zip(*(
                kern(Qs[s : s + chunk], k, ef,
                     **{a: v[s : s + chunk] for a, v in seeds.items()})
                for s in range(0, nq, chunk)
            ))
            return np.concatenate(ids), np.concatenate(ds)

        # tombstoned graphs without the C kernel use the two-beam NumPy
        # variant (deleted vertices must stay traversable without
        # occupying result slots); it runs its own greedy descent
        if has_tomb and not use_ck:
            return numpy_chunks(self._search_batch_chunk_tombstone)
        if (
            not use_ck
            and n * self.dim >= _QUANT_MIN_ELEMS
            and self.cfg.space != "manhattan"
        ):
            # big graphs walk on uint8-quantized rows + exact rerank
            # (the beam is scattered-gather-bound at high dimension);
            # the C kernel reads float32 directly — exact, no rerank
            self.quantize()
        if n < 4096 or self._max_level() == 0:
            if use_ck:
                ent = _ck.descend(self, Qf)
                if ent is not None:
                    res = _ck.search_level0(
                        self, Qf, k, ef, ent[0], deleted=dele, threads=threads
                    )
                    if res is not None:
                        return res
            return numpy_chunks(
                self._search_batch_chunk_tombstone
                if has_tomb
                else self._search_batch_chunk
            )
        # big graphs: seeded + locality-sorted search.  The graph's own
        # upper-level vertices are the seed set: one (q × S) GEMM against
        # a small cache-resident matrix replaces the greedy descent
        # (which gathers scattered rows level by level), and sorting the
        # batch by assigned seed makes concurrent beams walk the SAME
        # region of the vector matrix — the random-gather working set
        # drops from the whole matrix to a cluster's worth, which is
        # what the (bandwidth-bound) kernel actually pays for.
        entry, entry_d, order, inv = self._seed_entries(Qf, threads=threads)
        if use_ck:
            res = _ck.search_level0(
                self,
                np.ascontiguousarray(Qf[order]),
                k,
                ef,
                entry[order],
                deleted=dele,
                threads=threads,
            )
            if res is not None:
                return res[0][inv], res[1][inv]
        if has_tomb:
            # C kernel unavailable after all: two-beam NumPy fallback
            return numpy_chunks(self._search_batch_chunk_tombstone)
        ids, ds = numpy_chunks(
            self._search_batch_chunk,
            Qf[order],
            entry=entry[order],
            entry_d=entry_d[order],
        )
        return ids[inv], ds[inv]

    def _seed_entries(self, Qf: np.ndarray, threads: int = 1):
        """Seed-GEMM entry selection + locality sort for a query batch:
        one (q × S) BLAS pass against the graph's own upper-level
        vertices replaces the greedy descent; sorting by assigned seed
        makes concurrent beams walk the SAME region of the vector
        matrix.  Returns (entry, entry_d, order, inv)."""
        seeds = self._seed_set()
        from anndb_spark.operators import ckernel as _ckm_seed

        native = _ckm_seed.seed_argmin(self, seeds, Qf, threads=threads)
        if native is not None:
            best_n, entry_d_n = native
            entry = seeds[best_n]
            order = np.argsort(best_n, kind="stable")  # locality sort
            inv = np.empty_like(order)
            inv[order] = np.arange(len(order))
            return entry, entry_d_n, order, inv
        nq = Qf.shape[0]
        qn2 = np.einsum("ij,ij->i", Qf, Qf, dtype=np.float32)
        sv = self.vectors[seeds]
        sn2 = self.norms2[seeds]
        sn = self.norms[seeds]
        best = np.empty(nq, dtype=np.int64)
        entry_d = np.empty(nq, dtype=np.float32)

        def score(s0: int, s1: int) -> None:
            qc = Qf[s0:s1]
            if self.cfg.space == "manhattan":
                # blocked to bound the (q × S × dim) broadcast
                d = np.empty((s1 - s0, len(seeds)), dtype=np.float32)
                for b0 in range(0, s1 - s0, 64):
                    d[b0 : b0 + 64] = np.abs(
                        sv[None, :, :] - qc[b0 : b0 + 64, None, :]
                    ).sum(axis=2, dtype=np.float32)
            elif self.cfg.space == "euclidean":
                d = np.sqrt(
                    np.maximum(
                        sn2[None, :] - 2.0 * (qc @ sv.T) + qn2[s0:s1, None],
                        0.0,
                    )
                )
            else:
                d = np.abs(
                    np.float32(1.0)
                    - (qc @ sv.T)
                    / (sn[None, :] * np.sqrt(qn2[s0:s1])[:, None])
                )
            b = d.argmin(axis=1)
            best[s0:s1] = b
            entry_d[s0:s1] = d[np.arange(s1 - s0), b]

        # the session pins BLAS to one thread (executors own the
        # parallelism there), so a big seed batch on the DRIVER runs the
        # (q × S × dim) GEMM serially — profiled at 170 ms for
        # 10k × 1024 × 128, 2× the C beam walk itself.  Chunk the batch
        # across a thread pool: GEMM/argmin release the GIL, so
        # single-threaded BLAS calls run truly concurrently.
        cpus = _os_mod.cpu_count() or 1
        chunk = max(256, -(-nq // cpus))
        if nq > chunk:
            from concurrent.futures import ThreadPoolExecutor

            spans = [(s, min(s + chunk, nq)) for s in range(0, nq, chunk)]
            with ThreadPoolExecutor(max_workers=len(spans)) as pool:
                list(pool.map(lambda ab: score(*ab), spans))
        else:
            score(0, nq)
        entry = seeds[best]
        order = np.argsort(best, kind="stable")  # locality sort
        inv = np.empty_like(order)
        inv[order] = np.arange(len(order))
        return entry, entry_d, order, inv

    def _build_wave_candidates_ck(
        self, Q: np.ndarray, efc: int, m: int, threads: int = 1
    ):
        """Native fused candidate stage for one build wave: entry
        selection (seed-GEMM on big graphs, native descent otherwise),
        then ckernel.build_candidates — beam walk + neighbor selection
        per item with no python tuple round-trip.  Returns the
        {pool-position: [(d, id), ...]} rows as (ids, dists) arrays in
        WAVE order, or None when the native kernel is unavailable."""
        from anndb_spark.operators import ckernel as _ck

        n = len(self.levels)
        Qf = np.ascontiguousarray(Q, dtype=np.float32)
        if n >= 4096 and self._max_level() > 0:
            entry, _, order, inv = self._seed_entries(Qf, threads=threads)
            res = _ck.build_candidates(
                self,
                np.ascontiguousarray(Qf[order]),
                entry[order],
                efc,
                m,
                threads=threads,
            )
            if res is None:
                return None
            ids, ds = res
            return ids[inv], ds[inv]
        ent = _ck.descend(self, Qf)
        if ent is None:
            return None
        return _ck.build_candidates(self, Qf, ent[0], efc, m, threads=threads)

    def _max_level(self) -> int:
        """max(self.levels) with a length-keyed cache: the raw max() over
        a million-entry python list costs ~40 ms PER SEARCH CALL on big
        serving graphs (profiled), and levels only change by append
        (insert_many) — length keys the cache exactly."""
        cached = getattr(self, "_max_level_cache", None)
        if cached is not None and cached[0] == len(self.levels):
            return cached[1]
        # levels is a list on built graphs, an ndarray on shm-loaded ones
        ml = int(np.max(self.levels)) if len(self.levels) else 0
        self._max_level_cache = (len(self.levels), ml)
        return ml

    def _seed_set(self) -> np.ndarray:
        """Entry-seed vertex ids: all vertices at the highest level L
        whose population lands in [16, 1024] (the graph's own hierarchy
        as a coarse quantizer).  Cached until the graph changes."""
        cached = getattr(self, "_seeds_cache", None)
        if cached is not None and cached[0] == len(self.levels):
            return cached[1]
        lv = np.asarray(self.levels)
        seeds = None
        for L in range(int(lv.max()), 0, -1):
            ids = np.nonzero(lv >= L)[0]
            if len(ids) > 1024:
                break
            if len(ids) >= 16:
                seeds = ids
        if seeds is None:
            seeds = np.nonzero(lv >= 1)[0]
            if len(seeds) > 1024:
                seeds = seeds[:1024]
            elif not len(seeds):
                seeds = np.array([self.entrypoint], dtype=np.int64)
        self._seeds_cache = (len(self.levels), seeds)
        return seeds

    def _descend_batch(self, Qf: np.ndarray, qn2: np.ndarray):
        """Lock-step greedy hill-climb from the entrypoint down to level
        1; returns (cur, cur_d) per query — the level-0 beam seeds."""
        q = Qf.shape[0]
        cur = np.full(q, self.entrypoint, dtype=np.int64)
        ones = np.ones((q, 1), dtype=bool)
        cur_d = self._dist_gather(cur[:, None], ones, Qf, qn2)[:, 0]
        for lvl in range(int(self.levels[self.entrypoint]), 0, -1):
            pad = self.adj_pad.get(lvl)
            if pad is None:
                continue
            active = np.ones(q, dtype=bool)
            while active.any():
                a = np.where(active)[0]
                nb = pad[cur[a]]
                d = self._dist_gather(nb, nb >= 0, Qf[a], qn2[a])
                j = d.argmin(axis=1)
                dmin = d[np.arange(len(a)), j]
                better = dmin < cur_d[a]
                upd = a[better]
                cur[upd] = nb[better, j[better]]
                cur_d[upd] = dmin[better]
                active[a[~better]] = False
        return cur, cur_d

    def _search_batch_chunk(
        self,
        Q: np.ndarray,
        k: int,
        ef: int | None,
        pops_per_step: int | None = None,
        entry: np.ndarray | None = None,
        entry_d: np.ndarray | None = None,
    ):
        """Single-beam lock-step level-0 search (canonical HNSW beam:
        candidates and results are ONE ef-wide set with an expanded
        flag per slot — hnswlib's W/C invariant without two heaps).

        Per step each live query expands its best ``pops_per_step``
        unexpanded members at once: ~B× fewer lock-step rounds for the
        same visit order, one (ef + B·cap)-wide argpartition merge per
        round instead of two, and the frontier distance evaluation is
        one flat ragged einsum over fresh slots only."""
        Qf = np.ascontiguousarray(Q, dtype=np.float32)
        q = Qf.shape[0]
        n = len(self.levels)
        ef = max(ef or self.cfg.ef, k)
        space = self.cfg.space
        qn2 = np.einsum("ij,ij->i", Qf, Qf, dtype=np.float32)
        INF = np.float32(np.inf)
        if entry is None:
            cur, cur_d = self._descend_batch(Qf, qn2)
        else:
            cur = np.asarray(entry, dtype=np.int64)
            cur_d = np.asarray(entry_d, dtype=np.float32)
        pad0 = self.adj_pad[0]
        cap = pad0.shape[1]
        if pops_per_step is None:
            # multi-pop trades extra distance evals for fewer lock-step
            # rounds: a win when evals are cheap (low dim) or the beam is
            # wide (large ef absorbs speculative expansion); at high dim
            # with a narrow beam the wasted evals dominate (measured)
            pops_per_step = 4 if (self.dim <= 64 or ef >= 128) else 2
        B = max(1, min(pops_per_step, ef))
        visited = np.zeros((q, n), dtype=bool)
        visited[np.arange(q), cur] = True
        beam_d = np.full((q, ef), INF, dtype=np.float32)
        beam_i = np.full((q, ef), -1, dtype=np.int64)
        beam_x = np.zeros((q, ef), dtype=bool)  # expanded flag
        beam_d[:, 0] = cur_d
        beam_i[:, 0] = cur
        alive = np.ones(q, dtype=bool)
        while alive.any():
            a = np.where(alive)[0]
            bda = beam_d[a]
            bd = np.where(beam_x[a], INF, bda)  # unexpanded distances
            jsel = np.argpartition(bd, B - 1, axis=1)[:, :B]
            dsel = np.take_along_axis(bd, jsel, axis=1)
            worst = bda.max(axis=1)  # INF while beam not full → no stop
            best = dsel.min(axis=1)
            done = (best > worst) | ~np.isfinite(best)
            if done.any():
                alive[a[done]] = False
                keep = ~done
                a = a[keep]
                if not len(a):
                    break
                jsel, dsel, worst, bda = jsel[keep], dsel[keep], worst[keep], bda[keep]
            ok = np.isfinite(dsel) & (dsel <= worst[:, None])
            beam_x[a[:, None], jsel] |= ok
            nodes = np.where(ok, np.take_along_axis(beam_i[a], jsel, axis=1), 0)
            nb = pad0[nodes].reshape(len(a), B * cap)
            nb = np.where(np.repeat(ok, cap, axis=1), nb, -1)
            valid = nb >= 0
            safe = np.where(valid, nb, 0)
            # fresh detection block-by-block: duplicates ACROSS the B
            # expanded slots must collapse to one beam entry, so visited
            # is updated between blocks (B tiny vectorized rounds)
            a_col = a[:, None]
            fresh = np.zeros_like(valid)
            for b in range(B):
                sl = slice(b * cap, (b + 1) * cap)
                f = valid[:, sl] & ~visited[a_col, safe[:, sl]]
                # set only the fresh slots: a masked ``|=`` over ``safe``
                # lets a pad slot (mapped to vertex 0) overwrite a real
                # vertex 0 in the same row, which then re-enters the beam
                r, c = np.nonzero(f)
                visited[a[r], safe[:, sl][r, c]] = True
                fresh[:, sl] = f
            rows, cols = np.nonzero(fresh)
            d = np.full(nb.shape, INF, dtype=np.float32)
            if len(rows):
                nbs = nb[rows, cols]
                quant = getattr(self, "q_codes", None) is not None
                sub = (
                    self._gather_dequant(nbs)
                    if quant and space != "manhattan"
                    else self.vectors[nbs]
                )
                Qa = Qf[a]
                qn2a = qn2[a]
                if space == "manhattan":
                    dflat = np.abs(sub - Qa[rows]).sum(axis=1, dtype=np.float32)
                else:
                    n2 = self.q_norms2 if quant else self.norms2
                    dot = np.einsum("ij,ij->i", sub, Qa[rows], dtype=np.float32)
                    if space == "euclidean":
                        dflat = np.sqrt(
                            np.maximum(
                                n2[nbs] - 2.0 * dot + qn2a[rows], 0.0
                            )
                        )
                    else:
                        nm = self.q_norms if quant else self.norms
                        dflat = np.abs(
                            np.float32(1.0)
                            - dot / (nm[nbs] * np.sqrt(qn2a[rows]))
                        )
                d[rows, cols] = dflat
            # one argpartition merges frontier into the beam
            md = np.concatenate([bda, d], axis=1)
            mi = np.concatenate([beam_i[a], nb], axis=1)
            mx = np.concatenate([beam_x[a], np.zeros_like(d, dtype=bool)], axis=1)
            sel = np.argpartition(md, ef - 1, axis=1)[:, :ef]
            beam_d[a] = np.take_along_axis(md, sel, axis=1)
            beam_i[a] = np.take_along_axis(mi, sel, axis=1)
            beam_x[a] = np.take_along_axis(mx, sel, axis=1)
        if getattr(self, "q_codes", None) is not None and space != "manhattan":
            # exact float32 rerank of the final beam: the walk ran on
            # quantized distances (¼ gather bytes); ranks and returned
            # scores must be exact.  ef rows/query — ~3% extra traffic.
            safe = np.where(beam_i >= 0, beam_i, 0)
            sub = self.vectors[safe]  # (q, ef, d)
            dot = np.einsum("qed,qd->qe", sub, Qf, dtype=np.float32)
            if space == "euclidean":
                d_ex = np.sqrt(
                    np.maximum(self.norms2[safe] - 2.0 * dot + qn2[:, None], 0.0)
                )
            else:
                d_ex = np.abs(
                    np.float32(1.0)
                    - dot / (self.norms[safe] * np.sqrt(qn2)[:, None])
                )
            beam_d = np.where(
                np.isfinite(beam_d) & (beam_i >= 0), d_ex, np.float32(np.inf)
            )
        return _beam_topk(beam_d, beam_i, k)

    def _search_batch_chunk_tombstone(self, Q: np.ndarray, k: int, ef: int | None):
        Qf = np.ascontiguousarray(Q, dtype=np.float32)
        q = Qf.shape[0]
        n = len(self.levels)
        ef = max(ef or self.cfg.ef, k)
        qn2 = np.einsum("ij,ij->i", Qf, Qf, dtype=np.float32)
        INF = np.float32(np.inf)
        cur, cur_d = self._descend_batch(Qf, qn2)
        # beam on level 0: fixed-width array beams (results + candidates);
        # tombstoned vertices feed the candidate beam (traversable — our
        # divergence; the reference skips deleted vertices outright) but
        # never the result beam
        pad0 = self.adj_pad[0]
        deleted = self.deleted
        visited = np.zeros((q, n), dtype=bool)
        visited[np.arange(q), cur] = True
        res_d = np.full((q, ef), INF, dtype=np.float32)
        res_i = np.full((q, ef), -1, dtype=np.int64)
        if deleted is None:
            res_d[:, 0] = cur_d
            res_i[:, 0] = cur
        else:
            ok = ~deleted[cur]
            res_d[ok, 0] = cur_d[ok]
            res_i[ok, 0] = cur[ok]
        cand_d = np.full((q, ef), INF, dtype=np.float32)
        cand_i = np.full((q, ef), -1, dtype=np.int64)
        cand_d[:, 0] = cur_d
        cand_i[:, 0] = cur
        alive = np.ones(q, dtype=bool)
        while alive.any():
            a = np.where(alive)[0]
            jmin = cand_d[a].argmin(axis=1)
            bd = cand_d[a, jmin]
            worst = res_d[a].max(axis=1)
            # done when the best candidate can't improve the beam, or the
            # candidate beam is exhausted (bd == inf; inf > inf is False)
            done = (bd > worst) | ~np.isfinite(bd)
            alive[a[done]] = False
            keep = ~done
            a = a[keep]
            if not len(a):
                break
            jmin = jmin[keep]
            bi = cand_i[a, jmin]
            cand_d[a, jmin] = INF  # pop
            nb = pad0[bi]
            valid = nb >= 0
            safe = np.where(valid, nb, 0)
            fresh = valid & ~visited[a[:, None], safe]
            r, c = np.nonzero(fresh)  # fresh slots only (see _search_batch_chunk)
            visited[a[r], safe[r, c]] = True
            # distances for FRESH entries only (one flat ragged einsum) —
            # the dense (alive × cap × d) gather recomputed every visited
            # slot each step, ~10× wasted flops at high dim
            rows, cols = np.nonzero(fresh)
            nbs = nb[rows, cols]
            d = np.full(nb.shape, INF, dtype=np.float32)
            if len(rows):
                sub = self.vectors[nbs]
                Qa = Qf[a]
                if self.cfg.space == "manhattan":
                    dflat = np.abs(sub - Qa[rows]).sum(axis=1, dtype=np.float32)
                else:
                    dot = np.einsum("ij,ij->i", sub, Qa[rows], dtype=np.float32)
                    if self.cfg.space == "euclidean":
                        dflat = np.sqrt(
                            np.maximum(
                                self.norms2[nbs] - 2.0 * dot + qn2[a][rows], 0.0
                            )
                        )
                    else:
                        dflat = np.abs(
                            np.float32(1.0)
                            - dot / (self.norms[nbs] * np.sqrt(qn2[a][rows]))
                        )
                d[rows, cols] = dflat
            # result beam sees tombstones as +inf; candidate beam keeps
            # them so the walk can pass through deleted regions
            d_res = (
                d if deleted is None else np.where(deleted[safe], INF, d)
            )
            # merge the frontier into both beams with one argpartition each
            for bdst_d, bdst_i, dm in (
                (res_d, res_i, d_res),
                (cand_d, cand_i, d),
            ):
                md = np.concatenate([bdst_d[a], dm], axis=1)
                mi = np.concatenate([bdst_i[a], nb], axis=1)
                sel = np.argpartition(md, ef - 1, axis=1)[:, :ef]
                bdst_d[a] = np.take_along_axis(md, sel, axis=1)
                bdst_i[a] = np.take_along_axis(mi, sel, axis=1)
        return _beam_topk(res_d, res_i, k)

    def search_brute(self, queries: np.ndarray, k: int):
        """Exact per-partition scoring: one blocked GEMM for all queries
        (the right physical plan when n·q·d is small — coarse partition
        pruning plus fine brute scan, IVF-style).  Same ``(ids, dists)``
        contract as `search_fast_batch`: (nq, k), ascending rows, −1 pads
        as a row suffix (k above the live vertex count, tombstones).

        Allocation discipline (the r12 scatter-leg finding, PLANS r12):
        this path runs in 32 concurrent workers, and on a fault-slow
        host a fresh multi-MB allocation's first touch stalls for
        SECONDS at the tail (measured p90 5.6 s for a concurrent 25 MB
        empty+touch, vs 0 for a reused buffer) — fresh (q, n)
        intermediates and the whole-matrix argpartition's internal
        index array were the BENCH_r11 hnsw_search_1kq 6x regression
        on byte-identical code.  So: every (q, n)-sized intermediate
        lands in a process-level capacity buffer (`_scratch_mat` —
        reused across graphs AND shapes), and top-k selection runs
        per row (each row's introselect scratch is KBs, served from
        the malloc arena).  Row-wise argpartition is the same
        introselect numpy applies per row under axis=1, and the
        in-place expression order is IEEE-identical to the
        fresh-allocation forms (a-b == a+(-b), (-2)·x == -(2·x),
        addition commutes) — results are bitwise-unchanged
        (pytest-pinned)."""
        v = self.vectors
        n = v.shape[0]
        nq = len(queries)
        if n == 0 or not nq:
            return _pad_hits(nq, k)
        kk = min(k, n)
        space = self.cfg.space
        d = _scratch_mat("brute_d", nq, n)
        if space == "manhattan":
            # blocked |x-y| sum through a reused cube buffer: the old
            # broadcast form materialized a fresh (q, n, dim) cube
            # (hundreds of MB of transient pages at the auto
            # threshold).  Per-element sums are independent of the
            # blocking, so values are identical to the one-cube form.
            dim = v.shape[1]
            step = max(1, int(2_000_000 // max(n * dim, 1)))
            for s in range(0, nq, step):
                e = min(s + step, nq)
                cube = _scratch_mat(
                    "brute_cube", (e - s) * n, dim
                ).reshape(e - s, n, dim)
                np.subtract(queries[s:e, None, :], v[None, :, :], out=cube)
                np.abs(cube, out=cube)
                cube.sum(axis=2, dtype=np.float32, out=d[s:e])
        else:
            if not hasattr(self, "norms2"):
                self.finalize()
            np.dot(queries, v.T, out=d)  # (q, n)
            if space == "euclidean":
                qn2 = np.einsum("ij,ij->i", queries, queries, dtype=np.float32)
                np.multiply(d, np.float32(-2.0), out=d)
                d += self.norms2[None, :]
                d += qn2[:, None]
                np.maximum(d, 0.0, out=d)
                np.sqrt(d, out=d)
            else:
                qn = np.sqrt(np.einsum("ij,ij->i", queries, queries, dtype=np.float32))
                # the norm product must stay ONE multiply (splitting
                # into two in-place divisions would change rounding);
                # it gets its own reused buffer
                prod = _scratch_mat("brute_prod", nq, n)
                np.multiply(self.norms[None, :], qn[:, None], out=prod)
                d /= prod
                np.subtract(np.float32(1.0), d, out=d)
                np.abs(d, out=d)
        if self.deleted is not None:
            d[:, self.deleted] = np.inf  # tombstones never score
        out_i, out_d = _pad_hits(nq, k)
        for qi in range(nq):
            row = d[qi]
            ids = np.argpartition(row, kk - 1)[:kk]
            ds = row[ids]
            order = np.argsort(ds, kind="stable")
            out_i[qi, :kk] = ids[order]
            out_d[qi, :kk] = ds[order]
        out_i[~np.isfinite(out_d)] = -1  # tombstoned slots sort last
        return out_i, out_d

    # -- growth from a batch -------------------------------------------
    @classmethod
    def build(
        cls,
        mat: np.ndarray,
        levels: list[int],
        config: HnswConfig,
        wave: int = 256,
        brute_threshold: int | None = None,
        workers: int = 1,
    ) -> "HnswGraph":
        """Deterministic wave-batched build with a GEMM fast path.

        Sequential semantics are the reference's insert loop
        (`index/hnsw.go:80-140`); the batch analogue keeps its fixed
        order but processes items in waves whose candidate searches run
        against the pre-wave graph, then commits apply in ascending id
        order (edges).  Backlink prunes are deferred to the wave
        boundary and run once per over-cap vertex (the union of a
        vertex's wave backlinks is pruned in ONE heuristic/simple
        selection instead of once per edge) — candidate generation never
        reads adjacency mid-wave, so results are identical to pruning
        eagerly, and wave boundaries are fixed, so rebuilds are
        reproducible.  Intra-wave items don't see each other as
        candidates — backlink pruning re-knits those edges.

        Candidate generation has two kernels:

        - **exact GEMM** while the built prefix is ≤ ``brute_threshold``
          (default 4·efConstruction): with a beam of efC over a graph
          that small, the beam visits ~everything anyway — so the
          candidate list IS the exact top-efC, computable as one BLAS
          GEMM per wave instead of thousands of gather-einsum beam
          steps.  Upper-level candidates come from the same distance
          row restricted to that level's nodes.  Same-or-better edge
          quality, order-of-magnitude faster on partition sizes near
          the construction beam width (the reference-protocol efC=500
          case).
        - **batched beam** beyond the threshold — the asymptotic path
          for large partitions.  Level-0 candidates come from the
          lock-step batched beam; upper-level candidates are EXACT
          distance rows against that level's (16×-smaller per level)
          node set — cheaper AND better than beaming the upper levels.

        ``workers`` > 1 splits each wave's candidate search + neighbor
        selection across FORKED worker processes (the pre-wave graph is
        inherited copy-on-write — no serialization; each wave re-forks
        so children always see the committed graph).  Commits stay
        single-process and ordered, so the result is bit-identical to
        workers=1.  This is the reference's concurrent-insert shape
        (`index/hnsw.go:80-140` is called from NumCPU goroutines) for
        driver-side single-graph builds; per-partition builds inside
        Spark tasks keep workers=1 (the task's core is the unit of
        parallelism there — threads would only fight the GIL, measured
        net-negative).  Falls back to serial where fork is unavailable.
        """
        g = cls(mat.shape[1], config)
        g.vectors = np.ascontiguousarray(mat, dtype=np.float32)
        v = g.vectors
        n = len(levels)
        if n == 0:
            return g
        if config.space != "manhattan" and n * mat.shape[1] >= 1 << 22:
            # f16 shadow for neighbor-selection gathers (see
            # _select_neighbors); built once, dropped before return
            g.vectors_h = v.astype(np.float16)
        import multiprocessing as _mp

        can_fork = workers > 1 and "fork" in _mp.get_all_start_methods()
        from anndb_spark.operators import ckernel as _ckm

        ck_ok = _ckm.available() and config.space in (
            "euclidean",
            "cosine",
            "manhattan",
        )
        if brute_threshold is None:
            if ck_ok:
                # keep the exact-GEMM prefix: it seeds a well-formed
                # core graph that every later beam navigates cheaply —
                # on a noisy 784-d corpus a beam-built prefix degrades
                # ALL downstream walks (measured: 60k single-graph
                # build 23 s → 205 s with no prefix).  But run the
                # prefix IN-PROCESS (threaded BLAS + native
                # selection), never through the fork pool: the pool's
                # per-wave round trips cost ~0.45 s each — 4.3 s of a
                # 6.3 s 15k/784 build (measured).  MUST not depend on
                # `workers` (the workers>1 build is asserted
                # bit-identical to serial).
                brute_threshold = max(4 * config.ef_construction, 2_000)
            elif can_fork:
                # with a fork pool the GEMM path parallelizes perfectly
                # (BLAS block per slice + per-row argpartition across
                # workers) while staying EXACT — it beats the beam path
                # up to ~100k prefix regardless of dimension, because
                # the beam's ~efC·cap gathered distance evals per item
                # cost about as much as a BLAS row that long
                brute_threshold = max(4 * config.ef_construction, 120_000)
            else:
                # serial: beam-worthy once a brute candidate row costs
                # more than the beam's visit budget — scale the cutover
                # inversely with dimension (at 8-d a full GEMM row is
                # ~free; at 784-d the 4·efC bound dominates)
                brute_threshold = max(
                    4 * config.ef_construction, 200_000 // max(mat.shape[1], 1)
                )
        g.norms2 = np.einsum("ij,ij->i", v, v, dtype=np.float32)
        g.norms = np.sqrt(g.norms2)
        # full-length norms are live for the whole build → _prune may
        # use the native selection (cleared before return: insert()
        # mutates vectors without maintaining them)
        g._ck_prune_ok = ck_ok
        space = config.space
        efc = config.ef_construction
        by_level: dict[int, list[int]] = {}

        def dist_rows(X: np.ndarray, upto: int) -> np.ndarray:
            """(|X|, upto) float32 distances to the built prefix."""
            sub = v[:upto]
            if space == "manhattan":
                return np.abs(sub[None, :, :] - X[:, None, :]).sum(
                    axis=2, dtype=np.float32
                )
            dot = X @ sub.T
            if space == "euclidean":
                qn2 = np.einsum("ij,ij->i", X, X, dtype=np.float32)
                return np.sqrt(
                    np.maximum(
                        g.norms2[:upto][None, :] - 2.0 * dot + qn2[:, None], 0.0
                    )
                )
            qn = np.sqrt(np.einsum("ij,ij->i", X, X, dtype=np.float32))
            return np.abs(
                np.float32(1.0) - dot / (g.norms[:upto][None, :] * qn[:, None])
            )

        overflow: set[tuple[int, int]] = set()  # (vertex, level) over cap

        def commit_exact(x: int, drow: np.ndarray, upto: int) -> None:
            """Insert x with exact top-efC candidates from built[:upto]
            per level (ties broken by index — deterministic)."""
            L = levels[x]
            g.levels.append(L)
            g.adj.append({l: set() for l in range(L + 1)})
            if g.entrypoint < 0:
                g.entrypoint = x
            else:
                max_level = g.levels[g.entrypoint]
                for l in range(min(L, max_level), -1, -1):
                    if l == 0:
                        pd_ = drow[:upto]
                        pool = None
                    else:
                        nodes = by_level.get(l)
                        if not nodes:
                            continue
                        pool = np.asarray(nodes, dtype=np.int64)
                        # intra-wave items are invisible (no distance row)
                        pool = pool[pool < upto]
                        if not pool.size:
                            continue
                        pd_ = drow[pool]
                    k_eff = min(efc, pd_.shape[0])
                    if k_eff == 0:
                        continue
                    sel = _topk_ids(pd_, k_eff)
                    nodes_sel = sel if pool is None else pool[sel]
                    # native Alg-4 selection when the kernel is up: the
                    # python heuristic at efC-wide pools was the
                    # dominant cost of the whole prefix regime
                    # (measured 16 s of a 34 s profiled 60k build)
                    nbrs = None
                    if getattr(g, "_ck_prune_ok", False):
                        kept = _ckm.select_from_pool(
                            g, nodes_sel.tolist(), x, g.cfg.m
                        )
                        if kept is not None:
                            nbrs = [(0.0, nb) for nb in kept]
                    if nbrs is None:
                        cand = sorted(
                            zip(pd_[sel].tolist(), nodes_sel.tolist())
                        )
                        nbrs = g._select_neighbors(cand, g.cfg.m, l, v[x])
                    for _, nb in nbrs:
                        g.adj[x][l].add(nb)
                        g.adj[nb].setdefault(l, set()).add(x)
                        if len(g.adj[nb][l]) > g._cap(l):
                            overflow.add((nb, l))
                if L > max_level:
                    g.entrypoint = x
            for l in range(1, L + 1):
                by_level.setdefault(l, []).append(x)

        def flush_overflow(
            dirty: set[int] | None, strict: bool = True
        ) -> None:
            """Prune every over-cap vertex once (wave-granular): the
            selection sees the union of the wave's backlinks, candidate
            generation never read adjacency mid-wave.  Order stays
            sequential (reciprocal drops can take later vertices back
            under cap — see flush_final); the selection itself runs
            through a hoisted native-call loop when the kernel is
            available.  With ``strict=False`` a vertex is only pruned
            once it exceeds cap by 50% — a popular vertex otherwise
            re-prunes every wave it gains a backlink (a 60k build
            issued 136k prunes, the single largest cost; measured) —
            and under-slack vertices CARRY in the overflow set; the
            build closes with one strict pass, so returned degrees
            always respect the caps."""
            ctx = _ckm._sel_ctx(g) if getattr(g, "_ck_prune_ok", False) else None
            carried: set[tuple[int, int]] = set()
            if ctx is None:
                for nb, l in sorted(overflow):
                    adj_l = g.adj[nb].get(l, ())
                    cap = g._cap(l)
                    if not strict and len(adj_l) <= cap + (cap >> 1):
                        if len(adj_l) > cap:
                            carried.add((nb, l))
                        continue
                    before = set(adj_l)
                    g._prune(nb, l)
                    if dirty is not None:
                        dirty.add(nb)
                        dirty.update(before - g.adj[nb][l])
                overflow.clear()
                overflow.update(carried)
                return
            import ctypes as _ct

            lib, vp, n2p, nmp, dim_c, space_c, heur_c, keep_c = ctx
            hp_c = _ct.c_int32(int(config.heuristic_pool or 0))
            cap_max = max(g._cap(0), g._cap(1))
            out = np.empty(cap_max + 1, dtype=np.int64)
            out_p = out.ctypes.data_as(_ct.POINTER(_ct.c_int64))
            i64p = _ct.POINTER(_ct.c_int64)
            for nb, l in sorted(overflow):
                adj_l = g.adj[nb].get(l)
                cap = g._cap(l)
                if adj_l is None or len(adj_l) <= cap:
                    continue
                if not strict and len(adj_l) <= cap + (cap >> 1):
                    carried.add((nb, l))
                    continue
                nbrs = list(adj_l)
                pl = np.asarray(nbrs, dtype=np.int64)
                ns = lib.hnsw_select_from_pool(
                    vp, n2p, nmp, dim_c, space_c,
                    pl.ctypes.data_as(i64p), _ct.c_int32(len(pl)),
                    _ct.c_int64(nb), _ct.c_int32(cap),
                    heur_c, keep_c, hp_c, out_p,
                )
                if ns < 0:  # allocation failure in C: python fallback
                    before = set(adj_l)
                    g._prune(nb, l)
                    if dirty is not None:
                        dirty.add(nb)
                        dirty.update(before - g.adj[nb][l])
                    continue
                keep = set(out[:ns].tolist())
                g.adj[nb][l] = keep
                if dirty is not None:
                    dirty.add(nb)
                for x in nbrs:
                    if x not in keep:
                        g.adj[x].get(l, set()).discard(nb)
                        if dirty is not None:
                            dirty.add(x)
            overflow.clear()
            overflow.update(carried)

        # bootstrap sequentially (exact candidates, one gemv per item):
        # tiny graphs change too fast for stale pre-wave candidates
        boot = min(n, wave)
        for x in range(boot):
            drow = (
                dist_rows(v[x : x + 1], x)[0]
                if x
                else np.empty(0, dtype=np.float32)
            )
            commit_exact(x, drow, x)
            # bootstrap prunes stay eager: the tiny graph IS the
            # candidate pool structure for upper levels of later items
            flush_overflow(None)

        def flush_final() -> None:
            """End-of-GEMM-regime backlink prune: ONE sequential
            ``_prune`` per over-cap (vertex, level) instead of one per
            wave it overflowed in (candidate generation never read
            adjacency, so over-cap lists were invisible until now).
            Sequential on purpose: reciprocal drops from earlier prunes
            can take a later vertex back under cap, whose prune then
            SKIPS — an order-independent mutual-agreement variant was
            measured to collapse connectivity (and recall) on dense
            same-cluster partitions, where every vertex's keep-set
            overlaps heavily."""
            for node, level in sorted(overflow):
                g._prune(node, level)
            overflow.clear()

        def cand_work(slice_ids: list[int]):
            """Candidate beams + level-0 neighbor selection for a wave
            slice (read-only on the pre-wave graph)."""
            res = _hit_lists(*g.search_fast_batch(v[slice_ids], k=efc, ef=efc))
            return [
                (x, g._select_neighbors(cand, g.cfg.m, 0, v[x]))
                for x, cand in zip(slice_ids, res)
            ]

        dirty: set[int] = set()
        finalized = False
        ck_commit = None
        gemm_pool = None
        shm_path = None
        # max wave size → shm distance-buffer row count (column-tiled path)
        _maxw, _ii = 0, boot
        while _ii < n:
            _jj = min(n, _ii + max(wave, _ii // 10))
            if _ii <= brute_threshold:
                _maxw = max(_maxw, _jj - _ii)
            _ii = _jj
        _prof = _os_mod.environ.get("ANNDB_BUILD_PROF") == "1"
        _t = {"fork": 0.0, "commit": 0.0, "flush": 0.0, "serial": 0.0}
        import time as _time_mod

        i = boot
        while i < n:
            # waves grow with the graph (≤10% stale candidates per wave)
            j = min(n, i + max(wave, i // 10))
            if i <= brute_threshold:
                ids = list(range(i, j))
                if (
                    can_fork
                    and not ck_ok  # ck builds: short prefix, in-process
                    and not config.extend_candidates
                    and len(ids) >= 8 * workers
                ):
                    # children forked ONCE for the regime (static
                    # snapshot: vectors/norms/config/levels); each wave
                    # ships only (slice, prefix bound, upper-level
                    # pools) and gets back (id, {level: neighbors}) —
                    # the parent commit is pure set updates in id order
                    global _BUILD_FORK_GEMM
                    _t0 = _time_mod.perf_counter()
                    if gemm_pool is None:
                        _BUILD_FORK_GEMM = (g, v, efc, levels)
                        ctx = _mp.get_context("fork")
                        gemm_pool = ctx.Pool(
                            workers, initializer=_limit_blas_threads
                        )
                    def _shm_free_bytes() -> int:
                        try:
                            st = _os_mod.statvfs("/dev/shm")
                            return st.f_bavail * st.f_frsize
                        except OSError:
                            return 0

                    if (
                        shm_path is None
                        and space != "manhattan"
                        and _os_mod.path.isdir("/dev/shm")
                        and _maxw * n * 4 <= 8e9
                        # tmpfs defaults to RAM/2 — check ACTUAL free
                        # space (with 25% headroom) so pool children
                        # writing the memmap can't SIGBUS on ENOSPC
                        # (ADVICE r5); too small → non-shm fallback
                        and _maxw * n * 4 <= 0.75 * _shm_free_bytes()
                    ):
                        import tempfile as _tf

                        # sweep buffers leaked by crashed builds (files
                        # are pid-tagged; a dead owner pid → unlink)
                        for _old in _glob_mod.glob("/dev/shm/anndb-build-*"):
                            try:
                                _opid = int(_old.rsplit("-", 2)[-2])
                                _os_mod.kill(_opid, 0)
                            except (ValueError, ProcessLookupError):
                                try:
                                    _os_mod.unlink(_old)
                                except OSError:
                                    pass
                            except OSError:
                                pass
                        fd, shm_path = _tf.mkstemp(
                            dir="/dev/shm",
                            prefix=f"anndb-build-{_os_mod.getpid()}-",
                        )
                        _os_mod.close(fd)
                        mm = np.memmap(
                            shm_path, dtype=np.float32, mode="w+",
                            shape=(_maxw, n),
                        )
                        del mm
                    bl_snap = {l: list(ns) for l, ns in by_level.items()}
                    item_chunks = [
                        c.tolist()
                        for c in np.array_split(np.asarray(ids), 2 * workers)
                        if len(c)
                    ]
                    if shm_path is not None:
                        # stage A: column-tiled GEMM into the shm buffer
                        # (each child's column block is cache-resident);
                        # stage B: per-item selection from the shm rows
                        wave_n = j - i
                        cb = np.linspace(0, i, workers + 1).astype(int)
                        mins = gemm_pool.map(
                            _build_fork_gemm_cols,
                            [
                                (int(cb[b]), int(cb[b + 1]), i, wave_n,
                                 shm_path, _maxw)
                                for b in range(workers)
                                if cb[b + 1] > cb[b]
                            ],
                        )
                        _t["stageA"] = _t.get("stageA", 0.0) + (
                            _time_mod.perf_counter() - _t0
                        )
                        mv = np.stack([m_[1] for m_ in mins])
                        mi = np.stack([m_[0] for m_ in mins])
                        bb = mv.argmin(axis=0)
                        nearest = mi[bb, np.arange(wave_n)]
                        order = np.argsort(nearest, kind="stable")
                        ids_sorted = (np.asarray(ids)[order]).tolist()
                        parts = gemm_pool.map(
                            _build_fork_gemm_rows,
                            [
                                (c.tolist(), i, i, bl_snap, shm_path, _maxw)
                                for c in np.array_split(
                                    np.asarray(ids_sorted), 2 * workers
                                )
                                if len(c)
                            ],
                        )
                        parts = [sorted(
                            (p for part in parts for p in part),
                            key=lambda t_: t_[0],
                        )]
                    else:
                        parts = gemm_pool.map(
                            _build_fork_gemm_work,
                            [(c, i, bl_snap) for c in item_chunks],
                        )
                    _t1 = _time_mod.perf_counter()
                    for part in parts:
                        for x, pre in part:
                            g._commit_exact_pre(
                                x, levels[x], pre, by_level, overflow
                            )
                    _t2 = _time_mod.perf_counter()
                    _t["fork"] += _t1 - _t0
                    _t["commit"] += _t2 - _t1
                else:
                    # blocked so the (rows × i) distance matrix stays
                    # under ~1 GB at any prefix
                    _t0 = _time_mod.perf_counter()
                    blk = max(256, int(2.5e8 // max(i, 1)))
                    for s in range(i, j, blk):
                        D = dist_rows(v[s : min(j, s + blk)], i)
                        for x in range(s, min(j, s + blk)):
                            commit_exact(x, D[x - s], i)
                    _t["serial"] += _time_mod.perf_counter() - _t0
                # backlink prunes are DEFERRED to the end of the GEMM
                # regime: candidate generation here never reads
                # adjacency, so over-cap lists are invisible until the
                # graph is actually used — one mutual-agreement prune
                # per over-cap vertex instead of one per wave it
                # overflowed in (~3× fewer), computable in parallel
                if _prof:
                    print(f"wave {i}->{j}: {_t}", flush=True)
                i = j
                continue
            if not finalized:
                if gemm_pool is not None:
                    gemm_pool.terminate()
                    gemm_pool = None
                    _BUILD_FORK_GEMM = None
                if shm_path is not None:
                    try:
                        _os_mod.unlink(shm_path)
                    except OSError:
                        pass
                    shm_path = None
                flush_final()  # GEMM-regime deferred prunes, then pads
                g.finalize()  # build pads once at the kernel transition
                finalized = True
                dirty.clear()
                if ck_ok:
                    # pad-resident level-0 adjacency: the C side owns
                    # commit + slack prunes for the whole beam regime
                    # (python sets rebuilt once via sync_back) —
                    # replaces ~9 s of set updates / per-prune
                    # marshalling / pad rewrites on the 60k fm build
                    try:
                        ck_commit = _ckm.WaveCommitState(g, n)
                    except Exception:
                        ck_commit = None
            ids = list(range(i, j))
            _t0 = _time_mod.perf_counter()
            g._refresh_pads(
                dirty, len(g.levels), skip_level0=ck_commit is not None
            )
            _t["pads"] = _t.get("pads", 0.0) + (
                _time_mod.perf_counter() - _t0
            )
            dirty.clear()
            nbrs0 = None
            sel_wave = None
            if ck_ok:
                # native fused candidate beams + neighbor selection,
                # OpenMP fan-out across the machine's cores IN-PROCESS —
                # no per-wave fork pool (32 forks + teardown per wave
                # cost more than the searches) and no per-candidate
                # python tuples (500-wide lists per item dominated the
                # first cut, measured).  Per-item walks are
                # deterministic, so workers>1 stays bit-identical to
                # workers=1.
                _t0 = _time_mod.perf_counter()
                r = g._build_wave_candidates_ck(
                    v[ids], efc, config.m, threads=max(workers, 1)
                )
                _tk = _time_mod.perf_counter()
                _t["kern"] = _t.get("kern", 0.0) + (_tk - _t0)
                if r is not None:
                    if ck_commit is not None:
                        sel_wave = r[0]  # int32 (nw, m) straight to C
                    else:
                        sel_ids, sel_d = r
                        idl, dl = sel_ids.tolist(), sel_d.tolist()
                        nbrs0 = {
                            x: [
                                (d, nid)
                                for d, nid in zip(drow, irow)
                                if nid >= 0
                            ]
                            for x, drow, irow in zip(ids, dl, idl)
                        }
                elif ck_commit is not None:
                    # kernel died mid-regime: strict-flush the C pads,
                    # restore python sets, continue on the python path
                    ck_commit.commit_wave([], None, strict=True)
                    ck_commit.sync_back(g)
                    ck_commit = None
                _t["fork"] += _time_mod.perf_counter() - _t0
            if sel_wave is not None or nbrs0 is not None:
                pass
            elif can_fork and len(ids) >= 8 * workers:
                # fork AFTER the pads refresh: children inherit the
                # committed pre-wave graph copy-on-write and search
                # their slice; only (id, selected-neighbor) pairs come
                # back.  A fresh pool per wave keeps replicas in sync.
                global _BUILD_FORK_GRAPH
                _BUILD_FORK_GRAPH = (g, v, efc)
                chunks = [
                    c.tolist()
                    for c in np.array_split(np.asarray(ids), 2 * workers)
                    if len(c)
                ]
                ctx = _mp.get_context("fork")
                with ctx.Pool(workers) as pool:
                    parts = pool.map(_build_fork_cand_work, chunks)
                _BUILD_FORK_GRAPH = None
                nbrs0 = {x: nb for part in parts for x, nb in part}
            else:
                nbrs0 = dict(cand_work(ids))
            _t0 = _time_mod.perf_counter()
            upper_sel = None
            if ck_ok:
                # batch the wave's upper-level selections natively: all
                # items share the SAME pre-wave pool per level (intra-
                # wave items are invisible by contract), so one OMP
                # pass per populated level replaces a python
                # _dist_many + greedy per item
                hp = config.heuristic_pool or 0
                eff_cap = min(efc, hp) if hp else efc
                pre_ep_level = g.levels[g.entrypoint]
                upper_sel = {}
                for l in range(1, pre_ep_level + 1):
                    pool = np.asarray(by_level.get(l, ()), dtype=np.int64)
                    pool = pool[pool < i]
                    if not pool.size:
                        continue
                    nodes = np.asarray(
                        [x for x in ids if levels[x] >= l], dtype=np.int64
                    )
                    if not nodes.size:
                        continue
                    selmat = _ckm.select_pool_batch(
                        g, pool, nodes, config.m, eff_cap,
                        threads=max(workers, 1),
                    )
                    if selmat is None:
                        upper_sel = None
                        break
                    for xi, x in enumerate(nodes.tolist()):
                        upper_sel[(x, l)] = [
                            int(t) for t in selmat[xi] if t >= 0
                        ]
            if sel_wave is not None:
                if not ck_commit.commit_wave(ids, sel_wave):
                    raise RuntimeError(
                        "hnsw_wave_commit failed mid-build"
                    )
                for x in ids:
                    g._commit_wave_item(
                        x, levels[x], None, by_level, i, dirty,
                        overflow, upper_sel=upper_sel, skip_level0=True,
                    )
            else:
                for x in ids:
                    g._commit_wave_item(
                        x, levels[x], nbrs0[x], by_level, i, dirty,
                        overflow, upper_sel=upper_sel,
                    )
            _t["serial"] += _time_mod.perf_counter() - _t0
            _t0 = _time_mod.perf_counter()
            _t.setdefault("prunes", 0)
            _t["prunes"] += len(overflow)
            flush_overflow(dirty, strict=False)
            _t["flush"] += _time_mod.perf_counter() - _t0
            if _prof:
                print(f"beam wave {i}->{j}: {_t}", flush=True)
            i = j
        if gemm_pool is not None:
            gemm_pool.terminate()
            _BUILD_FORK_GEMM = None
        if shm_path is not None:
            try:
                _os_mod.unlink(shm_path)
            except OSError:
                pass
            shm_path = None
        if not finalized:
            flush_final()  # GEMM-only build: one deferred prune pass
        elif ck_commit is not None:
            # closing strict pass: level 0 in C, upper levels in python,
            # then reconstruct the python sets from the C pads
            ck_commit.commit_wave([], None, strict=True)
            if overflow:
                flush_overflow(dirty, strict=True)
            g._refresh_pads(dirty, len(g.levels), skip_level0=True)
            dirty.clear()
            ck_commit.sync_back(g)
        elif overflow:
            # slack-deferred beam-regime prunes: one closing strict
            # pass so returned degrees respect the caps
            flush_overflow(dirty, strict=True)
            g._refresh_pads(dirty, len(g.levels))
            dirty.clear()
        if hasattr(g, "vectors_h"):
            del g.vectors_h  # build-time only (searches never touch it)
        g._ck_prune_ok = False
        return g

    def _commit_exact_pre(
        self,
        x: int,
        L: int,
        nbrs_by_level: dict[int, list[tuple[float, int]]],
        by_level: dict[int, list[int]],
        overflow: set[tuple[int, int]],
    ) -> None:
        """Ordered commit of one wave item whose per-level neighbor
        selections were computed against the pre-wave graph (the
        fork-GEMM path).  Pure set updates — identical graph to the
        serial ``commit_exact`` because selection never reads adjacency
        (``extend_candidates`` builds fall back to serial)."""
        assert x == len(self.levels)
        self.levels.append(L)
        self.adj.append({l: set() for l in range(L + 1)})
        if self.entrypoint < 0:
            self.entrypoint = x
        else:
            max_level = self.levels[self.entrypoint]
            for l, nbrs in nbrs_by_level.items():
                if l > min(L, max_level):
                    continue  # unreachable in practice: nonempty pool ⇒ pre-wave max ≥ l
                for _, nb in nbrs:
                    self.adj[x][l].add(nb)
                    self.adj[nb].setdefault(l, set()).add(x)
                    if len(self.adj[nb][l]) > self._cap(l):
                        overflow.add((nb, l))
            if L > max_level:
                self.entrypoint = x
        for l in range(1, L + 1):
            by_level.setdefault(l, []).append(x)

    def _commit_wave_item(
        self,
        idx: int,
        level: int,
        nbrs0: list[tuple[float, int]] | None,
        by_level: dict[int, list[int]],
        upto: int,
        dirty: set[int],
        overflow: set[tuple[int, int]],
        upper_sel: dict[tuple[int, int], list[int]] | None = None,
        skip_level0: bool = False,
    ):
        """Apply one wave insert: pre-selected level-0 neighbors, EXACT
        upper-level candidates (distance row against that level's pre-wave
        node set — n/16^l nodes, cheaper and better than beaming), edges
        both ways; backlink prunes are deferred to the wave boundary.
        ``upper_sel`` carries wave-precomputed upper-level selections
        (the pre-wave pools are identical for every item in the wave,
        so the build batches them through the native kernel)."""
        assert idx == len(self.levels)
        self.levels.append(level)
        self.adj.append({l: set() for l in range(level + 1)})
        q = self.vectors[idx]
        ep_level = self.levels[self.entrypoint]
        if not skip_level0:  # C wave-commit path owns level 0
            for _, nb in nbrs0:
                self.adj[idx][0].add(nb)
                self.adj[nb].setdefault(0, set()).add(idx)
                dirty.add(nb)
                if len(self.adj[nb][0]) > self._cap(0):
                    overflow.add((nb, 0))
        for l in range(1, min(level, ep_level) + 1):
            if upper_sel is not None:
                nbrs = [(0.0, nb) for nb in upper_sel.get((idx, l), ())]
            else:
                nodes = by_level.get(l)
                if not nodes:
                    continue
                pool = np.asarray(nodes, dtype=np.int64)
                pool = pool[pool < upto]  # intra-wave items invisible
                if not pool.size:
                    continue
                ds = _dist_many(self.cfg.space, self.vectors[pool], q)
                k_eff = min(self.cfg.ef_construction, len(pool))
                if len(pool) > k_eff:
                    sel = np.argpartition(ds, k_eff - 1)[:k_eff]
                else:
                    sel = np.arange(len(pool))
                cand = sorted(zip(ds[sel].tolist(), pool[sel].tolist()))
                nbrs = self._select_neighbors(cand, self.cfg.m, l, q)
            for _, nb in nbrs:
                self.adj[idx][l].add(nb)
                self.adj[nb].setdefault(l, set()).add(idx)
                dirty.add(nb)
                if len(self.adj[nb][l]) > self._cap(l):
                    overflow.add((nb, l))
        if level > ep_level:
            self.entrypoint = idx
        for l in range(1, level + 1):
            by_level.setdefault(l, []).append(idx)
        dirty.add(idx)

    def _refresh_pads(
        self, dirty: set[int], new_n: int, skip_level0: bool = False
    ):
        """Grow the padded adjacency matrices to new_n rows and rewrite
        rows whose adjacency changed — O(Σ_levels(i) for dirty i), not
        O(|dirty|·max_level): a node's adj dict holds exactly its own
        levels, so one pass over each dirty node's items replaces a
        full dirty sweep (plus a separate capacity sweep) PER level —
        most nodes are level-0-only, so this is ~8× fewer python
        iterations on a 60k build (measured 5.2 s → ~1.5 s of wall)."""
        by_lvl: dict[int, list[int]] = {}
        need: dict[int, int] = {}
        for i in dirty:
            if i >= new_n:
                continue
            for lvl, ns in self.adj[i].items():
                by_lvl.setdefault(lvl, []).append(i)
                if len(ns) > need.get(lvl, 0):
                    need[lvl] = len(ns)
        max_level = max(self.levels) if self.levels else 0
        for lvl in range(max_level + 1):
            if lvl == 0 and skip_level0:
                # the C wave-commit owns pad0 (and python's level-0
                # sets are stale during that regime) — growing or
                # rewriting it here would corrupt the C view
                continue
            pad = self.adj_pad.get(lvl)
            cap = pad.shape[1] if pad is not None else 1
            cap_new = max(cap, need.get(lvl, 0), 1)
            rows = pad.shape[0] if pad is not None else 0
            if pad is None or cap_new > cap or new_n > rows:
                grown = np.full((new_n, cap_new), -1, dtype=np.int32)
                if pad is not None:
                    grown[:rows, :cap] = pad
                pad = grown
                self.adj_pad[lvl] = pad
            adj = self.adj
            for i in by_lvl.get(lvl, ()):
                ns = adj[i].get(lvl)
                pad[i, :] = -1
                if ns:
                    pad[i, : len(ns)] = sorted(ns)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

INDEX_SCHEMA = (
    "partition_id INT, kind STRING, src STRING, level INT, "
    "dsts ARRAY<STRING>, vec ARRAY<FLOAT>, meta MAP<STRING,STRING>"
)
# kind: 'adj'   — src's neighbor list at `level` (compact adjacency row;
#                 one row per vertex per populated level, not per edge —
#                 ~m× fewer rows to shuffle/scan than an edge list)
#       'vertex'— src's top level + its vector (`vec`) + metadata (`meta`)
#       'entry' — the partition's entrypoint id + its level
#       'tomb'  — src is DELETED (tombstone; excluded from results but
#                 still traversable — our divergence from the reference,
#                 which detaches edges and skips deleted vertices during
#                 traversal, index/hnsw.go:183-214,295-297)
#       'config'— the build HnswConfig as JSON in `src` — the analogue of
#                 the reference snapshot's leading config header
#                 (index/hnsw_persistence.go:45-70, index/config.go:150-216).
#                 Search restores it when no explicit config is given and
#                 rejects a space-mismatched explicit config instead of
#                 silently returning wrong neighbors.
# Vertex rows carry the vector AND metadata, exactly like the reference
# snapshot's vertex blocks (id, level, vector, metadata —
# index/hnsw_persistence.go:71-95) — the index is SELF-CONTAINED: search
# scans/shuffles one table instead of cogrouping (vectors ⋈ index),
# halving search-time data motion, and can return the full
# SearchResultItem{id, metadata, score} contract
# (protobuf/proto/search.proto:22-26) without a second join.  Edge
# distances are still not persisted (recomputed; m× less index I/O than
# the reference's edge blocks at :96-117).


def build_index(
    vectors: DataFrame,
    config: HnswConfig | None = None,
    partition_col: str = "partition_id",
    id_col: str = "id",
    vec_col: str = "vector",
    meta_col: str | None = "metadata",
    num_tasks: int | None = None,
) -> DataFrame:
    """Build per-partition HNSW graphs; returns the index as a DataFrame.

    If the input has a ``meta_col`` map column it rides the vertex rows
    (the reference snapshot's vertex blocks carry metadata too,
    index/hnsw_persistence.go:71-95), enabling
    ``search_index(with_metadata=True)`` without joining back to the
    base table.

    One grouped-map task per partition builds that partition's graph
    (the reference's per-partition index, `storage/partition.go:62-81`)
    and emits adjacency/vertex/entry rows.  Levels are assigned
    deterministically from the id hash (see crud.assign_level) so
    rebuilds are reproducible.

    The explicit ``repartition(num_tasks, partition_id)`` pins shuffle
    parallelism: without it AQE coalesces the (byte-wise tiny, but
    compute-heavy) build shuffle into a handful of tasks and the build
    runs nearly serially.  Bytes are a bad proxy for graph-build cost.
    """
    cfg = config or HnswConfig()
    from anndb_spark.operators.crud import assign_level

    has_meta = meta_col is not None and meta_col in vectors.columns
    src = vectors.select(
        F.col(partition_col).alias("partition_id"),
        F.col(id_col).cast("string").alias("id"),
        F.col(vec_col).cast("array<float>").alias("vector"),
        assign_level(F.col(id_col).cast("string"), cfg.m).alias("level"),
        *(
            [F.col(meta_col).alias("meta")]
            if has_meta
            else [F.lit(None).cast("map<string,string>").alias("meta")]
        ),
    )
    spark = vectors.sparkSession
    n_tasks = num_tasks or int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = src.repartition(n_tasks, "partition_id")

    def run(batches):
        # one task may hold several graph partitions (hash collisions);
        # build each independently
        acc: list[pd.DataFrame] = []
        for b in batches:
            acc.append(b)
        if not acc:
            return
        pdf_all = pd.concat(acc, ignore_index=True)
        for pid, pdf in pdf_all.groupby("partition_id", sort=False):
            yield _build_one_graph(int(pid), pdf, cfg)

    return src.mapInPandas(run, schema=INDEX_SCHEMA)


def _build_one_graph(pid: int, pdf: pd.DataFrame, cfg: HnswConfig) -> pd.DataFrame:
    # deterministic build order: sort by id (the batch analogue of the
    # reference's deterministic Raft replay order)
    pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
    ids = pdf["id"].tolist()
    mat = np.array(pdf["vector"].tolist(), dtype=np.float32)
    levels = pdf["level"].astype(int).tolist()
    metas = pdf["meta"].tolist() if "meta" in pdf.columns else [None] * len(ids)
    g = HnswGraph.build(mat, levels, cfg)
    return graph_to_index_rows(g, ids, pid, metas=metas)


def graph_to_index_rows(
    g: HnswGraph, ids: list, pid: int, metas: list | None = None
) -> pd.DataFrame:
    """Serialize an in-memory graph to INDEX_SCHEMA rows (the columnar
    snapshot encoding — vertex/adj/entry/config)."""
    rows = []
    mat = g.vectors
    for i, nbrs in enumerate(g.adj):
        m = metas[i] if metas is not None else None
        m = dict(m) if m is not None else None  # arrow maps arrive as tuples
        rows.append((pid, "vertex", ids[i], g.levels[i], None, mat[i].tolist(), m))
        for lvl, ns in nbrs.items():
            if ns:
                rows.append(
                    (pid, "adj", ids[i], lvl, [ids[n] for n in sorted(ns)], None, None)
                )
    if g.entrypoint >= 0:
        rows.append(
            (pid, "entry", ids[g.entrypoint], g.levels[g.entrypoint], None, None, None)
        )
    rows.append((pid, "config", config_to_json(g.cfg), None, None, None, None))
    return pd.DataFrame(
        rows, columns=["partition_id", "kind", "src", "level", "dsts", "vec", "meta"]
    )


def save_graph_partition(g: HnswGraph, ids: list, path: str, pid: int = 0) -> None:
    """Persist ONE driver-built graph directly into the `save_index`
    serving layout (``path/partition_id=<pid>/``) without a Spark job —
    the single-resident-graph deployment (and the reference-benchmark
    harness shape)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    pdf = graph_to_index_rows(g, ids, pid).drop(columns=["partition_id"])
    part_dir = _os_mod.path.join(path, f"partition_id={pid}")
    _os_mod.makedirs(part_dir, exist_ok=True)
    schema = pa.schema(
        [
            ("kind", pa.string()),
            ("src", pa.string()),
            ("level", pa.int32()),
            ("dsts", pa.list_(pa.string())),
            ("vec", pa.list_(pa.float32())),
            ("meta", pa.map_(pa.string(), pa.string())),
        ]
    )
    pq_mod.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        _os_mod.path.join(part_dir, "part-0.parquet"),
    )


def extend_index(
    index: DataFrame,
    new_vectors: DataFrame,
    config: HnswConfig | None = None,
    partition_col: str = "partition_id",
    id_col: str = "id",
    vec_col: str = "vector",
    meta_col: str | None = "metadata",
) -> DataFrame:
    """Insert a (small) batch into EXISTING per-partition graphs without
    rebuilding them — the reference's online `Insert`
    (`index/hnsw.go:80-140`, proposal path `storage/partition.go:144-167`)
    expressed as a cogrouped transform.

    Per touched partition the task reconstructs the saved graph, thaws
    its adjacency, runs the sequential insert loop for the new rows
    (levels from `crud.assign_level` — identical to what a full rebuild
    would assign), and re-emits the partition's index rows.  Compute is
    O(batch · beam) per partition instead of the rebuild's O(partition ·
    beam); the re-emit is O(partition) parquet WRITE, which is cheap
    next to graph construction.  Ids already present (or tombstoned) in
    the graph are skipped, so changelog replay is idempotent.  Existing
    tombstones ride along unchanged.

    Untouched partitions are NOT emitted — pair with dynamic partition
    overwrite (the streaming maintainer's write mode).
    """
    cfg = config or get_index_config(index) or HnswConfig()
    from anndb_spark.operators.crud import assign_level

    has_meta = meta_col is not None and meta_col in new_vectors.columns
    src = new_vectors.select(
        F.col(partition_col).alias("partition_id"),
        F.col(id_col).cast("string").alias("id"),
        F.col(vec_col).cast("array<float>").alias("vector"),
        assign_level(F.col(id_col).cast("string"), cfg.m).alias("level"),
        *(
            [F.col(meta_col).alias("meta")]
            if has_meta
            else [F.lit(None).cast("map<string,string>").alias("meta")]
        ),
    )

    def extend_one(new_pdf: pd.DataFrame, idx_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(new_pdf):
            # partition untouched by the batch: pass the rows through
            return idx_pdf[
                ["partition_id", "kind", "src", "level", "dsts", "vec", "meta"]
            ] if len(idx_pdf) else pd.DataFrame(
                columns=["partition_id", "kind", "src", "level", "dsts", "vec", "meta"]
            )
        pid = int(new_pdf["partition_id"].iloc[0])
        new_pdf = new_pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        if not len(idx_pdf) or not (idx_pdf["kind"] == "vertex").any():
            return _build_one_graph(pid, new_pdf, cfg)
        ids, g = _graph_from_index(idx_pdf, cfg)
        g.thaw_adjacency()
        known = set(ids)
        fresh = new_pdf[~new_pdf["id"].isin(known)]
        metas = (
            [dict(m) if m is not None else None for m in (g.item_meta or [None] * len(ids))]
        )
        if len(fresh):
            mat = np.array(fresh["vector"].tolist(), dtype=np.float32)
            g.insert_many(mat, fresh["level"].astype(int).tolist())
            ids = ids + fresh["id"].tolist()
            metas += [
                dict(m) if m is not None else None for m in fresh["meta"]
            ]
        out = graph_to_index_rows(g, ids, pid, metas=metas)
        tombs = idx_pdf[idx_pdf["kind"] == "tomb"]
        if len(tombs):
            out = pd.concat([out, tombs[out.columns]], ignore_index=True)
        return out

    cogrouped = src.groupBy("partition_id").cogroup(index.groupBy("partition_id"))
    return cogrouped.applyInPandas(extend_one, schema=INDEX_SCHEMA)


def config_to_json(cfg: HnswConfig) -> str:
    return json.dumps(asdict(cfg), sort_keys=True)


def config_from_json(s: str) -> HnswConfig:
    return HnswConfig(**json.loads(s))


def get_index_config(index: DataFrame) -> HnswConfig | None:
    """Read the persisted build config from an index DataFrame (the
    snapshot config header, index/hnsw_persistence.go:45-70).  Returns
    None for pre-config indexes."""
    rows = index.filter(F.col("kind") == "config").select("src").head(1)
    return config_from_json(rows[0][0]) if rows else None


def _check_config(idx_pdf: pd.DataFrame, cfg: HnswConfig) -> None:
    """Raise if the search config's space disagrees with the index's
    persisted build config (task-side: no extra driver job per search)."""
    crows = idx_pdf[idx_pdf["kind"] == "config"]
    if len(crows):
        stored = json.loads(crows["src"].iloc[0])
        if stored.get("space") != cfg.space:
            raise ValueError(
                f"index was built with space={stored.get('space')!r} but "
                f"search config requests space={cfg.space!r}; pass a "
                "matching config or omit it to use the persisted one"
            )


# Reused-python-worker graph cache: reconstructed graphs survive across
# jobs in the same worker process (spark.python.worker.reuse), so a
# *serving* workload — many search batches over one index — pays
# reconstruction once per (worker, partition), not once per batch.  The
# analogue of the reference keeping its graphs resident in memory
# between requests.  Keyed by caller-supplied token: the caller owns
# versioning (pass a new token after rebuilding the index).
#
# Byte-capped LRU (not a row-count FIFO): pid→worker assignment is
# effectively random per job, so over a serving session each worker
# accumulates the graphs it has served — the cap bounds worker memory,
# sized via ANNDB_GRAPH_CACHE_BYTES (default 1 GiB).
import os as _os_mod
import threading as _threading_mod

# matrices with at least this many elements walk on uint8 codes with an
# exact float32 rerank (ANNDB_QUANT_MIN_ELEMS=0 forces quantization, a
# huge value disables).  Default is conservative: at 47M elements
# (60k×784) the u8→f32 upcast per gathered frontier measurably COSTS
# more than the 4× gather-byte saving on this host class; the win
# appears when the matrix dwarfs the cache hierarchy (≳1 GB).
_QUANT_MIN_ELEMS = int(
    _os_mod.environ.get("ANNDB_QUANT_MIN_ELEMS", str(1 << 28))
)

_GRAPH_CACHE: dict = {}
_GRAPH_CACHE_MAX_BYTES = int(
    _os_mod.environ.get("ANNDB_GRAPH_CACHE_BYTES", str(1 << 30))
)

# Process-level scratch for the brute-search kernels: ONE flat
# capacity buffer per purpose, reused across every graph and batch
# shape (grown monotonically, exact-shape views are contiguous because
# they reshape a flat prefix).  Fresh multi-MB allocations in the hot
# path are the r12 scatter-leg pathology: under 32 concurrent workers
# a first touch of fresh pages stalled for seconds at the tail
# (p90 5.6 s / 25 MB measured, PLANS r12) while reused pages cost
# zero.  Buffers are THREAD-local (ADVICE r12): Spark python workers
# run one task at a time, but a driver-local serve (or an embedder
# calling the graph from a thread pool) may enter concurrently — a
# shared dict would hand two threads the same distance matrix.
#
# Memory bound (ADVICE r12): per thread, one buffer per tag (3 tags),
# each <= max observed (nq x n x 4B) for that tag — outside the
# ANNDB_GRAPH_CACHE_BYTES accounting.  A buffer above
# ANNDB_SCRATCH_CAP_BYTES is released when the next request needs
# under a quarter of it, so one outlier batch cannot pin hundreds of
# MB for process lifetime; steady-state homogeneous batches still
# never reallocate.
_SCRATCH_BUFS = _threading_mod.local()
_SCRATCH_CAP_BYTES = int(
    _os_mod.environ.get("ANNDB_SCRATCH_CAP_BYTES", str(256 << 20))
)


def _scratch_mat(tag: str, rows: int, cols: int) -> np.ndarray:
    bufs = getattr(_SCRATCH_BUFS, "bufs", None)
    if bufs is None:
        bufs = _SCRATCH_BUFS.bufs = {}
    need = rows * cols
    flat = bufs.get(tag)
    if (
        flat is None
        or flat.size < need
        or (flat.nbytes > _SCRATCH_CAP_BYTES and need * 4 < flat.size)
    ):
        flat = np.empty(need, dtype=np.float32)
        bufs[tag] = flat
    return flat[:need].reshape(rows, cols)


def _graph_bytes(g: "HnswGraph") -> int:
    b = g.vectors.nbytes + 16 * len(g.levels)
    for pad in getattr(g, "adj_pad", {}).values():
        b += pad.nbytes
    return b


def _cache_get(key):
    if key is None or key not in _GRAPH_CACHE:
        return None
    val = _GRAPH_CACHE.pop(key)  # re-insert → LRU order
    _GRAPH_CACHE[key] = val
    return val[:2]


def _cache_put(key, ids, g):
    if key is None:
        return
    nb = _graph_bytes(g)
    if nb > _GRAPH_CACHE_MAX_BYTES:
        return
    total = nb + sum(v[2] for v in _GRAPH_CACHE.values())
    while total > _GRAPH_CACHE_MAX_BYTES and _GRAPH_CACHE:
        _, _, old_nb = _GRAPH_CACHE.pop(next(iter(_GRAPH_CACHE)))
        total -= old_nb
    _GRAPH_CACHE[key] = (ids, g, nb)


# ---------------------------------------------------------------------------
# Shared-memory (L2) graph cache: ONE physical copy per host
# ---------------------------------------------------------------------------
# The per-process LRU above gives each python worker a PRIVATE graph copy:
# 32 workers × 200 MB is 6.4 GB of duplicated pages, and the (bandwidth-
# bound) beam kernel's random gathers then miss cache independently in
# every worker.  The L2 layer materializes the finalized graph ONCE into
# /dev/shm as read-only npy files and every worker mmaps them — one
# physical page set shared by all workers on the host (the resident-index
# contract a serving node actually wants).  Writers build into a private
# tmp dir and atomically rename it in; losers of the race just mmap the
# winner's copy.

_SHM_ROOT = _os_mod.environ.get(
    "ANNDB_SHM_CACHE_DIR",
    "/dev/shm/anndb_graphs" if _os_mod.path.isdir("/dev/shm") else "",
)
_SHM_CACHE_MAX_BYTES = int(
    _os_mod.environ.get("ANNDB_SHM_CACHE_BYTES", str(8 << 30))
)


def _shm_dir_for(key) -> str | None:
    if not _SHM_ROOT:
        return None
    import hashlib

    h = hashlib.sha1(repr(key).encode()).hexdigest()[:24]
    return _os_mod.path.join(_SHM_ROOT, h)


def _shm_load(d: str, cfg: "HnswConfig"):
    """mmap a stored graph; returns (ids, graph) or None."""
    import pickle as _pickle

    if not _os_mod.path.exists(_os_mod.path.join(d, "_COMPLETE")):
        return None
    try:
        j = json.loads(open(_os_mod.path.join(d, "meta.json")).read())
        g = HnswGraph(int(j["dim"]), cfg)
        mm = lambda name: np.load(  # noqa: E731
            _os_mod.path.join(d, name), mmap_mode="r"
        )
        g.vectors = mm("vectors.npy")
        g.levels = np.asarray(mm("levels.npy"))
        g.norms2 = mm("norms2.npy")
        g.norms = mm("norms.npy")
        g.entrypoint = int(j["entrypoint"])
        g.adj_pad = {int(lvl): mm(f"pad_{lvl}.npy") for lvl in j["pad_levels"]}
        if j.get("has_deleted"):
            g.deleted = np.asarray(mm("deleted.npy"))
        if j.get("has_quant"):
            g.q_codes = mm("q_codes.npy")
            g.q_scale = np.asarray(mm("q_scale.npy"))
            g.q_min = np.asarray(mm("q_min.npy"))
            g.q_norms2 = mm("q_norms2.npy")
            g.q_norms = mm("q_norms.npy")
        with open(_os_mod.path.join(d, "ids.pkl"), "rb") as f:
            ids = _pickle.load(f)
        mp = _os_mod.path.join(d, "meta.pkl")
        if _os_mod.path.exists(mp):
            with open(mp, "rb") as f:
                g.item_meta = _pickle.load(f)
        _os_mod.utime(d)  # LRU touch
        return ids, g
    except Exception:
        return None


def _shm_store(key, ids, g: "HnswGraph") -> str | None:
    """Write the finalized graph into /dev/shm (atomic dir rename)."""
    import pickle as _pickle
    import shutil

    d = _shm_dir_for(key)
    if d is None:
        return None
    if _os_mod.path.exists(_os_mod.path.join(d, "_COMPLETE")):
        return d
    # single-storer lock: without it every cold worker writes its own
    # multi-hundred-MB copy at once — the tmp dirs blow the byte cap and
    # the evictor tears down entries (including the winner's) mid-write,
    # so the cache converges only after several thrashy calls (measured)
    lock = f"{d}.lock"
    acquired = False
    for _attempt in range(2):
        try:
            _os_mod.makedirs(_os_mod.path.dirname(d), exist_ok=True)
            fd = _os_mod.open(
                lock, _os_mod.O_CREAT | _os_mod.O_EXCL | _os_mod.O_WRONLY
            )
            _os_mod.close(fd)
            acquired = True
            break
        except FileExistsError:
            try:
                import time as _t

                if _t.time() - _os_mod.path.getmtime(lock) > 600:
                    # stale lock from a killed storer: unlink and retry
                    # the O_CREAT|O_EXCL acquisition once, so the first
                    # batch after a crash still stores (ADVICE r5)
                    _os_mod.unlink(lock)
                    continue
                return None  # live storer in progress; keep private graph
            except OSError:
                return None
        except OSError:
            return None
    if not acquired:
        return None
    tmp = f"{d}.tmp.{_os_mod.getpid()}"
    try:
        _os_mod.makedirs(tmp, exist_ok=True)
        np.save(_os_mod.path.join(tmp, "vectors.npy"), np.asarray(g.vectors))
        np.save(
            _os_mod.path.join(tmp, "levels.npy"),
            np.asarray(g.levels, dtype=np.int32),
        )
        np.save(_os_mod.path.join(tmp, "norms2.npy"), np.asarray(g.norms2))
        np.save(_os_mod.path.join(tmp, "norms.npy"), np.asarray(g.norms))
        for lvl, pad in g.adj_pad.items():
            np.save(_os_mod.path.join(tmp, f"pad_{lvl}.npy"), pad)
        if g.deleted is not None:
            np.save(_os_mod.path.join(tmp, "deleted.npy"), g.deleted)
        if (
            g.deleted is None
            and g.cfg.space != "manhattan"
            and len(g.levels) * g.dim >= _QUANT_MIN_ELEMS
        ):
            g.quantize()  # share the traversal codes host-wide too
        has_quant = getattr(g, "q_codes", None) is not None
        if has_quant:
            np.save(_os_mod.path.join(tmp, "q_codes.npy"), np.asarray(g.q_codes))
            np.save(_os_mod.path.join(tmp, "q_scale.npy"), g.q_scale)
            np.save(_os_mod.path.join(tmp, "q_min.npy"), g.q_min)
            np.save(
                _os_mod.path.join(tmp, "q_norms2.npy"), np.asarray(g.q_norms2)
            )
            np.save(_os_mod.path.join(tmp, "q_norms.npy"), np.asarray(g.q_norms))
        with open(_os_mod.path.join(tmp, "ids.pkl"), "wb") as f:
            _pickle.dump(ids, f, protocol=4)
        if g.item_meta is not None:
            with open(_os_mod.path.join(tmp, "meta.pkl"), "wb") as f:
                _pickle.dump(g.item_meta, f, protocol=4)
        with open(_os_mod.path.join(tmp, "meta.json"), "w") as f:
            f.write(
                json.dumps(
                    {
                        "dim": g.dim,
                        "entrypoint": g.entrypoint,
                        "pad_levels": sorted(g.adj_pad),
                        "has_deleted": g.deleted is not None,
                        "has_quant": has_quant,
                    }
                )
            )
        open(_os_mod.path.join(tmp, "_COMPLETE"), "w").close()
        try:
            _os_mod.rename(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        _shm_evict()
        return d
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        return None
    finally:
        try:
            _os_mod.unlink(lock)
        except OSError:
            pass


def _shm_evict() -> None:
    """Drop oldest cached graphs once the root exceeds the byte cap."""
    import shutil

    import time as _t

    try:
        now = _t.time()
        dirs = []
        for name in _os_mod.listdir(_SHM_ROOT):
            p = _os_mod.path.join(_SHM_ROOT, name)
            # in-flight tmp dirs belong to a concurrent storer; deleting
            # them mid-write corrupts its store (and they vanish on
            # rename anyway)
            if not _os_mod.path.isdir(p) or ".tmp." in name:
                continue
            size = sum(
                _os_mod.path.getsize(_os_mod.path.join(p, f))
                for f in _os_mod.listdir(p)
            )
            dirs.append((_os_mod.path.getmtime(p), size, p))
        total = sum(s for _, s, _ in dirs)
        for mtime, size, p in sorted(dirs):
            if total <= _SHM_CACHE_MAX_BYTES:
                break
            if now - mtime < 120:
                continue  # grace: never evict a just-stored graph
            shutil.rmtree(p, ignore_errors=True)
            total -= size
    except OSError:
        pass


def _graph_from_index(
    idx_pdf: pd.DataFrame,
    cfg: "HnswConfig",
    vec_pdf: pd.DataFrame | None = None,
    need_adj: bool = True,
):
    """Reconstruct (ids, HnswGraph) from index rows; vectors come from the
    index's own vertex rows (self-contained) unless ``vec_pdf`` given.

    Vertex metadata (when present) is attached as ``g.item_meta`` and
    'tomb' rows become the ``g.deleted`` mask — deleted vertices stay
    traversable but are excluded from results.  (Intentional divergence:
    the reference skips deleted vertices during traversal and detaches
    their edges in Remove, index/hnsw.go:183-214,295-297; keeping them
    traversable here preserves graph connectivity between rebuilds.)

    Adjacency parsing is fully vectorized (pandas get_indexer + one
    scatter per level — no per-row Python); ``need_adj=False`` skips it
    entirely for brute-strategy searches, which only need the vector
    matrix — that makes cache-miss reconstruction ~free for the
    partition-pruned IVF shape."""
    _check_config(idx_pdf, cfg)
    vrows = idx_pdf[idx_pdf["kind"] == "vertex"]
    if vec_pdf is not None:
        ids = vec_pdf["id"].tolist()
        vecs = np.array(vec_pdf["vector"].tolist(), dtype=np.float32)
        pos_index = pd.Index(ids)
        levels = np.zeros(len(ids), dtype=np.int32)
        levels[pos_index.get_indexer(vrows["src"])] = vrows["level"].to_numpy()
    else:
        ids = vrows["src"].tolist()
        vecs = np.array(vrows["vec"].tolist(), dtype=np.float32)
        pos_index = pd.Index(ids)
        levels = vrows["level"].to_numpy(dtype=np.int32)
    n = len(ids)
    if vecs.ndim == 1:  # zero vertices → (0, 0) matrix, empty graph
        vecs = vecs.reshape(0, 0)
    g = HnswGraph(vecs.shape[1], cfg)
    g.vectors = vecs
    g.levels = levels.tolist()
    if vec_pdf is None and "meta" in idx_pdf.columns:
        g.item_meta = [
            dict(m) if m is not None else None for m in vrows["meta"]
        ]  # arrow maps arrive as key/value tuples
    trows = idx_pdf[idx_pdf["kind"] == "tomb"]
    if len(trows):
        deleted = np.zeros(n, dtype=bool)
        tsel = pos_index.get_indexer(trows["src"])
        deleted[tsel[tsel >= 0]] = True
        g.deleted = deleted
    g.adj_pad = {}
    if need_adj:
        from itertools import chain

        adj_rows = idx_pdf[idx_pdf["kind"] == "adj"]
        for lvl, grp in adj_rows.groupby("level", sort=False):
            srcs = pos_index.get_indexer(grp["src"])
            dl = grp["dsts"].tolist()
            lens = np.fromiter((len(d) for d in dl), dtype=np.int64, count=len(dl))
            flat = list(chain.from_iterable(dl))
            dst_idx = pos_index.get_indexer(flat).astype(np.int32)
            # a -1 from get_indexer means an adjacency row references an
            # id with no vertex row — a corrupt or drifted index; the
            # scatter below would silently write into the wrong row /
            # leave the -1 padding sentinel as a neighbor (ADVICE r4)
            if (srcs < 0).any() or (dst_idx < 0).any():
                bad = (
                    grp["src"][srcs < 0].iloc[0]
                    if (srcs < 0).any()
                    else next(f for f, ix in zip(flat, dst_idx) if ix < 0)
                )
                raise ValueError(
                    f"corrupt index: adjacency at level {lvl} references "
                    f"id {bad!r} with no vertex row"
                )
            cap = int(lens.max()) if len(lens) else 1
            mat = np.full((n, max(cap, 1)), -1, dtype=np.int32)
            if len(lens):
                rows = np.repeat(srcs, lens)
                ends = np.cumsum(lens)
                cols = np.arange(int(ends[-1])) - np.repeat(ends - lens, lens)
                mat[rows, cols] = dst_idx
            g.adj_pad[int(lvl)] = mat
        for lvl in range(int(levels.max(initial=0)) + 1):
            g.adj_pad.setdefault(lvl, np.full((n, 1), -1, dtype=np.int32))
    erow = idx_pdf[idx_pdf["kind"] == "entry"]
    if len(erow) and n:
        g.entrypoint = int(pos_index.get_indexer(erow["src"].iloc[:1])[0])
        if g.entrypoint < 0:
            raise ValueError(
                f"corrupt index: entrypoint {erow['src'].iloc[0]!r} has "
                "no vertex row"
            )
    else:
        # vertex-less partition (e.g. fully-deleted then rebuilt): a
        # valid empty graph — searches return nothing
        g.entrypoint = -1
    g.norms2 = np.einsum("ij,ij->i", g.vectors, g.vectors, dtype=np.float32)
    g.norms = np.sqrt(g.norms2)
    return ids, g


def tombstone_rows(
    index: DataFrame, ids: DataFrame | list, id_col: str = "id"
) -> DataFrame:
    """The fresh 'tomb' rows a delete of ``ids`` adds to ``index`` —
    routed to their partitions via the vertex rows (a broadcast-sized
    join for any sane delete batch), minus already-tombstoned ids
    (idempotent re-delete)."""
    spark = index.sparkSession
    if isinstance(ids, list):
        ids = spark.createDataFrame([(str(i),) for i in ids], "id STRING")
        id_col = "id"
    keys = ids.select(F.col(id_col).cast("string").alias("src")).distinct()
    verts = index.filter(F.col("kind") == "vertex").select("partition_id", "src")
    tombs = verts.join(keys, "src").select(
        "partition_id",
        F.lit("tomb").alias("kind"),
        "src",
        F.lit(None).cast("int").alias("level"),
        F.lit(None).cast("array<string>").alias("dsts"),
        *([F.lit(None).cast("array<float>").alias("vec")] if "vec" in index.columns else []),
        *(
            [F.lit(None).cast("map<string,string>").alias("meta")]
            if "meta" in index.columns
            else []
        ),
    )
    existing = index.filter(F.col("kind") == "tomb")
    return tombs.join(
        existing.select(F.col("src").alias("_t")), tombs["src"] == F.col("_t"), "left_anti"
    ).drop("_t")


def delete_from_index(
    index: DataFrame, ids: DataFrame | list, id_col: str = "id"
) -> DataFrame:
    """Tombstone deletes — no graph rebuild.

    The reference's `Remove` (index/hnsw.go:164-214) tombstones the
    vertex and detaches edges; its searches then skip deleted vertices
    entirely (index/hnsw.go:295-297).  We intentionally diverge: a
    delete appends one 'tomb' row per deleted id (see `tombstone_rows`);
    the graph stays untouched and every search kernel filters tombstones
    from results while still walking THROUGH them — edges are never
    detached, so connectivity survives heavy churn between rebuilds.
    Rebuild a partition only when its tombstone
    fraction crosses a threshold (see `tombstone_stats` and the
    streaming maintainer).
    """
    fresh = tombstone_rows(index, ids, id_col)
    return index.unionByName(fresh.select(*index.columns))


def tombstone_stats(index: DataFrame) -> DataFrame:
    """(partition_id, n_vertices, n_tombstones, tombstone_fraction) —
    the rebuild-decision input (the compaction-threshold analogue of the
    reference's snapshotOffset, storage/raft/group.go:275-300)."""
    counts = (
        index.filter(F.col("kind").isin("vertex", "tomb"))
        .groupBy("partition_id")
        .agg(
            F.sum(F.when(F.col("kind") == "vertex", 1).otherwise(0)).alias("n_vertices"),
            F.sum(F.when(F.col("kind") == "tomb", 1).otherwise(0)).alias("n_tombstones"),
        )
    )
    return counts.withColumn(
        "tombstone_fraction",
        F.col("n_tombstones") / F.greatest(F.col("n_vertices"), F.lit(1)),
    )


def _use_brute(
    strategy: str, n: int, nq: int, dim: int, threshold: float
) -> bool:
    """The one brute-vs-beam rule under every server.

    'brute' and 'beam' force a kernel.  'auto' scans exactly when the
    n·|Q|·d flops of one partition's GEMM fall under ``threshold``
    (small fine-partitions after coarse pruning — the IVF shape — where
    brute is both faster and exact) and walks the graph otherwise (at
    100 TB per-partition n is millions and beam always wins)."""
    return strategy == "brute" or (
        strategy == "auto" and n * nq * dim <= threshold
    )


def _parse_queries(queries, dim: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """A query batch → (query-id strings, float32 (nq, dim) matrix).

    Accepts ``[(query_id, vector)]`` or the zero-copy ``(ids, matrix)``
    form for large batches.  An empty batch parses to a (0, dim) matrix
    (``np.array([])`` is (0,), which no distance kernel can multiply);
    callers that route by centroids pass their width."""
    if isinstance(queries, tuple):
        qids, qmat = queries
        qmat = np.ascontiguousarray(qmat, dtype=np.float32)
    else:
        qids = [qid for qid, _ in queries]
        qmat = np.array([v for _, v in queries], dtype=np.float32)
    qid_arr = np.array([str(q) for q in qids], dtype=object)
    if not len(qid_arr):
        qmat = np.empty((0, dim), dtype=np.float32)
    return qid_arr, qmat


def _route_queries(
    qmat: np.ndarray, centroids, nprobe: int, space: str
) -> dict[int, list[int]]:
    """IVF routing on the driver (a |Q|×K distance matrix over the
    small centroid array): {cell id: [query rows]} for each query's
    ``nprobe`` nearest cells, rows ascending."""
    from anndb_spark.operators.ivf import _pairwise

    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    npb = min(nprobe, cent.shape[0])
    d = _pairwise(qmat.astype(np.float64), cent, space)
    probes = np.argpartition(d, min(npb - 1, d.shape[1] - 1), axis=1)[:, :npb]
    by_pid: dict[int, list[int]] = {}
    for qi, ps in enumerate(probes):
        for p in ps:
            by_pid.setdefault(int(p), []).append(qi)
    return by_pid


def _result_layout(with_rank: bool, with_metadata: bool) -> tuple[list[str], str]:
    """Column names and DDL of a search result; ``rank`` is present
    where ranks are final in-task (one graph per query)."""
    types = {
        "query_id": "STRING",
        "rank": "INT",
        "id": "STRING",
        "score": "FLOAT",
        "metadata": "MAP<STRING,STRING>",
    }
    cols = [
        c
        for c in types
        if (c != "rank" or with_rank) and (c != "metadata" or with_metadata)
    ]
    return cols, ", ".join(f"{c} {types[c]}" for c in cols)


def _assemble_hits(qids, hits, ids, g, with_metadata: bool, columns=None, arrow=False):
    """The one result assembler: one kernel call's ``(ids, dists)``
    over the query batch ``qids`` → the columns ``query_id, rank, id,
    score[, metadata]``, one row per non-pad hit in (query, rank)
    order.  Pads are a row suffix, so a hit's rank is its column + 1 —
    final for a single graph, partial before a multi-graph merge.
    ``id`` and ``metadata`` index the graph's id list and
    ``g.item_meta``.

    Task paths get pandas (``columns`` picks the output layout).  The
    local path gets Arrow (``arrow=True``), the cheap half of the
    driver↔JVM hop: `createDataFrame(pa.Table)` skips the pandas→Arrow
    conversion AND lands on Spark's LocalRelation fast path (measured
    0.14 → 0.10 s for 100k result rows), and `search_index_local`
    returns the table as-is.  Its string columns are built by Arrow
    ``take`` over small dictionaries — the graph's id array (converted
    once per resident graph, cached on it) and the call's query ids —
    instead of fancy-indexing object arrays and re-converting 100k
    python strings per call (measured: that assembly cost MORE than the
    10k-query kernel walk itself on a 1M-row graph)."""
    hit_ids, hit_d = hits
    valid = hit_ids >= 0
    qrow, col = np.nonzero(valid)
    nid = hit_ids[valid]
    rank = (col + 1).astype(np.int32)
    score = hit_d[valid]
    meta = None
    if with_metadata:
        im = g.item_meta
        meta = [im[i] for i in nid] if im is not None else [None] * len(nid)
    if not arrow:
        data = {
            "query_id": qids[qrow],
            "rank": rank,
            "id": np.asarray(ids, dtype=object)[nid],
            "score": score,
        }
        if with_metadata:
            # object dtype even when empty (pandas types an empty list float64)
            data["metadata"] = pd.Series(meta, dtype=object)
        return pd.DataFrame(data, columns=columns)
    import pyarrow as pa

    pa_ids = getattr(g, "_pa_ids", None)
    if pa_ids is None or len(pa_ids) != len(ids):
        pa_ids = pa.array(ids, type=pa.string())
        try:
            g._pa_ids = pa_ids  # graph↔ids pairing is stable per cache entry
        except AttributeError:
            pass
    arrays = [
        pa.array(qids, type=pa.string()).take(pa.array(qrow)),
        pa.array(rank, type=pa.int32()),
        pa_ids.take(pa.array(nid)),
        pa.array(score, type=pa.float32()),
    ]
    if with_metadata:
        arrays.append(pa.array(meta, type=pa.map_(pa.string(), pa.string())))
    return pa.Table.from_arrays(
        arrays, names=_result_layout(True, with_metadata)[0]
    )


def _merge_topk(partials: DataFrame, k: int, with_metadata: bool) -> DataFrame:
    """Global gather: top-k per query over per-graph partials, ties
    broken by id (the reference's final merge, `storage/dataset.go:374-387`)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").asc(), F.col("id").asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*_result_layout(True, with_metadata)[0])
    )


def search_index(
    index: DataFrame,
    vectors: DataFrame | None,
    queries: list[tuple[object, list[float]]],
    k: int,
    ef: int | None = None,
    config: HnswConfig | None = None,
    partition_col: str = "partition_id",
    id_col: str = "id",
    vec_col: str = "vector",
    strategy: str = "auto",
    brute_flops_threshold: float = 1e8,
    cache_token: str | None = None,
    with_metadata: bool = False,
) -> DataFrame:
    """ANN top-k over the materialized index.

    With a self-contained index (vertex rows carry vectors — the default
    since the index embeds them like the reference snapshot's vertex
    blocks), search is ONE grouped scan of the index: no cogroup, no
    second table, half the shuffle.  ``vectors`` may be None then; a
    legacy vector-less index falls back to cogrouping (vectors ⋈ index).
    Either way: per-partition search → partial top-k → global window
    top-k, the reference's scatter/gather (`storage/dataset.go:374-431`).

    ``strategy``: 'beam' (HNSW greedy descent + beam over the finalized
    graph), 'brute' (exact blocked-GEMM scoring of the whole partition)
    or 'auto' (`_use_brute` against ``brute_flops_threshold``).

    ``queries``: [(query_id, vector)] — broadcast in the task closure.
    ``cache_token``: stable string enabling the reused-worker graph
    cache for serving workloads; pass a NEW token whenever the index is
    rebuilt (stale tokens would serve the old graph).

    ``config=None`` restores the config persisted in the index (the
    snapshot header); an explicit config whose space disagrees with the
    persisted one raises instead of silently mis-scoring.
    """
    cfg = config or get_index_config(index) or HnswConfig()
    qid_arr, qmat = _parse_queries(queries)
    return _search_grouped(
        index, vectors, qid_arr, qmat, None, k, max(ef or cfg.ef, k), cfg,
        strategy, brute_flops_threshold, cache_token, with_metadata,
        partition_col, id_col, vec_col,
    )


def _search_grouped(
    index: DataFrame,
    vectors: DataFrame | None,
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    by_pid: dict[int, list[int]] | None,
    k: int,
    ef: int,
    cfg: HnswConfig,
    strategy: str,
    brute_flops_threshold: float,
    cache_token: str | None,
    with_metadata: bool,
    partition_col: str = "partition_id",
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """The grouped body of `search_index` and `search_index_routed`: one
    task per index partition searches that graph for every query (or,
    routed, only the query rows ``by_pid`` sends to it), then
    `_merge_topk` keeps the global top k."""
    out_cols, out_ddl = _result_layout(False, with_metadata)

    def run_graph(pid, idx_pdf: pd.DataFrame, vec_pdf=None) -> pd.DataFrame:
        qsel = None if by_pid is None else by_pid.get(int(pid))
        if not len(idx_pdf) or (by_pid is not None and not qsel):
            return pd.DataFrame(columns=out_cols)
        key = (cache_token, int(pid)) if cache_token is not None else None
        hit = _cache_get(key)
        if hit is None:
            hit = _graph_from_index(idx_pdf, cfg, vec_pdf)
            _cache_put(key, *hit)
        ids, g = hit
        sub, sub_qids = (
            (qmat, qid_arr) if qsel is None else (qmat[qsel], qid_arr[qsel])
        )
        if _use_brute(strategy, len(ids), len(sub), g.dim, brute_flops_threshold):
            hits = g.search_brute(sub, k)
        else:
            hits = g.search_fast_batch(sub, k, ef)
        return _assemble_hits(sub_qids, hits, ids, g, with_metadata, out_cols)

    if "vec" in index.columns:

        def search_self(key, idx_pdf: pd.DataFrame) -> pd.DataFrame:
            return run_graph(key[0], idx_pdf)

        partials = index.groupBy("partition_id").applyInPandas(
            search_self, schema=out_ddl
        )
    else:
        if vectors is None:
            raise ValueError("legacy vector-less index requires the vectors DataFrame")
        if with_metadata:
            raise ValueError(
                "with_metadata requires a self-contained index (vertex rows "
                "carry metadata); rebuild the index or join metadata externally"
            )
        vsrc = vectors.select(
            F.col(partition_col).alias("partition_id"),
            F.col(id_col).cast("string").alias("id"),
            F.col(vec_col).cast("array<float>").alias("vector"),
        )

        def search_one(vec_pdf: pd.DataFrame, idx_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(vec_pdf):
                return pd.DataFrame(columns=out_cols)
            return run_graph(vec_pdf["partition_id"].iloc[0], idx_pdf, vec_pdf)

        cogrouped = vsrc.groupBy("partition_id").cogroup(
            index.groupBy("partition_id")
        )
        partials = cogrouped.applyInPandas(search_one, schema=out_ddl)
    return _merge_topk(partials, k, with_metadata)


def search_index_routed(
    index: DataFrame,
    queries: list[tuple[object, list[float]]],
    k: int,
    centroids,
    nprobe: int = 8,
    ef: int | None = None,
    config: HnswConfig | None = None,
    strategy: str = "auto",
    brute_flops_threshold: float = 1e8,
    cache_token: str | None = None,
    with_metadata: bool = False,
) -> DataFrame:
    """Cluster-routed ANN search — the IVF×HNSW hybrid, the 100 TB shape.

    Build the index over *cluster-assigned* vectors
    (`ivf.assign_clusters` → `build_index(partition_col='cluster_id')`)
    so each graph partition is a coarse k-means cell; then each query
    beam-searches only its ``nprobe`` nearest cells' graphs instead of
    every partition.  Per-query work drops from P graph walks (the flat
    `search_index` scatter, `storage/dataset.go:390-432`) to nprobe —
    and because only probed partitions are scanned, an index persisted
    ``partitionBy(partition_id)`` turns routing into parquet partition
    pruning: nprobe/P of the index bytes are read.

    Routing runs on the driver (`_route_queries`); the pruned index then
    runs `search_index`'s grouped body, each task searching only its
    partition's query rows.  Recall is governed by nprobe exactly like
    IVF (`ivf.search_ivf`), on top of the per-graph beam's ef.
    ``nprobe >= n_clusters`` degrades to the flat scatter.
    """
    if "vec" not in index.columns:
        raise ValueError("routed search requires a self-contained index (vec column)")
    cfg = config or get_index_config(index) or HnswConfig()
    qid_arr, qmat = _parse_queries(queries, np.shape(centroids)[1])
    by_pid = _route_queries(qmat, centroids, nprobe, cfg.space)
    # scan-time pruning: only probed partitions are read at all
    pruned = index.filter(F.col("partition_id").isin(sorted(by_pid)))
    return _search_grouped(
        pruned, None, qid_arr, qmat, by_pid, k, max(ef or cfg.ef, k), cfg,
        strategy, brute_flops_threshold, cache_token, with_metadata,
    )


# Driver-local serving declines a brute scan above this many flops: a
# big exact scan is COMPUTE-bound, not launch-bound — the task plan
# chunks it across workers (one BLAS call per core) while the driver's
# BLAS is pinned to one thread.
_LOCAL_BRUTE_FLOPS_MAX = 5e8


def _acquire_partition_graph(
    path: str,
    pid,
    cfg: "HnswConfig",
    strategy: str,
    brute_flops_threshold: float,
    cache_token: str | None,
    index_ver: str | None,
    n_sub: int,
):
    """Graph acquisition for one saved partition, with the full cache
    ladder: L1 (process dict, LRU by bytes) → L2 (host-shared /dev/shm
    mmap — one physical page set for every worker on the host) →
    parquet read.  Returns (ids, graph, use_brute), use_brute being
    `_use_brute` for a batch of ``n_sub`` queries.  Shared by the batch
    serving task and driver-local serving (`search_index_path`) and the
    streaming query transform (`streaming.search`)."""
    from anndb_spark.sources import fsutil as _fsu

    # a full-graph cache entry serves both strategies; a brute-only
    # (adjacency-free) one is keyed separately
    full_key = (
        (cache_token, index_ver, pid) if cache_token is not None else None
    )
    hit = _cache_get(full_key)
    if hit is None and full_key is not None:
        d = _shm_dir_for(full_key)
        if d is not None:
            got = _shm_load(d, cfg)
            if got is not None:
                _cache_put(full_key, *got)
                hit = got
    if hit is not None:
        ids, g = hit
        return ids, g, _use_brute(
            strategy, len(ids), n_sub, g.dim, brute_flops_threshold
        )
    bkey = (
        (cache_token, index_ver, pid, "brute")
        if cache_token is not None
        else None
    )
    # brute-only (adjacency-free) entry: checked BEFORE the parquet
    # read.  The r12 scatter-leg finding (PLANS r12): this check used
    # to sit after `read_parquet_dir(...).to_pandas()`, so every
    # brute-strategy serving call re-read and re-converted the whole
    # partition — per-call index bytes the serving contract promises
    # to pay once, and a per-call allocation storm that a fault-slow
    # host stretched into the BENCH_r11 hnsw_search_1kq 6x tail (the
    # beam path, whose full-graph entry short-circuits above, stayed
    # at 1.3 s on the same boots).  A cached brute graph carries the
    # same (n, dim) the auto-threshold test needs; if auto resolves to
    # beam for this batch size, fall through to the full read.
    bhit = _cache_get(bkey)
    if bhit is not None:
        ids, g = bhit
        if _use_brute(strategy, len(ids), n_sub, g.dim, brute_flops_threshold):
            return ids, g, True
    idx_pdf = _fsu.read_parquet_dir(
        _fsu.join(path, f"partition_id={pid}")
    ).to_pandas()
    verts = idx_pdf.loc[idx_pdf["kind"] == "vertex", "vec"]
    dim = len(verts.iloc[0]) if len(verts) else 0
    if _use_brute(strategy, len(verts), n_sub, dim, brute_flops_threshold):
        ids, g = _graph_from_index(idx_pdf, cfg, need_adj=False)
        _cache_put(bkey, ids, g)
        return ids, g, True
    ids, g = _graph_from_index(idx_pdf, cfg)
    if full_key is not None:
        # publish to L2, then serve from the SHARED pages (drops this
        # worker's private copy)
        d = _shm_store(full_key, ids, g)
        if d is not None:
            got = _shm_load(d, cfg)
            if got is not None:
                ids, g = got
    _cache_put(full_key, ids, g)
    return ids, g, False


def _serve_single_graph_local(
    path: str,
    pid: int,
    cfg: "HnswConfig",
    strategy: str,
    brute_flops_threshold: float,
    cache_token: str | None,
    index_ver,
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    k: int,
    ef: int,
    with_metadata: bool,
    chunk_q: int,
) -> "pa.Table | None":
    """Driver-local serving of a ONE-partition saved index; returns an
    Arrow table, or None when it declines a brute scan over
    ``_LOCAL_BRUTE_FLOPS_MAX`` (the caller then runs the task plan).

    When the whole index is a single graph, a Spark job buys nothing:
    the measured per-job fixed wall on this mode (~0.5-0.65 s noop +
    ~12 ms/task) is ~10x the compiled kernel's cost for a 10k-query
    batch (~0.09 ms/query/core).  This is the reference benchmark's own
    shape — one resident graph searched in-process
    (`cmd/benchmark/ann-benchmark/main.go:279-307`) — so the graph comes
    from the same `_acquire_partition_graph` cache ladder the workers
    use (publishing to it, so a later multi-partition job finds the
    graph warm) and is searched by `HnswGraph.search_fast_batch` with an
    OpenMP thread per core.

    Multi-partition / routed indexes never take this path: there the
    graphs live on executors by design and the task plan is the scale
    path.  Results are bit-identical to the task path (same kernel, same
    per-chunk brute/beam resolution) — pytest-enforced.
    """
    nq = len(qmat)
    # brute/beam resolution must match the task path, which decides per
    # query-chunk of (at most) queries_per_task rows — use the same
    # chunk size so "auto" lands on the same strategy
    ids, g, use_brute = _acquire_partition_graph(
        path, pid, cfg, strategy, brute_flops_threshold, cache_token,
        index_ver, min(chunk_q, nq),
    )
    if use_brute and len(ids) * nq * g.dim > _LOCAL_BRUTE_FLOPS_MAX:
        # local serving exists for the beam case, whose OpenMP kernel
        # owns the machine; a big exact scan goes to the task plan
        return None
    if use_brute:
        hits = g.search_brute(qmat, k)
    else:
        hits = g.search_fast_batch(qmat, k, ef, threads=_os_mod.cpu_count() or 1)
    return _assemble_hits(qid_arr, hits, ids, g, with_metadata, arrow=True)


def _path_prologue(spark, path, queries, k, ef, config, cache_token, dim=0):
    """Driver prologue of the saved-index servers (`search_index_path`,
    `search_index_local`): (config, ef, partition ids, index content
    fingerprint, query ids, query matrix)."""
    from anndb_spark.sources import fsutil

    cfg = config or get_index_config(load_index(spark, path)) or HnswConfig()
    # partition discovery through pyarrow.fs: plain paths, file://,
    # s3://, hdfs:// — not a shared-local-FS assumption (ADVICE r4)
    pids = fsutil.list_partition_values(path, "partition_id=")
    # cache keys carry the index CONTENT fingerprint: the host-shared
    # /dev/shm graph cache outlives the Spark session, so a bare
    # (token, pid) key would silently serve a graph stored by a
    # PREVIOUS index version under the same token (measured: a
    # cluster-routed index re-trained across runs answered probes with
    # the prior run's cells — recall degraded to ~nprobe/n_cells)
    index_ver = (
        fsutil.index_fingerprint(path) if cache_token is not None else None
    )
    return (cfg, max(ef or cfg.ef, k), pids, index_ver, *_parse_queries(queries, dim))


def search_index_path(
    spark,
    path: str,
    queries: list[tuple[object, list[float]]],
    k: int,
    ef: int | None = None,
    config: HnswConfig | None = None,
    strategy: str = "auto",
    brute_flops_threshold: float = 1e8,
    cache_token: str | None = None,
    with_metadata: bool = False,
    centroids=None,
    nprobe: int = 0,
    queries_per_task: int | None = None,
    locality_centroids=None,
) -> DataFrame:
    """Serving-shape ANN search over a SAVED index (`save_index` path).

    `search_index` ships the index DataFrame through a shuffle + Arrow
    conversion on EVERY call — at 784-d that transfer dwarfs the actual
    graph walk (~10× the kernel time).  Here the plan parallelizes over
    *partition ids* (one row per graph partition, round-robin → one task
    each); every task column-reads its own partition's parquet directly
    and caches the reconstructed graph in the reused python worker, so a
    warm serving workload pays ZERO index bytes per query batch — the
    same resident-graph contract the reference's nodes have
    (`storage/partition.go`: graphs live in memory, storage is only read
    on start/restore).  The query batch ships as a broadcast (once per
    executor), never in per-task closures.

    A ONE-partition index without routing is served driver-locally
    (`_serve_single_graph_local`: no job launch, same kernel and
    caches), except a brute scan over the local cap, which runs the
    task plan.

    With ``centroids`` + ``nprobe`` the query set is routed first (the
    IVF×HNSW hybrid): only probed partitions appear in the plan at all
    (the parquet directories of unprobed partitions are never listed to
    tasks), and each task searches only its queries — per-query work is
    nprobe graph walks.

    ``path`` may be a plain path or any URI pyarrow.fs can mount
    (``file://``, ``s3://``, ``hdfs://`` with libhdfs): discovery and
    task-side reads both go through the filesystem API, so driver and
    executors need no shared local filesystem.

    Results are identical to `search_index` / `search_index_routed` on
    the same saved index (pytest-verified).
    """
    routed = centroids is not None and nprobe > 0
    cents = centroids if routed else locality_centroids
    cfg, ef, all_pids, index_ver, qid_arr, qmat = _path_prologue(
        spark, path, queries, k, ef, config, cache_token,
        dim=0 if cents is None else np.shape(cents)[1],
    )
    by_pid = _route_queries(qmat, centroids, nprobe, cfg.space) if routed else None
    pids = all_pids if by_pid is None else [p for p in all_pids if p in by_pid]
    # ONE graph partition → every query is answered completely by its
    # single graph: ranks are final in-task and the global top-k Window
    # (a shuffle) is skipped entirely — the single-graph serving fast
    # path (the reference benchmark's one-resident-graph shape,
    # cmd/benchmark/ann-benchmark/main.go:279-307)
    single_graph = len(pids) == 1 and by_pid is None
    if locality_centroids is not None and by_pid is None and not single_graph:
        # order the batch by coarse cell BEFORE chunking: each task's
        # queries then walk the SAME region of the graph, shrinking the
        # random-gather working set (the bandwidth-bound kernel's real
        # cost) from the whole matrix to a cluster's worth.  Pure
        # reordering — results are per-query, order-independent.  (The
        # local path seed-sorts internally.)
        from anndb_spark.operators.ivf import _pairwise

        lc = np.ascontiguousarray(locality_centroids, dtype=np.float64)
        assign = _pairwise(qmat.astype(np.float64), lc, cfg.space).argmin(axis=1)
        order = np.argsort(assign, kind="stable")
        qmat = np.ascontiguousarray(qmat[order])
        qid_arr = qid_arr[order]
    out_cols, out_ddl = _result_layout(single_graph, with_metadata)
    # task layout: (pid, query-chunk) rows, round-robin.  Chunking the
    # query set per partition breaks the one-task-per-partition
    # straggler bound — skewed cluster cells (and the lock-step beam's
    # slowest-query tail) stop gating the whole job; the graph cache
    # makes the extra per-task reconstruction cheap.
    n_q = qmat.shape[0]
    per_pid = {
        p: (len(by_pid[p]) if by_pid is not None else n_q) for p in pids
    }
    if queries_per_task is None:
        total = sum(per_pid.values())
        par = spark.sparkContext.defaultParallelism
        # aim for ~one chunk per partition once partitions cover half
        # the cores: each task launch costs ~12 ms of serial scheduler
        # wall (measured), which dwarfs the native kernel's per-query
        # cost — 3 chunks/partition turned a 0.5 s scatter leg into
        # 1.5 s.  Single-partition (or few-partition) indexes still
        # split queries across cores.
        target_tasks = max(len(pids), par // 2, 1)
        queries_per_task = max(64, -(-total // target_tasks))
    if single_graph:
        tbl = _serve_single_graph_local(
            path, pids[0], cfg, strategy, brute_flops_threshold, cache_token,
            index_ver, qid_arr, qmat, k, ef, with_metadata,
            min(queries_per_task, n_q),
        )
        if tbl is not None:
            # arrow-table input: no pandas hop, and under
            # spark.sql.execution.arrow.localRelationThreshold the JVM
            # builds a LocalRelation directly from the batches
            return spark.createDataFrame(tbl, schema=out_ddl)
    plan_rows = []
    for p in pids:
        n_chunks = max(1, -(-per_pid[p] // queries_per_task))
        plan_rows.extend((p, c) for c in range(n_chunks))
    # one plan row per partition, NO repartition: createDataFrame +
    # repartition is a 2-stage shuffle that cost ~0.2 s of fixed wall
    # per search call (measured); parallelize with numSlices places
    # each (pid, chunk) row in its own partition shuffle-free
    plan = spark.createDataFrame(
        spark.sparkContext.parallelize(plan_rows, max(len(plan_rows), 1)),
        "pid INT, chunk INT",
    )
    qpt = queries_per_task
    # the query batch travels as a BROADCAST, not in the task closure:
    # a closure is serialized into every task description, so a 10k×784
    # float32 batch (31 MB) would cross the wire once PER TASK (32
    # tasks → ~1 GB); the broadcast ships once per executor and python
    # workers read it from the local block file (measured: the warm
    # single-graph leg was spending most of its wall on closure bytes)
    bq = spark.sparkContext.broadcast((qid_arr, qmat, by_pid))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qid_arr, qmat, by_pid = bq.value
        # drain the input stream BEFORE yielding: a pandas-UDF that
        # yields interleaved with unconsumed input gets its python
        # worker KILLED by the runner instead of reused (measured —
        # worker pids churn every job), which destroys the
        # worker-resident graph cache this whole path is built around
        work = [
            (pid, chunk)
            for b in batches
            for pid, chunk in zip(b["pid"].tolist(), b["chunk"].tolist())
        ]
        for pid, chunk in work:
            if by_pid is None:
                qsel = list(range(chunk * qpt, min((chunk + 1) * qpt, n_q)))
            else:
                qsel = by_pid.get(int(pid), [])[chunk * qpt : (chunk + 1) * qpt]
            if not qsel:
                continue
            ids, g, use_brute = _acquire_partition_graph(
                path, pid, cfg, strategy, brute_flops_threshold,
                cache_token, index_ver, len(qsel),
            )
            sub = qmat[qsel]
            hits = g.search_brute(sub, k) if use_brute else g.search_fast_batch(sub, k, ef)
            yield _assemble_hits(qid_arr[qsel], hits, ids, g, with_metadata, out_cols)

    partials = plan.mapInPandas(run, schema=out_ddl)
    if single_graph:
        return partials
    return _merge_topk(partials, k, with_metadata)


def search_index_local(
    spark,
    path: str,
    queries,
    k: int,
    ef: int | None = None,
    config: HnswConfig | None = None,
    strategy: str = "auto",
    brute_flops_threshold: float = 1e8,
    cache_token: str | None = None,
    with_metadata: bool = False,
    queries_per_task: int | None = None,
) -> "pa.Table":
    """In-process serving API: search a saved index, return an Arrow
    table — no Spark job, no DataFrame materialization.

    This is the node-serving protocol of the reference: its benchmark
    calls the index in-process and gets slices back
    (`cmd/benchmark/ann-benchmark/main.go:279-307`,
    `index/hnsw.go:76-107`) — the result never crosses a
    serialization boundary.  `search_index_path` wraps results into a
    Spark DataFrame for plan composition, which costs a driver→JVM→
    driver Arrow round trip (~0.3-0.4 s per call regardless of batch
    size — pure protocol overhead when the caller wants driver-side
    results anyway).  Serving stacks that terminate on the driver
    (an RPC handler, a batch scorer writing its own output) should
    call this instead.

    It shares `search_index_path`'s prologue.  One-partition indexes
    are answered in-process (`_serve_single_graph_local`, brute/beam
    decided over the whole batch unless ``queries_per_task`` is given).
    Multi-partition indexes, and brute scans over the local cap, run
    `search_index_path`'s task plan — the scale path — and collect via
    Arrow, so the call always answers with identical values to
    `search_index_path` (pytest-enforced).

    Columns: query_id, rank, id, score(, metadata) — same as
    `search_index_path`.
    """
    cfg, eff_ef, pids, index_ver, qid_arr, qmat = _path_prologue(
        spark, path, queries, k, ef, config, cache_token
    )
    if len(pids) == 1:
        n_q = len(qmat)
        tbl = _serve_single_graph_local(
            path, pids[0], cfg, strategy, brute_flops_threshold, cache_token,
            index_ver, qid_arr, qmat, k, eff_ef, with_metadata,
            min(queries_per_task or n_q, n_q) or 1,
        )
        if tbl is not None:
            return tbl
    return search_index_path(
        spark, path, (qid_arr, qmat), k, ef=ef, config=cfg, strategy=strategy,
        brute_flops_threshold=brute_flops_threshold, cache_token=cache_token,
        with_metadata=with_metadata, queries_per_task=queries_per_task,
    ).toArrow()


# ---------------------------------------------------------------------------
# Index persistence (the reference's binary snapshot, columnar)
# ---------------------------------------------------------------------------

def save_index(index: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the index DataFrame as parquet partitioned by
    ``partition_id`` — the columnar replacement for the reference's
    hand-rolled binary snapshot (`index/hnsw_persistence.go:45-125`).

    Partitioning by partition_id means a later search of partitions
    {3, 7} reads only those directories (partition pruning), which the
    byte-stream snapshot format cannot do.
    """
    index.write.mode(mode).partitionBy("partition_id").parquet(path)


def load_index(spark, path: str) -> DataFrame:
    """Reload a saved index (`index/hnsw_persistence.go:127-241`).

    Column order is normalized back to INDEX_SCHEMA order (partitionBy
    moves the partition column to the end on disk).  Indexes saved
    before vectors were embedded load without a ``vec`` column and
    search falls back to the cogroup path."""
    df = spark.read.parquet(path)
    cols = ["partition_id", "kind", "src", "level", "dsts"]
    for opt in ("vec", "meta"):
        if opt in df.columns:
            cols.append(opt)
    return df.select(*cols)
