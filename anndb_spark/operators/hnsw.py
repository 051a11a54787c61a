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
partition, or with ``centroids``/``nprobe`` only to each query's nearest
cells (one grouped scan of the index DataFrame in `search_index`, or
one task per (saved partition, query chunk) in `search_index_path`,
whose plan, cache and merge are the shared `_serve` scatter/gather),
takes a per-partition top-k, and merges globally — exactly the
reference's scatter/gather (`storage/dataset.go:374-431`) expressed as
partial + final top-k.
Each task holds exactly one partition's graph in memory, which is the
same sizing contract the reference imposes on its nodes.

The in-memory kernel is C (`ckernel`, compiled on first use, OpenMP
across queries and wave items) with a NumPy float32 fallback
(vectorized candidate-batch distance evaluations stand in for the
reference's SIMD kernels) on hosts without a C compiler.
"""

from __future__ import annotations

import functools
import heapq
import json
import math
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anndb_spark.operators import _serve
from anndb_spark.operators._scratch import scratch_mat
from anndb_spark.operators.ivf import _pairwise

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


# build wave floor: the first _BUILD_WAVE items bootstrap sequentially,
# later waves hold max(_BUILD_WAVE, prefix // 10) items
_BUILD_WAVE = 256


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

    def thaw_adjacency(self) -> "HnswGraph":
        """Rebuild the python adjacency sets from the padded matrices —
        the inverse of finalize(), for mutating a reconstructed graph
        (online insert into a loaded index)."""
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

    def _dist_gather(
        self, nb: np.ndarray, mask: np.ndarray, Q: np.ndarray, qn2: np.ndarray
    ) -> np.ndarray:
        """Distances from each query row to ITS OWN neighbor row.

        nb: (a, cap) node ids (may contain -1 / stale entries — masked),
        Q: (a, d) queries, qn2: (a,) squared query norms.
        Returns (a, cap) with +inf where ``mask`` is False.  One fused
        einsum for the whole frontier instead of a Python loop per query."""
        space = self.cfg.space
        safe = np.where(mask, nb, 0)
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
                sub = self.vectors[nbs]
                Qa = Qf[a]
                qn2a = qn2[a]
                if space == "manhattan":
                    dflat = np.abs(sub - Qa[rows]).sum(axis=1, dtype=np.float32)
                else:
                    dot = np.einsum("ij,ij->i", sub, Qa[rows], dtype=np.float32)
                    if space == "euclidean":
                        dflat = np.sqrt(
                            np.maximum(
                                self.norms2[nbs] - 2.0 * dot + qn2a[rows], 0.0
                            )
                        )
                    else:
                        dflat = np.abs(
                            np.float32(1.0)
                            - dot / (self.norms[nbs] * np.sqrt(qn2a[rows]))
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
        lands in a thread-local capacity buffer (`_scratch.scratch_mat` —
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
        d = scratch_mat("brute_d", nq, n)
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
                cube = scratch_mat(
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
                prod = scratch_mat("brute_prod", nq, n)
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

        - **exact GEMM** while the built prefix is ≤ the brute
          threshold: with a beam of efC over a graph that small, the
          beam visits ~everything anyway — so the candidate list IS the
          exact top-efC, computable as one BLAS GEMM per wave instead of
          thousands of gather-einsum beam steps.  Upper-level candidates
          come from the same distance row restricted to that level's
          nodes.  Same-or-better edge quality, order-of-magnitude faster
          on partition sizes near the construction beam width (the
          reference-protocol efC=500 case).
        - **batched beam** beyond the threshold — the asymptotic path
          for large partitions.  Level-0 candidates come from the
          lock-step batched beam; upper-level candidates are EXACT
          distance rows against that level's (16×-smaller per level)
          node set — cheaper AND better than beaming the upper levels.

        Each kernel has two implementations, picked by
        ``ckernel.available()``: the compiled wave candidates, selection
        and level-0 commit run in-process in C, or the serial NumPy
        GEMM prefix and beam waves run when no C compiler is present.

        ``workers`` is the OpenMP thread count of the C kernel's wave
        candidate search and upper-level selection (the reference's
        concurrent-insert shape: `index/hnsw.go:80-140` is called from
        NumCPU goroutines) for driver-side single-graph builds; the
        NumPy path ignores it.  Per-item walks are deterministic and
        commits stay ordered, so every ``workers`` value builds the
        bit-identical graph.  Per-partition builds inside Spark tasks
        keep workers=1 (the task's core is the unit of parallelism).
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
        from anndb_spark.operators import ckernel as _ckm

        ck_ok = _ckm.available() and config.space in (
            "euclidean",
            "cosine",
            "manhattan",
        )
        if ck_ok:
            # keep the exact-GEMM prefix: it seeds a well-formed core
            # graph that every later beam navigates cheaply — on a
            # noisy 784-d corpus a beam-built prefix degrades ALL
            # downstream walks (measured: 60k single-graph build
            # 23 s → 205 s with no prefix)
            brute_threshold = max(4 * config.ef_construction, 2_000)
        else:
            # NumPy: beam-worthy once a brute candidate row costs more
            # than the beam's visit budget — scale the cutover inversely
            # with dimension (at 8-d a full GEMM row is ~free; at 784-d
            # the 4·efC bound dominates)
            brute_threshold = max(
                4 * config.ef_construction, 200_000 // max(mat.shape[1], 1)
            )
        g.norms2 = np.einsum("ij,ij->i", v, v, dtype=np.float32)
        g.norms = np.sqrt(g.norms2)
        # full-length norms are live for the whole build → _prune may
        # use the native selection (cleared before return: insert_many()
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
        boot = min(n, _BUILD_WAVE)
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

        dirty: set[int] = set()
        finalized = False
        ck_commit = None
        i = boot
        while i < n:
            # waves grow with the graph (≤10% stale candidates per wave)
            j = min(n, i + max(_BUILD_WAVE, i // 10))
            if i <= brute_threshold:
                # blocked so the (rows × i) distance matrix stays under
                # ~1 GB at any prefix; backlink prunes are deferred to
                # flush_final at the end of the GEMM regime (candidate
                # generation here never reads adjacency)
                blk = max(256, int(2.5e8 // max(i, 1)))
                for s in range(i, j, blk):
                    D = dist_rows(v[s : min(j, s + blk)], i)
                    for x in range(s, min(j, s + blk)):
                        commit_exact(x, D[x - s], i)
                i = j
                continue
            if not finalized:
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
            g._refresh_pads(
                dirty, len(g.levels), skip_level0=ck_commit is not None
            )
            dirty.clear()
            nbrs0 = None
            sel_wave = None
            if ck_ok:
                # native fused candidate beams + neighbor selection,
                # OpenMP fan-out across ``workers`` threads in-process
                # (no per-candidate python tuples: 500-wide lists per
                # item dominated the first cut, measured)
                r = g._build_wave_candidates_ck(
                    v[ids], efc, config.m, threads=max(workers, 1)
                )
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
            if sel_wave is None and nbrs0 is None:
                # NumPy beams + level-0 selection (read-only on the
                # pre-wave graph)
                res = _hit_lists(*g.search_fast_batch(v[ids], k=efc, ef=efc))
                nbrs0 = {
                    x: g._select_neighbors(cand, config.m, 0, v[x])
                    for x, cand in zip(ids, res)
                }
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
            flush_overflow(dirty, strict=False)
            i = j
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


def stored_config(path: str, part_files: dict) -> HnswConfig | None:
    """The persisted build config of the index saved at ``path``, read
    with pyarrow from the files of its `fsutil.list_parts` listing
    (``part_files``) — no Spark job.  Every part holds the config row;
    None for pre-config indexes."""
    for files in part_files.values():
        for i in files:
            src = _config_src(
                path, i.path, int(i.size or 0), int(getattr(i, "mtime_ns", 0) or 0)
            )
            if src is not None:
                return config_from_json(src)
    return None


@functools.lru_cache(maxsize=1024)
def _config_src(path: str, file: str, size: int, mtime_ns: int) -> str | None:
    """The ``src`` of the ``kind == 'config'`` row of one index file
    (memoized per file version, like `fsutil.footers`)."""
    import pyarrow.parquet as pq

    from anndb_spark.sources import fsutil

    f, _ = fsutil.resolve_fs(path)
    t = pq.read_table(
        file, columns=["kind", "src"], filters=[("kind", "==", "config")], filesystem=f
    )
    return t.column("src")[0].as_py() if t.num_rows else None


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


import os as _os_mod


def _graph_bytes(g: "HnswGraph") -> int:
    b = g.vectors.nbytes + 16 * len(g.levels)
    for pad in getattr(g, "adj_pad", {}).values():
        b += pad.nbytes
    return b


def _graph_bytes_max(n: int, dim: int, top_level: int, cfg: "HnswConfig") -> int:
    """An upper bound of `_graph_bytes` for a saved graph of ``n``
    vertices whose highest level is ``top_level``: the float32 vectors,
    16 B per vertex, and one (n × neighbor cap) int32 matrix per level."""
    return n * (4 * dim + 16 + 4 * (cfg.m_max_0 + cfg.m_max * top_level))


# ---------------------------------------------------------------------------
# Shared-memory (L2) graph cache: ONE physical copy per host
# ---------------------------------------------------------------------------
# The per-process LRU (`_serve.CACHE`) gives each python worker a
# PRIVATE graph copy: 32 workers × 200 MB is 6.4 GB of duplicated pages,
# and the (bandwidth-bound) beam kernel's random gathers then miss cache
# independently in every worker.  The L2 layer materializes the finalized graph ONCE into
# /dev/shm as read-only npy files and every worker mmaps them — one
# physical page set shared by all workers on the host (the resident-index
# contract a serving node actually wants).  Writers build into a private
# tmp dir and atomically rename it in; losers of the race just mmap the
# winner's copy.  An entry is keyed like its `_serve.CACHE` entry, by
# (index path, part), and its directory name carries the index's content
# fingerprint: a complete directory never changes, and storing a new
# version deletes the part's directories of every other version.

_SHM_ROOT = _os_mod.environ.get(
    "ANNDB_SHM_CACHE_DIR",
    "/dev/shm/anndb_graphs" if _os_mod.path.isdir("/dev/shm") else "",
)
_SHM_CACHE_MAX_BYTES = int(
    _os_mod.environ.get("ANNDB_SHM_CACHE_BYTES", str(8 << 30))
)


def _shm_dir_for(key, version) -> str | None:
    """``<root>/<hash of key>-<hash of version>``, or None without a
    shared-memory root."""
    if not _SHM_ROOT:
        return None
    import hashlib

    def h(x, n):
        return hashlib.sha1(repr(x).encode()).hexdigest()[:n]

    return _os_mod.path.join(_SHM_ROOT, f"{h(key, 24)}-{h(version, 16)}")


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


def _shm_store(key, version, ids, g: "HnswGraph") -> str | None:
    """Write the finalized graph into /dev/shm (atomic dir rename), and
    drop the key's entries of other versions."""
    import pickle as _pickle
    import shutil

    d = _shm_dir_for(key, version)
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
                    }
                )
            )
        open(_os_mod.path.join(tmp, "_COMPLETE"), "w").close()
        try:
            _os_mod.rename(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        # superseded versions of this key: a reader mid-load falls back
        # to parquet, and pages already mapped stay valid after unlink
        name = _os_mod.path.basename(d)
        prefix = name.split("-")[0] + "-"
        for other in _os_mod.listdir(_SHM_ROOT):
            if other.startswith(prefix) and other != name and "." not in other:
                shutil.rmtree(_os_mod.path.join(_SHM_ROOT, other), ignore_errors=True)
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
    need_adj: bool = True,
):
    """Reconstruct (ids, HnswGraph) from index rows; vectors come from the
    index's own vertex rows.

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
    if "meta" in idx_pdf.columns:
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


_BRUTE_FLOPS_MAX = 1e8


def _use_brute(strategy: str, n: int, nq: int, dim: int) -> bool:
    """The one brute-vs-beam rule under every server.

    'brute' and 'beam' force a kernel.  'auto' scans exactly when the
    n·|Q|·d flops of one partition's GEMM fall under `_BRUTE_FLOPS_MAX`
    (small fine-partitions after coarse pruning — the IVF shape — where
    brute is both faster and exact) and walks the graph otherwise (at
    100 TB per-partition n is millions and beam always wins)."""
    return strategy == "brute" or (
        strategy == "auto" and n * nq * dim <= _BRUTE_FLOPS_MAX
    )


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


def _assemble_hits(qids, hits, ids, g, with_metadata: bool, columns=None):
    """The one result assembler: one kernel call's ``(ids, dists)``
    over the query batch ``qids`` → an Arrow table of the ``columns``
    (default: all) of ``query_id, rank, id, score[, metadata]``, one row
    per non-pad hit in (query, rank) order.  Pads are a row suffix, so a
    hit's rank is its column + 1 — final for a single graph, partial
    before a multi-graph merge.  ``id`` and ``metadata`` index the
    graph's id list and ``g.item_meta``; ``query_id`` takes its type
    from ``qids`` (the servers' strings, or the streaming transform's
    batch rows) and callers cast the table to their layout
    (`_serve.to_layout`).

    The string columns are Arrow ``take``s over small dictionaries — the
    graph's id array (converted once per resident graph, kept on it) and
    the call's query ids — instead of fancy-indexed object arrays whose
    python strings are converted again on every call (measured: that
    assembly cost more than the 10k-query kernel walk on a 1M-row
    graph)."""
    import pyarrow as pa

    hit_ids, hit_d = hits
    valid = hit_ids >= 0
    qrow, col = np.nonzero(valid)
    nid = hit_ids[valid]
    pa_ids = getattr(g, "_pa_ids", None)
    if pa_ids is None or len(pa_ids) != len(ids):
        pa_ids = g._pa_ids = pa.array(ids, type=pa.string())
    data = {
        "query_id": pa.array(qids).take(pa.array(qrow)),
        "rank": pa.array((col + 1).astype(np.int32)),
        "id": pa_ids.take(pa.array(nid)),
        "score": pa.array(hit_d[valid], type=pa.float32()),
    }
    if with_metadata:
        im = g.item_meta
        meta = [im[i] for i in nid] if im is not None else [None] * len(nid)
        data["metadata"] = pa.array(meta, type=pa.map_(pa.string(), pa.string()))
    return pa.table({c: data[c] for c in (columns or data)})


def search_index(
    index: DataFrame,
    queries: list[tuple[object, list[float]]],
    k: int,
    ef: int | None = None,
    config: HnswConfig | None = None,
    strategy: str = "auto",
    with_metadata: bool = False,
    centroids=None,
    nprobe: int = 0,
) -> DataFrame:
    """ANN top-k over an index DataFrame: one grouped scan of the index,
    per-partition search → partial top-k → global window top-k, the
    reference's scatter/gather (`storage/dataset.go:374-431`).  Vertex
    rows carry the vectors (like the reference snapshot's vertex
    blocks), so the index is the only input; an index without a ``vec``
    column is rejected — rebuild it with `build_index`.

    ``strategy``: 'beam' (HNSW greedy descent + beam over the finalized
    graph), 'brute' (exact blocked-GEMM scoring of the whole partition)
    or 'auto' (`_use_brute`).

    ``queries``: [(query_id, vector)] or the ``(ids, matrix)`` form —
    broadcast in the task closure.  Each group's graph is rebuilt from
    its rows on every call: a DataFrame carries no content fingerprint
    to key a cache by, so serving workloads should save the index and
    use `search_index_path`, whose caches are versioned by the index's
    fingerprint.

    ``config=None`` restores the config persisted in the index (the
    snapshot header); an explicit config whose space disagrees with the
    persisted one raises instead of silently mis-scoring.

    With ``centroids`` and ``nprobe > 0`` the search is cluster-routed —
    the IVF×HNSW hybrid, for an index built over *cluster-assigned*
    vectors (`ivf.assign_clusters` → `build_index(partition_col=
    'cluster_id')`), so each graph partition is a coarse k-means cell.
    Each query then searches only its ``nprobe`` nearest cells' graphs
    (driver-side `_serve.route`), and only probed partitions are scanned
    at all: an index persisted ``partitionBy(partition_id)`` reads
    nprobe/P of its bytes.  Recall is governed by nprobe exactly like
    IVF (`ivf.search_ivf`), on top of the per-graph beam's ef.  As in
    `search_index_path`, ``nprobe=0`` is the flat search, and
    ``nprobe >= n_cells`` returns the flat search's rows.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if "vec" not in index.columns:
        raise ValueError(
            "index has no 'vec' column (vertex vectors); rebuild it with "
            "build_index"
        )
    cfg = config or get_index_config(index) or HnswConfig()
    ef = max(ef or cfg.ef, k)
    routed = centroids is not None and nprobe > 0
    qid_arr, qmat = _serve.parse_queries(
        queries, np.shape(centroids)[1] if routed else 0
    )
    by_pid = None
    if routed:
        by_pid = _serve.route(_pairwise(qmat, centroids, cfg.space), nprobe)
        # scan-time pruning: only probed partitions are read at all
        index = index.filter(F.col("partition_id").isin(sorted(by_pid)))
    out_cols, out_ddl = _result_layout(False, with_metadata)
    schema = to_arrow_schema(StructType.fromDDL(out_ddl))

    # (partition_id scalar,), pa.Table → pa.Table; unannotated, because
    # applyInArrow fails on this module's (postponed, string) annotations
    def search_part(key, idx):
        qsel = None if by_pid is None else by_pid.get(key[0].as_py())
        if not idx.num_rows or (by_pid is not None and not qsel):
            return schema.empty_table()
        ids, g = _graph_from_index(idx.to_pandas(), cfg)
        sub, sub_qids = (
            (qmat, qid_arr) if qsel is None else (qmat[qsel], qid_arr[qsel])
        )
        if _use_brute(strategy, len(ids), len(sub), g.dim):
            hits = g.search_brute(sub, k)
        else:
            hits = g.search_fast_batch(sub, k, ef)
        return _serve.to_layout(
            _assemble_hits(sub_qids, hits, ids, g, with_metadata, out_cols), schema
        )

    partials = index.groupBy("partition_id").applyInArrow(
        search_part, schema=out_ddl
    )
    return _serve.merge_topk(partials, k, _result_layout(True, with_metadata)[0])


def _acquire_partition_graph(
    path: str,
    pid,
    cfg: "HnswConfig",
    strategy: str,
    index_ver: str,
    n_sub: int,
):
    """Graph acquisition for one saved partition, with the full cache
    ladder: L1 (process dict, LRU by bytes) → L2 (host-shared /dev/shm
    mmap — one physical page set for every worker on the host) →
    parquet read.  Both levels key the graph by (``path``, ``pid``) and
    hold it for ``index_ver``, the index's `fsutil.list_parts`
    fingerprint: a rewritten index misses and is read again.  Returns
    (ids, graph, use_brute), use_brute being `_use_brute` for a batch of
    ``n_sub`` queries.  Shared by the batch serving task and driver-local
    serving (`search_index_path`) and the streaming query transform
    (`streaming.search`)."""
    from anndb_spark.sources import fsutil as _fsu

    # a full-graph cache entry serves both strategies; a brute-only
    # (adjacency-free) one is kept under its own kind
    key = (path, pid)
    hit = _serve.CACHE.get("hnsw", key, index_ver)
    if hit is None:
        d = _shm_dir_for(key, index_ver)
        if d is not None:
            got = _shm_load(d, cfg)
            if got is not None:
                _serve.CACHE.put("hnsw", key, index_ver, got, _graph_bytes(got[1]))
                hit = got
    if hit is not None:
        ids, g = hit
        return ids, g, _use_brute(strategy, len(ids), n_sub, g.dim)
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
    bhit = _serve.CACHE.get("hnsw_brute", key, index_ver)
    if bhit is not None:
        ids, g = bhit
        if _use_brute(strategy, len(ids), n_sub, g.dim):
            return ids, g, True
    idx_pdf = _fsu.read_parquet_dir(
        _fsu.join(path, f"partition_id={pid}")
    ).to_pandas()
    verts = idx_pdf.loc[idx_pdf["kind"] == "vertex", "vec"]
    dim = len(verts.iloc[0]) if len(verts) else 0
    if _use_brute(strategy, len(verts), n_sub, dim):
        ids, g = _graph_from_index(idx_pdf, cfg, need_adj=False)
        _serve.CACHE.put("hnsw_brute", key, index_ver, (ids, g), _graph_bytes(g))
        return ids, g, True
    ids, g = _graph_from_index(idx_pdf, cfg)
    # publish to L2, then serve from the SHARED pages (drops this
    # worker's private copy)
    d = _shm_store(key, index_ver, ids, g)
    if d is not None:
        got = _shm_load(d, cfg)
        if got is not None:
            ids, g = got
    _serve.CACHE.put("hnsw", key, index_ver, (ids, g), _graph_bytes(g))
    return ids, g, False


def _path_kernel(path, cfg, strategy, index_ver, k, ef, with_metadata, columns):
    """The per-part kernel of a saved index: ``search_chunk(pid, qids,
    Q, local=False)`` acquires part ``pid``'s graph (`_acquire_partition_graph`),
    searches it by `_use_brute`'s choice and returns the ``columns`` of
    `_assemble_hits`.  ``local`` only sets the walk's thread count: an
    OpenMP thread per core when the driver answers the batch
    (`_serve.run_local`), one in a task.  `_search_path` and the
    streaming transform (`streaming.search`) serve through it."""

    def search_chunk(pid: int, qids: np.ndarray, sub: np.ndarray, local: bool = False):
        ids, g, use_brute = _acquire_partition_graph(
            path, pid, cfg, strategy, index_ver, len(sub),
        )
        hits = (
            g.search_brute(sub, k) if use_brute
            else g.search_fast_batch(
                sub, k, ef, threads=(_os_mod.cpu_count() or 1) if local else 1
            )
        )
        return _assemble_hits(qids, hits, ids, g, with_metadata, columns)

    return search_chunk


def _search_path(
    spark, path, queries, k, ef, config, strategy,
    with_metadata, centroids, nprobe, queries_per_task, locality_centroids,
    arrow,
):
    """`search_index_path` (``arrow=False``) and `search_index_local`
    (``arrow=True``): one listing, one plan, `_serve.serve`'s two
    regimes."""
    from anndb_spark.sources import fsutil

    # ONE listing through pyarrow.fs (plain paths, file://, s3://,
    # hdfs:// — not a shared-local-FS assumption, ADVICE r4) gives the
    # parts, their files for the config header and the local rule, and
    # the version of every cached graph: the host-shared /dev/shm graph
    # cache outlives the Spark session, so a graph cached without the
    # content fingerprint would be served for a PREVIOUS index version at
    # the same path (measured: a cluster-routed index re-trained across
    # runs answered probes with the prior run's cells — recall degraded
    # to ~nprobe/n_cells)
    index_ver, part_files = fsutil.list_parts(path, "partition_id=")
    cfg = config or stored_config(path, part_files) or HnswConfig()
    ef = max(ef or cfg.ef, k)
    routed = centroids is not None and nprobe > 0
    cents = centroids if routed else locality_centroids
    qid_arr, qmat = _serve.parse_queries(queries, 0 if cents is None else np.shape(cents)[1])
    by_pid = _serve.route(_pairwise(qmat, centroids, cfg.space), nprobe) if routed else None
    pids = [p for p in part_files if by_pid is None or p in by_pid]
    # ONE graph partition → every query is answered completely by its
    # single graph: ranks are final in-kernel and the global top-k merge
    # is skipped (the reference benchmark's one-resident-graph shape,
    # cmd/benchmark/ann-benchmark/main.go:279-307)
    final_ranks = len(pids) == 1 and by_pid is None
    if locality_centroids is not None and by_pid is None and not final_ranks:
        # order the batch by coarse cell BEFORE chunking: each chunk's
        # queries then walk the SAME region of the graph, shrinking the
        # random-gather working set (the bandwidth-bound kernel's real
        # cost) from the whole matrix to a cluster's worth.  Pure
        # reordering — results are per-query, order-independent.  One
        # graph skips it: its walks run as one kernel call in the driver
        # (`_serve.run_local`), which seed-sorts the batch itself.
        assign = _pairwise(qmat, locality_centroids, cfg.space).argmin(axis=1)
        order = np.argsort(assign, kind="stable")
        qmat = np.ascontiguousarray(qmat[order])
        qid_arr = qid_arr[order]
    out_cols, out_ddl = _result_layout(final_ranks, with_metadata)
    search_chunk = _path_kernel(path, cfg, strategy, index_ver, k, ef, with_metadata, out_cols)

    def part_size(pid: int) -> tuple[int, float]:
        # vertex rows are the rows with a vector; the top level bounds
        # the graph's per-level adjacency matrices
        metas = fsutil.footers(path, part_files[pid])
        rows = sum(md.num_rows for md in metas)
        nulls = fsutil.column_stats(metas, "vec")[0]
        top = fsutil.column_stats(metas, "level")[1]
        n = rows - nulls if nulls is not None else rows
        if top is None:
            return n, 0 if n == 0 else math.inf
        return n, _graph_bytes_max(n, qmat.shape[1], int(top), cfg)

    # (pid, query-chunk) plan: chunking the query set per partition
    # breaks the one-task-per-partition straggler bound — skewed cluster
    # cells (and the lock-step beam's slowest-query tail) stop gating
    # the whole job; the graph cache makes the extra per-task
    # reconstruction cheap
    return _serve.serve(
        spark, pids, part_size, by_pid, qid_arr, qmat, search_chunk, out_ddl,
        None if final_ranks else k,
        lambda n, nq: _use_brute(strategy, n, nq, qmat.shape[1]),
        queries_per_task=queries_per_task, arrow=arrow,
    )


def search_index_path(
    spark,
    path: str,
    queries: list[tuple[object, list[float]]],
    k: int,
    ef: int | None = None,
    config: HnswConfig | None = None,
    strategy: str = "auto",
    with_metadata: bool = False,
    centroids=None,
    nprobe: int = 0,
    queries_per_task: int | None = None,
    locality_centroids=None,
) -> DataFrame:
    """Serving-shape ANN search over a SAVED index (`save_index` path).

    `search_index` ships the index DataFrame through a shuffle + Arrow
    conversion on EVERY call — at 784-d that transfer dwarfs the actual
    graph walk (~10× the kernel time).  Here the plan is one row per
    (graph partition, query chunk); each chunk's kernel column-reads
    its own partition's parquet directly and caches the reconstructed
    graph in its process, so a warm serving workload pays ZERO index
    bytes per query batch — the same resident-graph contract the
    reference's nodes have (`storage/partition.go`: graphs live in
    memory, storage is only read on start/restore).  Cached graphs are
    held for the index's content fingerprint, taken from the call's one
    listing of ``path``, so an index rewritten at the same path is read
    again on the next call with no caller action.

    The plan runs in one of `_serve.serve`'s two regimes, flat or
    routed, whatever the partition count:

    - in the driver, when the touched graphs fit the graph cache's byte
      budget (their vertex counts and top levels read from the parquet
      footers bound `_graph_bytes`) and its brute chunks stay under the
      local flops cap (`_serve.serve_locally`): the same kernel with an
      OpenMP thread per core, the ``(score, id)`` merge done in the
      driver, and the result a local relation — collecting it launches
      no Spark job;
    - otherwise as Spark tasks (`_serve.scatter`): the query batch
      ships as a broadcast (once per executor), and the global top-k
      is a window over ``hashpartitioning(query_id)``.

    Both regimes return the same rows, score bits included
    (pytest-enforced).  A one-partition unrouted index skips the merge
    in both: its kernel's ranks are final.

    With ``centroids`` + ``nprobe`` the query set is routed first (the
    IVF×HNSW hybrid): only probed partitions appear in the plan at all
    (the parquet directories of unprobed partitions are never read),
    and each chunk searches only its queries — per-query work is
    nprobe graph walks.

    ``path`` may be a plain path or any URI pyarrow.fs can mount
    (``file://``, ``s3://``, ``hdfs://`` with libhdfs): discovery and
    part reads both go through the filesystem API, so driver and
    executors need no shared local filesystem.

    Results are identical to `search_index` on the same saved index,
    flat or routed (pytest-verified).
    """
    return _search_path(
        spark, path, queries, k, ef, config, strategy,
        with_metadata, centroids, nprobe, queries_per_task,
        locality_centroids, arrow=False,
    )


def search_index_local(
    spark,
    path: str,
    queries,
    k: int,
    ef: int | None = None,
    config: HnswConfig | None = None,
    strategy: str = "auto",
    with_metadata: bool = False,
    queries_per_task: int | None = None,
) -> "pa.Table":
    """In-process serving API: search a saved index, return an Arrow
    table.

    This is the node-serving protocol of the reference: its benchmark
    calls the index in-process and gets slices back
    (`cmd/benchmark/ann-benchmark/main.go:279-307`,
    `index/hnsw.go:76-107`) — the result never crosses a
    serialization boundary.  `search_index_path` wraps results into a
    Spark DataFrame for plan composition, which costs a driver→JVM
    hop; serving stacks that terminate on the driver (an RPC handler, a
    batch scorer writing its own output) should call this instead.

    It is `search_index_path` with the same rule: when the driver
    regime takes the batch, its Arrow table is returned directly (no
    Spark job, no DataFrame); when the rule declines, the task plan
    runs and its result is collected via Arrow.  Values are identical
    either way (pytest-enforced).

    Columns: query_id, rank, id, score(, metadata) — same as
    `search_index_path`.
    """
    return _search_path(
        spark, path, queries, k, ef, config, strategy,
        with_metadata, None, 0, queries_per_task, None, arrow=True,
    )


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
    before vectors were embedded load without a ``vec`` column;
    `search_index` rejects them — rebuild with `build_index`.

    The columns come from one memoized parquet footer
    (`fsutil.read_partitioned`), so loading runs no Spark job (schema
    inference runs one); a path without such a footer reads as plain
    parquet, failing as that does."""
    from anndb_spark.sources import fsutil

    try:
        files = [f for fs in fsutil.list_parts(path, "partition_id=")[1].values() for f in fs]
    except (OSError, ValueError):
        files = []
    df = fsutil.read_partitioned(spark, path, files, "partition_id")
    cols = ["partition_id", "kind", "src", "level", "dsts"]
    for opt in ("vec", "meta"):
        if opt in df.columns:
            cols.append(opt)
    return df.select(*cols)
