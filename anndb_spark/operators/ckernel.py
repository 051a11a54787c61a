"""Compiled level-0 beam-search kernel for the HNSW serving path.

Every graph search enters through one batch call,
`hnsw.HnswGraph.search_fast_batch`, which runs this kernel when it
loads and the lock-step NumPy kernel (`hnsw._search_batch_chunk`)
otherwise.  The NumPy kernel is bandwidth-efficient but pays ~2 argpartition merges plus several
fancy-gathers of interpreter-dispatched work per step per chunk; at
fashion-mnist scale it tops out around 1.4k q/s/core while the
reference's native engine does ~1.6k q/s/core (26,112 q/s on 16 vCPU,
`/root/reference/results.txt:22-28`, concurrent searchers
`/root/reference/cmd/benchmark/ann-benchmark/main.go:279-307`).  This
module closes the constant factor the same way the reference does — a
native per-query beam loop — without adding any dependency: a ~150-line
C file is embedded here, compiled ONCE per host with the system cc into
a content-addressed shared object under /tmp, and loaded via ctypes.
If no compiler is present (or compilation fails) everything silently
falls back to the NumPy kernel; results are identical modulo
floating-point tie order.

SERVING parallelism comes from Spark, not threads: the serving plans
emit (partition, query-chunk) tasks and each task calls this kernel on
its chunk single-threaded, so 32 local cores (or 1000 executors) scale
without any C-side threading.  The callers that own a whole machine —
the driver serving regime (`_serve.run_local`) and the driver-side
single-graph BUILD — use the `_mt` entries (OpenMP fan-out over
queries or wave items with per-thread scratch); the build adds fused
walk+selection (`hnsw_build_candidates`) and native backlink-prune
selection (`hnsw_select_from_pool` / `hnsw_select_pool_batch`), which
replace per-candidate python tuples and per-prune numpy calls (both
measured dominant in the 60k fm build).

The search itself is the canonical HNSW layer-0 loop (candidates
min-heap + bounded results max-heap over one visited-epoch array) as
published in Malkov & Yashunin (arXiv:1603.09320, Alg. 2) and mirrored
by the reference's searchLevel (`/root/reference/index/hnsw.go`);
neighbor selection is the same paper's Alg. 4 (the reference's
selectNeighborsHeuristic, `index/hnsw.go:361-417`).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>
#include <math.h>
#include <float.h>

typedef struct { float d; int32_t id; } pair_t;

/* binary heaps over (d, id); min-heap orders ascending d, max-heap the
   inverse -- results keep the ef CLOSEST, candidates pop the closest. */
static inline void push_min(pair_t* h, int* sz, float d, int32_t id) {
    int i = (*sz)++;
    while (i > 0) {
        int p = (i - 1) >> 1;
        if (h[p].d <= d) break;
        h[i] = h[p]; i = p;
    }
    h[i].d = d; h[i].id = id;
}
static inline pair_t pop_min(pair_t* h, int* sz) {
    pair_t top = h[0];
    pair_t v = h[--(*sz)];
    int i = 0, n = *sz;
    for (;;) {
        int l = 2 * i + 1;
        if (l >= n) break;
        if (l + 1 < n && h[l + 1].d < h[l].d) l++;
        if (h[l].d >= v.d) break;
        h[i] = h[l]; i = l;
    }
    h[i] = v;
    return top;
}
static inline void push_max(pair_t* h, int* sz, float d, int32_t id) {
    int i = (*sz)++;
    while (i > 0) {
        int p = (i - 1) >> 1;
        if (h[p].d >= d) break;
        h[i] = h[p]; i = p;
    }
    h[i].d = d; h[i].id = id;
}
static inline void pop_max(pair_t* h, int* sz) {
    pair_t v = h[--(*sz)];
    int i = 0, n = *sz;
    for (;;) {
        int l = 2 * i + 1;
        if (l >= n) break;
        if (l + 1 < n && h[l + 1].d > h[l].d) l++;
        if (h[l].d <= v.d) break;
        h[i] = h[l]; i = l;
    }
    h[i] = v;
}

/* f32 dot.  A single-accumulator FMA chain is latency-bound (4-5 cy
   per fused step regardless of width), so the AVX-512 variant keeps
   FOUR independent accumulators (64 floats in flight) — at dim 784
   that is ~4x the scalar-autovec throughput when rows are cached. */
#if defined(__x86_64__) && defined(__AVX512F__)
#include <immintrin.h>
static inline float dotf(const float* restrict a, const float* restrict b,
                         int32_t d) {
    __m512 s0 = _mm512_setzero_ps(), s1 = _mm512_setzero_ps();
    __m512 s2 = _mm512_setzero_ps(), s3 = _mm512_setzero_ps();
    int32_t i = 0;
    for (; i + 64 <= d; i += 64) {
        s0 = _mm512_fmadd_ps(_mm512_loadu_ps(a + i),
                             _mm512_loadu_ps(b + i), s0);
        s1 = _mm512_fmadd_ps(_mm512_loadu_ps(a + i + 16),
                             _mm512_loadu_ps(b + i + 16), s1);
        s2 = _mm512_fmadd_ps(_mm512_loadu_ps(a + i + 32),
                             _mm512_loadu_ps(b + i + 32), s2);
        s3 = _mm512_fmadd_ps(_mm512_loadu_ps(a + i + 48),
                             _mm512_loadu_ps(b + i + 48), s3);
    }
    for (; i + 16 <= d; i += 16)
        s0 = _mm512_fmadd_ps(_mm512_loadu_ps(a + i),
                             _mm512_loadu_ps(b + i), s0);
    if (i < d) {
        __mmask16 mk = (__mmask16)((1u << (d - i)) - 1u);
        s1 = _mm512_fmadd_ps(_mm512_maskz_loadu_ps(mk, a + i),
                             _mm512_maskz_loadu_ps(mk, b + i), s1);
    }
    return _mm512_reduce_add_ps(
        _mm512_add_ps(_mm512_add_ps(s0, s1), _mm512_add_ps(s2, s3)));
}
#else
static inline float dotf(const float* restrict a, const float* restrict b,
                         int32_t d) {
    float s = 0.f;
    for (int32_t i = 0; i < d; i++) s += a[i] * b[i];
    return s;
}
#endif

/* float16-row x float32-query dot: halves the gather bytes of the
   (bandwidth-bound) build candidate walk.  Gated at runtime: the
   python side only passes an f16 shadow when hnsw_has_f16() says so.
   AVX-512 variant converts 16 halves per vcvtph2ps and keeps four
   independent FMA accumulators (see dotf). */
#if defined(__x86_64__) && defined(__AVX512F__)
static inline float doth(const uint16_t* restrict a,
                         const float* restrict b, int32_t d) {
    __m512 s0 = _mm512_setzero_ps(), s1 = _mm512_setzero_ps();
    __m512 s2 = _mm512_setzero_ps(), s3 = _mm512_setzero_ps();
    int32_t i = 0;
    for (; i + 64 <= d; i += 64) {
        s0 = _mm512_fmadd_ps(
            _mm512_cvtph_ps(_mm256_loadu_si256((const __m256i*)(a + i))),
            _mm512_loadu_ps(b + i), s0);
        s1 = _mm512_fmadd_ps(
            _mm512_cvtph_ps(_mm256_loadu_si256((const __m256i*)(a + i + 16))),
            _mm512_loadu_ps(b + i + 16), s1);
        s2 = _mm512_fmadd_ps(
            _mm512_cvtph_ps(_mm256_loadu_si256((const __m256i*)(a + i + 32))),
            _mm512_loadu_ps(b + i + 32), s2);
        s3 = _mm512_fmadd_ps(
            _mm512_cvtph_ps(_mm256_loadu_si256((const __m256i*)(a + i + 48))),
            _mm512_loadu_ps(b + i + 48), s3);
    }
    for (; i + 16 <= d; i += 16)
        s0 = _mm512_fmadd_ps(
            _mm512_cvtph_ps(_mm256_loadu_si256((const __m256i*)(a + i))),
            _mm512_loadu_ps(b + i), s0);
    float out = _mm512_reduce_add_ps(
        _mm512_add_ps(_mm512_add_ps(s0, s1), _mm512_add_ps(s2, s3)));
    for (; i < d; i++) {  /* dims are 16-multiples in practice */
        __m128i v = _mm_cvtsi32_si128(a[i]);
        out += _mm_cvtss_f32(_mm_cvtph_ps(v)) * b[i];
    }
    return out;
}
int hnsw_has_f16(void) { return 1; }
#elif defined(__x86_64__) && defined(__F16C__)
#include <immintrin.h>
static inline float doth(const uint16_t* restrict a,
                         const float* restrict b, int32_t d) {
    __m256 acc = _mm256_setzero_ps();
    int32_t i = 0;
    for (; i + 8 <= d; i += 8) {
        __m256 av = _mm256_cvtph_ps(
            _mm_loadu_si128((const __m128i*)(a + i)));
        acc = _mm256_fmadd_ps(av, _mm256_loadu_ps(b + i), acc);
    }
    __m128 lo = _mm256_castps256_ps128(acc);
    __m128 hi = _mm256_extractf128_ps(acc, 1);
    __m128 s4 = _mm_add_ps(lo, hi);
    s4 = _mm_hadd_ps(s4, s4);
    s4 = _mm_hadd_ps(s4, s4);
    float out = _mm_cvtss_f32(s4);
    for (; i < d; i++) {
        __m128i v = _mm_cvtsi32_si128(a[i]);
        out += _mm_cvtss_f32(_mm_cvtph_ps(v)) * b[i];
    }
    return out;
}
int hnsw_has_f16(void) { return 1; }
#else
static inline float doth(const uint16_t* restrict a,
                         const float* restrict b, int32_t d) {
    (void)a; (void)b; (void)d;
    return 0.f; /* unreachable: callers gate on hnsw_has_f16() */
}
int hnsw_has_f16(void) { return 0; }
#endif

/* f16-row distance (euclidean SQUARED / cosine); norms are the
   f32-derived tables — the ~1e-3 relative blur matches the python
   build's f16 selection shadow (recall unchanged, measured there). */
static inline float dist_one_h(int32_t space, const uint16_t* vh,
                               const float* q, int32_t dim, float vn2,
                               float vn, float qn2, float qn) {
    float dot = doth(vh, q, dim);
    if (space == 0) {
        float d = vn2 - 2.0f * dot + qn2;
        return d > 0.f ? d : 0.f;
    }
    float den = vn * qn;
    if (den <= 0.f) den = 1e-30f;
    return fabsf(1.0f - dot / den);
}
#if defined(__x86_64__) && defined(__AVX512F__)
static inline float l1f(const float* restrict a, const float* restrict b,
                        int32_t d) {
    __m512 s0 = _mm512_setzero_ps(), s1 = _mm512_setzero_ps();
    int32_t i = 0;
    for (; i + 32 <= d; i += 32) {
        s0 = _mm512_add_ps(s0, _mm512_abs_ps(_mm512_sub_ps(
            _mm512_loadu_ps(a + i), _mm512_loadu_ps(b + i))));
        s1 = _mm512_add_ps(s1, _mm512_abs_ps(_mm512_sub_ps(
            _mm512_loadu_ps(a + i + 16), _mm512_loadu_ps(b + i + 16))));
    }
    for (; i + 16 <= d; i += 16)
        s0 = _mm512_add_ps(s0, _mm512_abs_ps(_mm512_sub_ps(
            _mm512_loadu_ps(a + i), _mm512_loadu_ps(b + i))));
    if (i < d) {
        __mmask16 mk = (__mmask16)((1u << (d - i)) - 1u);
        s1 = _mm512_add_ps(s1, _mm512_abs_ps(_mm512_sub_ps(
            _mm512_maskz_loadu_ps(mk, a + i),
            _mm512_maskz_loadu_ps(mk, b + i))));
    }
    return _mm512_reduce_add_ps(_mm512_add_ps(s0, s1));
}
#else
static inline float l1f(const float* restrict a, const float* restrict b,
                        int32_t d) {
    float s = 0.f;
    for (int32_t i = 0; i < d; i++) s += fabsf(a[i] - b[i]);
    return s;
}
#endif

/* space: 0 = euclidean (SQUARED internally; sqrt at emit), 1 = cosine
   (|1 - cos|, the reference's abs wrapper), 2 = manhattan. */
static inline float dist_one(int32_t space, const float* v, const float* q,
                             int32_t dim, float vn2, float vn,
                             float qn2, float qn) {
    if (space == 2) return l1f(v, q, dim);
    float dot = dotf(v, q, dim);
    if (space == 0) {
        float d = vn2 - 2.0f * dot + qn2;
        return d > 0.f ? d : 0.f;
    }
    float den = vn * qn;
    if (den <= 0.f) den = 1e-30f;
    return fabsf(1.0f - dot / den);
}

/* cmp for the final ascending sort: (d, id) -- id tiebreak keeps the
   output deterministic. */
static int cmp_pair(const void* pa, const void* pb) {
    const pair_t* a = (const pair_t*)pa;
    const pair_t* b = (const pair_t*)pb;
    if (a->d < b->d) return -1;
    if (a->d > b->d) return 1;
    return (a->id > b->id) - (a->id < b->id);
}

static int cmp_i32(const void* pa, const void* pb) {
    int32_t a = *(const int32_t*)pa, b = *(const int32_t*)pb;
    return (a > b) - (a < b);
}

/* one query's layer-0 walk; results left in the res max-heap (raw
   metric: SQUARED l2).  scratch is owned by the calling thread, epoch
   distinguishes queries within a thread.  Returns result count. */
static int walk_level0(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms,
    int32_t dim,
    const int32_t* restrict pad0, int32_t cap,
    const float* restrict q, int64_t entry,
    int32_t ef, int32_t space,
    const uint8_t* restrict deleted,
    int32_t* restrict visited, int32_t epoch,
    pair_t* restrict cand, pair_t* restrict res,
    const uint16_t* restrict vectors_h)
{
    float qn2 = dotf(q, q, dim);
    float qn = sqrtf(qn2);
    int csz = 0, rsz = 0;
    int32_t e = (int32_t)entry;
    float ed = dist_one(space, vectors + (int64_t)e * dim, q, dim,
                        norms2[e], norms[e], qn2, qn);
    visited[e] = epoch;
    push_min(cand, &csz, ed, e);
    if (!(deleted && deleted[e])) push_max(res, &rsz, ed, e);
    while (csz > 0) {
        pair_t c = pop_min(cand, &csz);
        if (rsz >= ef && c.d > res[0].d) break;
        const int32_t* nb = pad0 + (int64_t)c.id * cap;
        /* prefetch pass: the walk is memory-latency-bound on big
           graphs (random ~dim*4B gathers from a matrix that dwarfs
           LLC); issuing the row loads for every unvisited neighbor
           BEFORE the distance loop overlaps their misses instead of
           serializing them (bit-exact — pure scheduling).  Two lines
           per row: line 0 breaks the serial dependency, the hardware
           streamer follows within the row. */
        /* pad rows are dense prefixes (-1 only as a tail sentinel —
           every producer writes sorted/packed prefixes), so the first
           -1 ends the row */
        for (int32_t j = 0; j < cap; j++) {
            int32_t id = nb[j];
            if (id < 0) break;
            if (visited[id] == epoch) continue;
            const char* row = vectors_h
                ? (const char*)(vectors_h + (int64_t)id * dim)
                : (const char*)(vectors + (int64_t)id * dim);
            __builtin_prefetch(row, 0, 1);
            __builtin_prefetch(row + 64, 0, 1);
        }
        for (int32_t j = 0; j < cap; j++) {
            int32_t id = nb[j];
            if (id < 0) break;
            if (visited[id] == epoch) continue;
            visited[id] = epoch;
            float d = vectors_h
                ? dist_one_h(space, vectors_h + (int64_t)id * dim, q,
                             dim, norms2[id], norms[id], qn2, qn)
                : dist_one(space, vectors + (int64_t)id * dim, q,
                           dim, norms2[id], norms[id], qn2, qn);
            if (rsz < ef || d < res[0].d) {
                push_min(cand, &csz, d, id);
                if (!(deleted && deleted[id])) {
                    push_max(res, &rsz, d, id);
                    if (rsz > ef) pop_max(res, &rsz);
                }
            }
        }
    }
    return rsz;
}

static void search_one(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms,
    int64_t n, int32_t dim,
    const int32_t* restrict pad0, int32_t cap,
    const float* restrict q, int64_t entry,
    int32_t ef, int32_t k, int32_t space,
    const uint8_t* restrict deleted,
    int32_t* restrict visited, int32_t epoch,
    pair_t* restrict cand, pair_t* restrict res,
    int64_t* restrict out_ids, float* restrict out_d)
{
    int rsz = walk_level0(vectors, norms2, norms, dim, pad0, cap, q,
                          entry, ef, space, deleted, visited, epoch,
                          cand, res, NULL);
    qsort(res, rsz, sizeof(pair_t), cmp_pair);
    int kk = k < rsz ? k : rsz;
    for (int32_t j = 0; j < kk; j++) {
        out_ids[j] = res[j].id;
        out_d[j] = space == 0 ? sqrtf(res[j].d) : res[j].d;
    }
    for (int32_t j = kk; j < k; j++) {
        out_ids[j] = -1;
        out_d[j] = FLT_MAX;
    }
}

/* Greedy diversification (Malkov & Yashunin Alg. 4; the reference's
   selectNeighborsHeuristic, index/hnsw.go:361-417) over a pool sorted
   ascending by (d-to-q, id).  dq must be the SAME raw metric used for
   pool-member pair distances (squared l2 / cosine / l1) — the
   domination test d(s,c) <= d(q,c) is monotonic-invariant.  state is
   caller scratch (>= W bytes); out gets POOL INDICES of the selected,
   ascending.  Returns the selected count. */
static int select_greedy(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms, int32_t dim, int32_t space,
    const int32_t* restrict ids, const float* restrict dq,
    int32_t W, int32_t m, int32_t keep_pruned,
    char* restrict state, int32_t* restrict out,
    const uint16_t* restrict vectors_h)
{
    memset(state, 0, W);
    int nsel = 0;
    for (int32_t i = 0; i < W; i++) {
        if (state[i]) continue;
        state[i] = 1;
        out[nsel++] = i;
        if (nsel >= m) break;
        const float* vi = vectors + (int64_t)ids[i] * dim;
        float in2 = norms2[ids[i]], in_ = norms[ids[i]];
        for (int32_t j = i + 1; j < W; j++) {
            if (state[j]) continue;
            float d = vectors_h
                ? dist_one_h(space, vectors_h + (int64_t)ids[j] * dim,
                             vi, dim, norms2[ids[j]], norms[ids[j]],
                             in2, in_)
                : dist_one(space, vectors + (int64_t)ids[j] * dim,
                           vi, dim, norms2[ids[j]], norms[ids[j]],
                           in2, in_);
            if (d <= dq[j]) state[j] = 2;
        }
    }
    if (keep_pruned) {
        for (int32_t i = 0; i < W && nsel < m; i++)
            if (state[i] == 2) out[nsel++] = i;
    }
    /* ascending pool index == ascending (d, id): matches the python
       selection's final sorted() */
    qsort(out, nsel, sizeof(int32_t), cmp_i32);
    return nsel;
}

/* Fused wave-build candidate stage: per item, one beam walk at
   ef=efConstruction plus neighbor selection, all native — the arrays
   never round-trip through python tuples. */
int hnsw_build_candidates(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms,
    int64_t n, int32_t dim,
    const int32_t* restrict pad0, int32_t cap,
    const float* restrict queries, int64_t nq,
    const int64_t* restrict entries,
    int32_t efc, int32_t m, int32_t space,
    int32_t heuristic, int32_t keep_pruned, int32_t pool_cap,
    int32_t* restrict out_ids, float* restrict out_d,
    int32_t nthreads,
    const uint16_t* restrict vectors_h)
{
    int err = 0;
    #pragma omp parallel num_threads(nthreads > 1 ? nthreads : 1) reduction(|:err)
    {
        int32_t* visited = (int32_t*)calloc((size_t)n, sizeof(int32_t));
        pair_t* cand =
            (pair_t*)malloc(sizeof(pair_t) * ((size_t)n + efc + 1));
        pair_t* res = (pair_t*)malloc(sizeof(pair_t) * ((size_t)efc + 1));
        int32_t* pids = (int32_t*)malloc(sizeof(int32_t) * (efc + 1));
        float* pdq = (float*)malloc(sizeof(float) * (efc + 1));
        char* state = (char*)malloc((size_t)efc + 1);
        int32_t* sel = (int32_t*)malloc(sizeof(int32_t) * (m + 1));
        if (!visited || !cand || !res || !pids || !pdq || !state || !sel) {
            err = 1;
        } else {
            int32_t epoch = 0;
            #pragma omp for schedule(dynamic, 16)
            for (int64_t qi = 0; qi < nq; qi++) {
                epoch++;
                const float* q = queries + qi * dim;
                int rsz = walk_level0(vectors, norms2, norms, dim, pad0,
                                      cap, q, entries[qi], efc, space,
                                      NULL, visited, epoch, cand, res,
                                      vectors_h);
                qsort(res, rsz, sizeof(pair_t), cmp_pair);
                int W = rsz;
                if (pool_cap > 0 && W > pool_cap) W = pool_cap;
                int ns;
                if (!heuristic) {
                    ns = W < m ? W : m;
                    for (int32_t j = 0; j < ns; j++) sel[j] = j;
                } else {
                    for (int32_t j = 0; j < W; j++) {
                        pids[j] = res[j].id;
                        pdq[j] = res[j].d;
                    }
                    ns = select_greedy(vectors, norms2, norms, dim,
                                       space, pids, pdq, W, m,
                                       keep_pruned, state, sel,
                                       vectors_h);
                }
                for (int32_t j = 0; j < ns; j++) {
                    out_ids[qi * m + j] = res[sel[j]].id;
                    out_d[qi * m + j] = space == 0
                        ? sqrtf(res[sel[j]].d) : res[sel[j]].d;
                }
                for (int32_t j = ns; j < m; j++) {
                    out_ids[qi * m + j] = -1;
                    out_d[qi * m + j] = FLT_MAX;
                }
            }
        }
        free(visited); free(cand); free(res);
        free(pids); free(pdq); free(state); free(sel);
    }
    return err ? -1 : 0;
}

/* Backlink-prune selection: distances from one vertex to its (small)
   over-cap pool, sort, select.  out gets selected VERTEX ids.
   Returns count (or -1). */
int hnsw_select_from_pool(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms, int32_t dim, int32_t space,
    const int64_t* restrict pool, int32_t W, int64_t node,
    int32_t m, int32_t heuristic, int32_t keep_pruned, int32_t pool_cap,
    int64_t* restrict out)
{
    pair_t* pr = (pair_t*)malloc(sizeof(pair_t) * (W + 1));
    int32_t* pids = (int32_t*)malloc(sizeof(int32_t) * (W + 1));
    float* pdq = (float*)malloc(sizeof(float) * (W + 1));
    char* state = (char*)malloc((size_t)W + 1);
    int32_t* sel = (int32_t*)malloc(sizeof(int32_t) * (m + 1));
    if (!pr || !pids || !pdq || !state || !sel) {
        free(pr); free(pids); free(pdq); free(state); free(sel);
        return -1;
    }
    const float* q = vectors + node * dim;
    float qn2 = norms2[node], qn = norms[node];
    for (int32_t j = 0; j < W; j++) {
        int32_t id = (int32_t)pool[j];
        pr[j].id = id;
        pr[j].d = dist_one(space, vectors + (int64_t)id * dim, q, dim,
                           norms2[id], norms[id], qn2, qn);
    }
    qsort(pr, W, sizeof(pair_t), cmp_pair);
    if (pool_cap > 0 && W > pool_cap) W = pool_cap;
    int ns;
    if (!heuristic) {
        ns = W < m ? W : m;
        for (int32_t j = 0; j < ns; j++) out[j] = pr[j].id;
    } else {
        for (int32_t j = 0; j < W; j++) {
            pids[j] = pr[j].id;
            pdq[j] = pr[j].d;
        }
        ns = select_greedy(vectors, norms2, norms, dim, space, pids,
                           pdq, W, m, keep_pruned, state, sel, NULL);
        for (int32_t j = 0; j < ns; j++) out[j] = pr[sel[j]].id;
    }
    free(pr); free(pids); free(pdq); free(state); free(sel);
    return ns;
}

int hnsw_search_level0(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms,
    int64_t n, int32_t dim,
    const int32_t* restrict pad0, int32_t cap,
    const float* restrict queries, int64_t nq,
    const int64_t* restrict entries,
    int32_t ef, int32_t k, int32_t space,
    const uint8_t* restrict deleted,
    int64_t* restrict out_ids, float* restrict out_d)
{
    int32_t* visited = (int32_t*)calloc((size_t)n, sizeof(int32_t));
    /* every push into cand is gated by the result bound, so cand never
       holds more than visited vertices; n+ef is a safe upper bound */
    pair_t* cand = (pair_t*)malloc(sizeof(pair_t) * ((size_t)n + ef + 1));
    pair_t* res = (pair_t*)malloc(sizeof(pair_t) * ((size_t)ef + 1));
    if (!visited || !cand || !res) {
        free(visited); free(cand); free(res);
        return -1;
    }
    for (int64_t qi = 0; qi < nq; qi++) {
        search_one(vectors, norms2, norms, n, dim, pad0, cap,
                   queries + qi * dim, entries[qi], ef, k, space, deleted,
                   visited, (int32_t)qi + 1, cand, res,
                   out_ids + qi * k, out_d + qi * k);
    }
    free(visited); free(cand); free(res);
    return 0;
}

/* OpenMP fan-out over queries: per-thread scratch, dynamic schedule
   (beam walks have a long tail).  Used by the driver-side wave build's
   candidate search (one process, all cores); serving tasks stay on the
   serial entry (Spark supplies their parallelism). */
int hnsw_search_level0_mt(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms,
    int64_t n, int32_t dim,
    const int32_t* restrict pad0, int32_t cap,
    const float* restrict queries, int64_t nq,
    const int64_t* restrict entries,
    int32_t ef, int32_t k, int32_t space,
    const uint8_t* restrict deleted,
    int64_t* restrict out_ids, float* restrict out_d,
    int32_t nthreads)
{
    if (nthreads <= 1) {
        return hnsw_search_level0(vectors, norms2, norms, n, dim, pad0,
                                  cap, queries, nq, entries, ef, k, space,
                                  deleted, out_ids, out_d);
    }
    int err = 0;
    #pragma omp parallel num_threads(nthreads) reduction(|:err)
    {
        int32_t* visited = (int32_t*)calloc((size_t)n, sizeof(int32_t));
        pair_t* cand =
            (pair_t*)malloc(sizeof(pair_t) * ((size_t)n + ef + 1));
        pair_t* res = (pair_t*)malloc(sizeof(pair_t) * ((size_t)ef + 1));
        if (!visited || !cand || !res) {
            err = 1;
        } else {
            int32_t epoch = 0;
            #pragma omp for schedule(dynamic, 16)
            for (int64_t qi = 0; qi < nq; qi++) {
                epoch++;
                search_one(vectors, norms2, norms, n, dim, pad0, cap,
                           queries + qi * dim, entries[qi], ef, k, space,
                           deleted, visited, epoch, cand, res,
                           out_ids + qi * k, out_d + qi * k);
            }
        }
        free(visited); free(cand); free(res);
    }
    return err ? -1 : 0;
}

/* Upper-level wave selection: every item in the wave shares ONE
   candidate pool (that level's pre-wave vertices), so distances, sort
   and greedy run per item over the shared id list — OMP over items. */
int hnsw_select_pool_batch(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms, int32_t dim, int32_t space,
    const int64_t* restrict pool, int32_t W,
    const int64_t* restrict nodes, int64_t nq,
    int32_t m, int32_t heuristic, int32_t keep_pruned, int32_t pool_cap,
    int64_t* restrict out, int32_t nthreads)
{
    int err = 0;
    #pragma omp parallel num_threads(nthreads > 1 ? nthreads : 1) reduction(|:err)
    {
        pair_t* pr = (pair_t*)malloc(sizeof(pair_t) * ((size_t)W + 1));
        int32_t* pids = (int32_t*)malloc(sizeof(int32_t) * (W + 1));
        float* pdq = (float*)malloc(sizeof(float) * (W + 1));
        char* state = (char*)malloc((size_t)W + 1);
        int32_t* sel = (int32_t*)malloc(sizeof(int32_t) * (m + 1));
        if (!pr || !pids || !pdq || !state || !sel) {
            err = 1;
        } else {
            #pragma omp for schedule(dynamic, 4)
            for (int64_t qi = 0; qi < nq; qi++) {
                int64_t node = nodes[qi];
                const float* q = vectors + node * dim;
                float qn2 = norms2[node], qn = norms[node];
                for (int32_t j = 0; j < W; j++) {
                    int32_t id = (int32_t)pool[j];
                    pr[j].id = id;
                    pr[j].d = dist_one(space,
                                       vectors + (int64_t)id * dim, q,
                                       dim, norms2[id], norms[id],
                                       qn2, qn);
                }
                qsort(pr, W, sizeof(pair_t), cmp_pair);
                int32_t Wc = W;
                if (pool_cap > 0 && Wc > pool_cap) Wc = pool_cap;
                int ns;
                int64_t* o = out + qi * m;
                if (!heuristic) {
                    ns = Wc < m ? Wc : m;
                    for (int32_t j = 0; j < ns; j++) o[j] = pr[j].id;
                } else {
                    for (int32_t j = 0; j < Wc; j++) {
                        pids[j] = pr[j].id;
                        pdq[j] = pr[j].d;
                    }
                    ns = select_greedy(vectors, norms2, norms, dim,
                                       space, pids, pdq, Wc, m,
                                       keep_pruned, state, sel, NULL);
                    for (int32_t j = 0; j < ns; j++) o[j] = pr[sel[j]].id;
                }
                for (int32_t j = ns; j < m; j++) o[j] = -1;
            }
        }
        free(pr); free(pids); free(pdq); free(state); free(sel);
    }
    return err ? -1 : 0;
}

/* ---- beam-regime level-0 commit: pad-resident adjacency ----------
   During the wave build's beam regime the level-0 adjacency lives
   ONLY in (pad0, len0) — width-stride int32 rows kept as SORTED dense
   prefixes — so committing a wave's edges and flushing backlink
   prunes never round-trips through python sets (measured ~9 s of the
   60k fm build: set updates + per-prune marshalling + pad rewrites).
   Semantics mirror the python wave flow: commit every item in id
   order (selections only reference pre-wave nodes), then one
   ascending-id flush pass that prunes rows over slack_cap (strict:
   over cap) via Alg-4 selection with reciprocal backlink removal —
   the same slack-deferred, sequential-order contract as
   hnsw.flush_overflow (order-independent pruning was measured to
   collapse connectivity there). */

static void wave_prune_row(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms, int32_t dim, int32_t space,
    int32_t* restrict pad0, int32_t* restrict len0, int32_t width,
    int64_t node, int32_t cap,
    int32_t heuristic, int32_t keep_pruned, int32_t pool_cap,
    uint8_t* restrict over_flag,
    pair_t* restrict pr, int32_t* restrict pids, float* restrict pdq,
    char* restrict state, int32_t* restrict sel)
{
    int32_t* row = pad0 + node * (int64_t)width;
    int32_t L = len0[node];
    const float* q = vectors + node * (int64_t)dim;
    float qn2 = norms2[node], qn = norms[node];
    for (int32_t j = 0; j < L; j++) {
        int32_t id = row[j];
        pr[j].id = id;
        pr[j].d = dist_one(space, vectors + (int64_t)id * dim, q, dim,
                           norms2[id], norms[id], qn2, qn);
    }
    qsort(pr, L, sizeof(pair_t), cmp_pair);
    int32_t Wc = L;
    if (pool_cap > 0 && Wc > pool_cap) Wc = pool_cap;
    int ns;
    if (!heuristic) {
        ns = Wc < cap ? Wc : cap;
        for (int32_t j = 0; j < ns; j++) sel[j] = j;
    } else {
        for (int32_t j = 0; j < Wc; j++) {
            pids[j] = pr[j].id;
            pdq[j] = pr[j].d;
        }
        ns = select_greedy(vectors, norms2, norms, dim, space, pids,
                           pdq, Wc, cap, keep_pruned, state, sel, NULL);
    }
    for (int32_t j = 0; j < ns; j++) sel[j] = pr[sel[j]].id;
    qsort(sel, ns, sizeof(int32_t), cmp_i32);
    /* reciprocal removal for dropped edges: row and sel are both
       sorted ascending — one merge walk */
    int32_t si = 0;
    for (int32_t j = 0; j < L; j++) {
        int32_t id = row[j];
        while (si < ns && sel[si] < id) si++;
        if (si < ns && sel[si] == id) continue;
        int32_t* r2 = pad0 + (int64_t)id * width;
        int32_t L2 = len0[id];
        for (int32_t t = 0; t < L2; t++) {
            if (r2[t] == (int32_t)node) {
                memmove(r2 + t, r2 + t + 1,
                        (size_t)(L2 - 1 - t) * sizeof(int32_t));
                r2[L2 - 1] = -1;
                len0[id] = --L2;
                if (L2 <= cap) over_flag[id] = 0;
                break;
            }
        }
    }
    memcpy(row, sel, (size_t)ns * sizeof(int32_t));
    for (int32_t j = ns; j < width; j++) row[j] = -1;
    len0[node] = ns;
    over_flag[node] = 0;
}

int hnsw_wave_commit(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms, int32_t dim, int32_t space,
    int32_t* restrict pad0, int32_t* restrict len0, int32_t width,
    int64_t n_rows, int32_t cap, int32_t slack_cap,
    const int64_t* restrict wave_ids, int64_t nw,
    const int32_t* restrict sel_ids, int32_t m_sel,
    int32_t heuristic, int32_t keep_pruned, int32_t pool_cap,
    uint8_t* restrict over_flag, int32_t strict)
{
    int32_t W = width + 2;
    pair_t* pr = (pair_t*)malloc(sizeof(pair_t) * W);
    int32_t* pids = (int32_t*)malloc(sizeof(int32_t) * W);
    float* pdq = (float*)malloc(sizeof(float) * W);
    char* state = (char*)malloc((size_t)W);
    int32_t* sel = (int32_t*)malloc(sizeof(int32_t) * (cap + 2));
    if (!pr || !pids || !pdq || !state || !sel) {
        free(pr); free(pids); free(pdq); free(state); free(sel);
        return -1;
    }
    /* phase 1: commit items in id order.  Selections reference only
       pre-wave nodes, so wave rows never receive intra-wave
       backlinks and the per-item row write is final. */
    for (int64_t w = 0; w < nw; w++) {
        int64_t x = wave_ids[w];
        const int32_t* s = sel_ids + w * (int64_t)m_sel;
        int32_t* rx = pad0 + x * (int64_t)width;
        int32_t cnt = 0;
        for (int32_t j = 0; j < m_sel; j++)
            if (s[j] >= 0) rx[cnt++] = s[j];
        qsort(rx, cnt, sizeof(int32_t), cmp_i32);
        for (int32_t j = cnt; j < width; j++) rx[j] = -1;
        len0[x] = cnt;
        for (int32_t j = 0; j < cnt; j++) {
            int32_t nb = rx[j];
            int32_t* rn = pad0 + (int64_t)nb * width;
            int32_t Ln = len0[nb];
            if (Ln >= width) {
                /* row full mid-wave (hub): prune it now to make room —
                   rare; slightly earlier than the wave-boundary flush
                   the python path would do */
                wave_prune_row(vectors, norms2, norms, dim, space, pad0,
                               len0, width, nb, cap, heuristic,
                               keep_pruned, pool_cap, over_flag,
                               pr, pids, pdq, state, sel);
                Ln = len0[nb];
            }
            int32_t t = Ln;
            while (t > 0 && rn[t - 1] > (int32_t)x) {
                rn[t] = rn[t - 1];
                t--;
            }
            rn[t] = (int32_t)x;
            len0[nb] = ++Ln;
            if (Ln > cap) over_flag[nb] = 1;
        }
    }
    /* phase 2: slack-deferred flush, ascending id (the python pass
       iterates sorted(overflow) — same order) */
    for (int64_t i = 0; i < n_rows; i++) {
        if (!over_flag[i]) continue;
        int32_t L = len0[i];
        if (L <= cap) { over_flag[i] = 0; continue; }
        if (!strict && L <= slack_cap) continue; /* carried */
        wave_prune_row(vectors, norms2, norms, dim, space, pad0, len0,
                       width, i, cap, heuristic, keep_pruned, pool_cap,
                       over_flag, pr, pids, pdq, state, sel);
    }
    free(pr); free(pids); free(pdq); free(state); free(sel);
    return 0;
}

/* Lock-step greedy descent L..1 is cheap (few vertices), but doing it
   here too keeps the whole search native.  pads: concatenated per-level
   matrices, lvl_off[l] row offset into pads for level l (levels 1..L
   share one buffer, each n x lvl_cap[l]). */
int hnsw_descend(
    const float* restrict vectors, const float* restrict norms2,
    const float* restrict norms,
    int64_t n, int32_t dim,
    const int32_t* restrict pads, const int64_t* restrict lvl_off,
    const int32_t* restrict lvl_cap, int32_t max_level,
    const float* restrict queries, int64_t nq,
    int64_t entrypoint, int32_t space,
    int64_t* restrict out_entry, float* restrict out_d)
{
    for (int64_t qi = 0; qi < nq; qi++) {
        const float* q = queries + qi * dim;
        float qn2 = dotf(q, q, dim);
        float qn = sqrtf(qn2);
        int64_t cur = entrypoint;
        float cur_d = dist_one(space, vectors + cur * dim, q, dim,
                               norms2[cur], norms[cur], qn2, qn);
        for (int32_t lvl = max_level; lvl >= 1; lvl--) {
            int32_t cp = lvl_cap[lvl];
            const int32_t* mat = pads + lvl_off[lvl];
            int changed = 1;
            while (changed) {
                changed = 0;
                const int32_t* nb = mat + cur * cp;
                for (int32_t j = 0; j < cp; j++) {
                    int32_t id = nb[j];
                    if (id < 0) break;  /* dense-prefix rows */
                    float d = dist_one(space, vectors + (int64_t)id * dim,
                                       q, dim, norms2[id], norms[id],
                                       qn2, qn);
                    if (d < cur_d) { cur_d = d; cur = id; changed = 1; }
                }
            }
        }
        out_entry[qi] = cur;
        out_d[qi] = space == 0 ? sqrtf(cur_d) : cur_d;
    }
    return 0;
}

/* Batched entry seeding: per query, argmin distance over a packed
   seed matrix (the graph's upper-level vertices).  OMP over queries —
   deterministic threading, no BLAS-pool dependency (python-thread +
   BLAS seeding was measured anywhere from 0.02 s to 0.45 s for
   10k x 1024 x 784 depending on the host's BLAS thread config). */
int hnsw_seed_argmin(
    const float* restrict seeds, const float* restrict sn2,
    const float* restrict sn, int64_t ns, int32_t dim, int32_t space,
    const float* restrict queries, int64_t nq,
    int64_t* restrict out_best, float* restrict out_d, int32_t nthreads)
{
    #pragma omp parallel for schedule(static) \
        num_threads(nthreads > 1 ? nthreads : 1)
    for (int64_t qi = 0; qi < nq; qi++) {
        const float* q = queries + qi * dim;
        float qn2 = dotf(q, q, dim);
        float qn = sqrtf(qn2);
        int64_t best = 0;
        float bd = dist_one(space, seeds, q, dim, sn2[0], sn[0], qn2, qn);
        for (int64_t s = 1; s < ns; s++) {
            float d = dist_one(space, seeds + s * dim, q, dim,
                               sn2[s], sn[s], qn2, qn);
            if (d < bd) { bd = d; best = s; }
        }
        out_best[qi] = best;
        out_d[qi] = space == 0 ? sqrtf(bd) : bd;
    }
    return 0;
}
"""

_CACHE_ROOT = os.environ.get(
    "ANNDB_CKERNEL_DIR", os.path.join(tempfile.gettempdir(), "anndb_ckernel")
)
_DISABLED = os.environ.get("ANNDB_CKERNEL", "1") in ("0", "false", "no")

_lib = None
_lib_tried = False


# bumped whenever the build RECIPE (not the source) changes, so the
# content-addressed cache can't serve a .so built the old way
_BUILD_TAG = "split-link-no-ftz-v2"


def _compile() -> str | None:
    """Compile the kernel once per host; content-addressed (source +
    build recipe) so neither a source nor a flag change reuses a stale
    binary.  Atomic rename publishes the .so; concurrent compilers race
    benignly (same bytes).

    Compile and link are SPLIT on purpose: -ffast-math at LINK time
    makes gcc add crtfastmath.o, whose ELF constructor sets the
    process-wide FTZ/DAZ bits in MXCSR the moment ctypes loads the
    library — silently flushing every subnormal double in the HOST
    python process (and any forked Arrow workers) to zero from that
    point on.  Hypothesis caught this in CI: float strategies validate
    that subnormals exist and started failing in any test session that
    had touched the HNSW kernel first.  -ffast-math at COMPILE time
    only affects this kernel's own codegen (safe here: FLT_MAX
    sentinels, no NaN/Inf reliance); the link step gets no math flags,
    so no constructor is injected."""
    h = hashlib.sha1(
        (_C_SRC + _BUILD_TAG).encode()
    ).hexdigest()[:16]
    so = os.path.join(_CACHE_ROOT, f"hnswk_{h}.so")
    if os.path.exists(so):
        return so
    try:
        os.makedirs(_CACHE_ROOT, exist_ok=True)
        src = os.path.join(_CACHE_ROOT, f"hnswk_{h}.c")
        with open(src, "w") as f:
            f.write(_C_SRC)
        tmp = f"{so}.tmp.{os.getpid()}"
        obj = f"{so}.o.{os.getpid()}"
        cc_cmd = [
            "cc", "-O3", "-march=native", "-mprefer-vector-width=512",
            "-ffast-math", "-fopenmp",
            "-fPIC", "-c", "-o", obj, src,
        ]
        r = subprocess.run(cc_cmd, capture_output=True, timeout=120)
        if r.returncode != 0:
            # older cc may not know -mprefer-vector-width; retry without
            cc_cmd = [c for c in cc_cmd if c != "-mprefer-vector-width=512"]
            r = subprocess.run(cc_cmd, capture_output=True, timeout=120)
        if r.returncode != 0:
            return None
        link_cmd = ["cc", "-shared", "-fopenmp", "-o", tmp, obj, "-lm"]
        r = subprocess.run(link_cmd, capture_output=True, timeout=120)
        try:
            os.remove(obj)
        except OSError:
            pass
        if r.returncode != 0:
            return None
        os.replace(tmp, so)
        return so
    except Exception:
        return None


def _load():
    global _lib, _lib_tried
    if _lib_tried:
        return _lib
    _lib_tried = True
    if _DISABLED:
        return None
    so = _compile()
    if so is None:
        return None
    try:
        lib = ctypes.CDLL(so)
        p_f32 = ctypes.POINTER(ctypes.c_float)
        p_i32 = ctypes.POINTER(ctypes.c_int32)
        p_i64 = ctypes.POINTER(ctypes.c_int64)
        p_u8 = ctypes.POINTER(ctypes.c_uint8)
        lib.hnsw_search_level0.restype = ctypes.c_int
        lib.hnsw_search_level0.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int64, ctypes.c_int32,
            p_i32, ctypes.c_int32,
            p_f32, ctypes.c_int64,
            p_i64,
            ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
            p_u8,
            p_i64, p_f32,
        ]
        lib.hnsw_search_level0_mt.restype = ctypes.c_int
        lib.hnsw_search_level0_mt.argtypes = (
            lib.hnsw_search_level0.argtypes + [ctypes.c_int32]
        )
        p_u16 = ctypes.POINTER(ctypes.c_uint16)
        lib.hnsw_has_f16.restype = ctypes.c_int
        lib.hnsw_has_f16.argtypes = []
        lib.hnsw_build_candidates.restype = ctypes.c_int
        lib.hnsw_build_candidates.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int64, ctypes.c_int32,
            p_i32, ctypes.c_int32,
            p_f32, ctypes.c_int64,
            p_i64,
            ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
            ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
            p_i32, p_f32,
            ctypes.c_int32,
            p_u16,
        ]
        lib.hnsw_select_from_pool.restype = ctypes.c_int
        lib.hnsw_select_from_pool.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int32, ctypes.c_int32,
            p_i64, ctypes.c_int32, ctypes.c_int64,
            ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
            ctypes.c_int32,
            p_i64,
        ]
        lib.hnsw_select_pool_batch.restype = ctypes.c_int
        lib.hnsw_select_pool_batch.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int32, ctypes.c_int32,
            p_i64, ctypes.c_int32,
            p_i64, ctypes.c_int64,
            ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
            ctypes.c_int32,
            p_i64, ctypes.c_int32,
        ]
        lib.hnsw_wave_commit.restype = ctypes.c_int
        lib.hnsw_wave_commit.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int32, ctypes.c_int32,
            p_i32, p_i32, ctypes.c_int32,
            ctypes.c_int64, ctypes.c_int32, ctypes.c_int32,
            p_i64, ctypes.c_int64,
            p_i32, ctypes.c_int32,
            ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
            p_u8, ctypes.c_int32,
        ]
        lib.hnsw_descend.restype = ctypes.c_int
        lib.hnsw_descend.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int64, ctypes.c_int32,
            p_i32, p_i64, p_i32, ctypes.c_int32,
            p_f32, ctypes.c_int64,
            ctypes.c_int64, ctypes.c_int32,
            p_i64, p_f32,
        ]
        lib.hnsw_seed_argmin.restype = ctypes.c_int
        lib.hnsw_seed_argmin.argtypes = [
            p_f32, p_f32, p_f32,
            ctypes.c_int64, ctypes.c_int32, ctypes.c_int32,
            p_f32, ctypes.c_int64,
            p_i64, p_f32, ctypes.c_int32,
        ]
        _lib = lib
    except Exception:
        _lib = None
    return _lib


def available() -> bool:
    return _load() is not None


_SPACE_CODE = {"euclidean": 0, "cosine": 1, "manhattan": 2}


def _as_c(arr: np.ndarray, ctype):
    return arr.ctypes.data_as(ctypes.POINTER(ctype))


def _graph_buffers(g):
    """Contiguous float32/int32 views of the graph, cached on the graph
    object (mmap-backed arrays pass through zero-copy when already
    contiguous float32)."""
    bufs = getattr(g, "_ck_bufs", None)
    if bufs is not None and bufs["n"] == len(g.levels):
        return bufs
    vec = np.ascontiguousarray(g.vectors, dtype=np.float32)
    n2 = np.ascontiguousarray(g.norms2, dtype=np.float32)
    nm = np.ascontiguousarray(g.norms, dtype=np.float32)
    pad0 = np.ascontiguousarray(g.adj_pad[0], dtype=np.int32)
    bufs = {"n": len(g.levels), "vec": vec, "n2": n2, "nm": nm, "pad0": pad0}
    g._ck_bufs = bufs
    return bufs


def search_level0(
    g,
    Q: np.ndarray,
    k: int,
    ef: int,
    entries: np.ndarray,
    deleted: np.ndarray | None = None,
    threads: int = 1,
):
    """C beam search over the finalized graph; returns (ids, dists)
    arrays of shape (nq, k), -1/FLT_MAX padded.  None if the native
    kernel is unavailable (caller falls back to NumPy).  ``threads``
    > 1 fans queries across OpenMP threads — for driver-side callers
    that own the whole machine (the wave build); Spark tasks keep the
    default 1."""
    lib = _load()
    if lib is None:
        return None
    space = _SPACE_CODE.get(g.cfg.space)
    if space is None:
        return None
    b = _graph_buffers(g)
    Qf = np.ascontiguousarray(Q, dtype=np.float32)
    nq = Qf.shape[0]
    ent = np.ascontiguousarray(entries, dtype=np.int64)
    out_ids = np.empty((nq, k), dtype=np.int64)
    out_d = np.empty((nq, k), dtype=np.float32)
    del_arr = None
    if deleted is not None:
        del_arr = np.ascontiguousarray(deleted, dtype=np.uint8)
    args = [
        _as_c(b["vec"], ctypes.c_float),
        _as_c(b["n2"], ctypes.c_float),
        _as_c(b["nm"], ctypes.c_float),
        ctypes.c_int64(b["n"]),
        ctypes.c_int32(Qf.shape[1]),
        _as_c(b["pad0"], ctypes.c_int32),
        ctypes.c_int32(b["pad0"].shape[1]),
        _as_c(Qf, ctypes.c_float),
        ctypes.c_int64(nq),
        _as_c(ent, ctypes.c_int64),
        ctypes.c_int32(ef),
        ctypes.c_int32(k),
        ctypes.c_int32(space),
        (
            _as_c(del_arr, ctypes.c_uint8)
            if del_arr is not None
            else ctypes.POINTER(ctypes.c_uint8)()
        ),
        _as_c(out_ids, ctypes.c_int64),
        _as_c(out_d, ctypes.c_float),
    ]
    if threads > 1:
        rc = lib.hnsw_search_level0_mt(*args, ctypes.c_int32(threads))
    else:
        rc = lib.hnsw_search_level0(*args)
    if rc != 0:
        return None
    return out_ids, out_d


def descend(g, Q: np.ndarray):
    """Native greedy descent L..1; returns (entry_ids, entry_dists) or
    None when unavailable."""
    lib = _load()
    if lib is None:
        return None
    space = _SPACE_CODE.get(g.cfg.space)
    if space is None or g.entrypoint < 0:
        return None
    max_level = max(g.adj_pad) if g.adj_pad else 0
    if max_level == 0:
        ent = np.full(Q.shape[0], g.entrypoint, dtype=np.int64)
        return ent, None
    cached = getattr(g, "_ck_upper", None)
    if cached is None or cached["n"] != len(g.levels):
        n = len(g.levels)
        caps = np.zeros(max_level + 1, dtype=np.int32)
        offs = np.zeros(max_level + 1, dtype=np.int64)
        mats = []
        off = 0
        for lvl in range(1, max_level + 1):
            m = np.ascontiguousarray(g.adj_pad[lvl], dtype=np.int32)
            caps[lvl] = m.shape[1]
            offs[lvl] = off
            off += m.size
            mats.append(m.reshape(-1))
        pads = (
            np.concatenate(mats)
            if mats
            else np.zeros(1, dtype=np.int32)
        )
        cached = {"n": n, "pads": pads, "caps": caps, "offs": offs}
        g._ck_upper = cached
    b = _graph_buffers(g)
    Qf = np.ascontiguousarray(Q, dtype=np.float32)
    nq = Qf.shape[0]
    out_e = np.empty(nq, dtype=np.int64)
    out_d = np.empty(nq, dtype=np.float32)
    rc = lib.hnsw_descend(
        _as_c(b["vec"], ctypes.c_float),
        _as_c(b["n2"], ctypes.c_float),
        _as_c(b["nm"], ctypes.c_float),
        ctypes.c_int64(b["n"]),
        ctypes.c_int32(Qf.shape[1]),
        _as_c(cached["pads"], ctypes.c_int32),
        _as_c(cached["offs"], ctypes.c_int64),
        _as_c(cached["caps"], ctypes.c_int32),
        ctypes.c_int32(max_level),
        _as_c(Qf, ctypes.c_float),
        ctypes.c_int64(nq),
        ctypes.c_int64(g.entrypoint),
        ctypes.c_int32(space),
        _as_c(out_e, ctypes.c_int64),
        _as_c(out_d, ctypes.c_float),
    )
    if rc != 0:
        return None
    return out_e, out_d


def build_candidates(
    g,
    Q: np.ndarray,
    entries: np.ndarray,
    efc: int,
    m: int,
    threads: int = 1,
):
    """Fused walk+selection for one build wave: per item a beam walk at
    ef=efConstruction followed by neighbor selection (simple or
    heuristic per g.cfg), entirely native — no per-candidate python
    tuples.  Returns (ids (nq, m) int32, dists (nq, m) float32), -1
    padded, or None when unavailable (caller falls back)."""
    lib = _load()
    if lib is None:
        return None
    space = _SPACE_CODE.get(g.cfg.space)
    if space is None or g.cfg.extend_candidates:
        return None  # extend-candidates reads adjacency: python path
    b = _graph_buffers(g)
    Qf = np.ascontiguousarray(Q, dtype=np.float32)
    nq = Qf.shape[0]
    ent = np.ascontiguousarray(entries, dtype=np.int64)
    out_ids = np.empty((nq, m), dtype=np.int32)
    out_d = np.empty((nq, m), dtype=np.float32)
    # f16 shadow walk: the build already maintains a float16 copy for
    # selection gathers; F16C hosts walk candidates on it too (half
    # the gather bytes on the bandwidth-bound stage).  manhattan and
    # non-F16C hosts stay on float32.
    vh = getattr(g, "vectors_h", None)
    vh_ptr = ctypes.POINTER(ctypes.c_uint16)()
    if (
        vh is not None
        and g.cfg.space != "manhattan"
        and vh.dtype == np.float16
        and vh.flags.c_contiguous
        and lib.hnsw_has_f16()
    ):
        vh_ptr = vh.view(np.uint16).ctypes.data_as(
            ctypes.POINTER(ctypes.c_uint16)
        )
    rc = lib.hnsw_build_candidates(
        _as_c(b["vec"], ctypes.c_float),
        _as_c(b["n2"], ctypes.c_float),
        _as_c(b["nm"], ctypes.c_float),
        ctypes.c_int64(b["n"]),
        ctypes.c_int32(Qf.shape[1]),
        _as_c(b["pad0"], ctypes.c_int32),
        ctypes.c_int32(b["pad0"].shape[1]),
        _as_c(Qf, ctypes.c_float),
        ctypes.c_int64(nq),
        _as_c(ent, ctypes.c_int64),
        ctypes.c_int32(efc),
        ctypes.c_int32(m),
        ctypes.c_int32(space),
        ctypes.c_int32(1 if g.cfg.heuristic else 0),
        ctypes.c_int32(1 if g.cfg.keep_pruned else 0),
        ctypes.c_int32(int(g.cfg.heuristic_pool or 0)),
        _as_c(out_ids, ctypes.c_int32),
        _as_c(out_d, ctypes.c_float),
        ctypes.c_int32(threads),
        vh_ptr,
    )
    if rc != 0:
        return None
    return out_ids, out_d


def _sel_ctx(g):
    """Cached (lib, pointers, flags) for the per-call selection entries
    — ctypes pointer construction is ~half the cost of a small prune
    call, so it is done once per (graph, vectors identity)."""
    lib = _load()
    if lib is None:
        return None
    space = _SPACE_CODE.get(g.cfg.space)
    if space is None or g.cfg.extend_candidates:
        return None
    ctx = getattr(g, "_ck_sel_ctx", None)
    if ctx is not None and ctx[0] is g.vectors:
        return ctx[1]
    vec, n2, nm = g.vectors, g.norms2, g.norms
    if not (
        isinstance(vec, np.ndarray)
        and vec.dtype == np.float32
        and vec.flags.c_contiguous
        and isinstance(n2, np.ndarray)
        and n2.dtype == np.float32
        and n2.flags.c_contiguous
        and nm.dtype == np.float32
        and nm.flags.c_contiguous
    ):
        return None  # would copy per call: python path instead
    payload = (
        lib,
        _as_c(vec, ctypes.c_float),
        _as_c(n2, ctypes.c_float),
        _as_c(nm, ctypes.c_float),
        ctypes.c_int32(vec.shape[1]),
        ctypes.c_int32(space),
        ctypes.c_int32(1 if g.cfg.heuristic else 0),
        ctypes.c_int32(1 if g.cfg.keep_pruned else 0),
    )
    g._ck_sel_ctx = (vec, payload)
    return payload


def select_from_pool(
    g, pool: list[int], node: int, m: int, pool_cap: int | None = None
):
    """Native backlink-prune selection (the build's flush_overflow hot
    call): distances node→pool, sort, simple-or-heuristic select.
    Returns the kept vertex ids (list[int]) or None when unavailable.
    Caller guarantees g.norms2/g.norms cover every pool id (true during
    build — they are precomputed full-length)."""
    ctx = _sel_ctx(g)
    if ctx is None:
        return None
    lib, vp, n2p, nmp, dim_c, space_c, heur_c, keep_c = ctx
    pl = np.asarray(pool, dtype=np.int64)
    out = np.empty(m + 1, dtype=np.int64)
    ns = lib.hnsw_select_from_pool(
        vp, n2p, nmp, dim_c, space_c,
        _as_c(pl, ctypes.c_int64),
        ctypes.c_int32(len(pl)),
        ctypes.c_int64(int(node)),
        ctypes.c_int32(m),
        heur_c, keep_c,
        ctypes.c_int32(
            int(g.cfg.heuristic_pool or 0) if pool_cap is None else pool_cap
        ),
        _as_c(out, ctypes.c_int64),
    )
    if ns < 0:
        return None
    return out[:ns].tolist()


def select_pool_batch(
    g,
    pool: np.ndarray,
    nodes: np.ndarray,
    m: int,
    pool_cap: int,
    threads: int = 1,
):
    """Shared-pool selection for a wave's upper-level commits: all
    ``nodes`` select their m neighbors from the SAME candidate pool
    (that level's pre-wave vertex set), OMP over nodes.  Returns
    (len(nodes), m) int64 ids (-1 padded) or None."""
    ctx = _sel_ctx(g)
    if ctx is None:
        return None
    lib, vp, n2p, nmp, dim_c, space_c, heur_c, keep_c = ctx
    pl = np.ascontiguousarray(pool, dtype=np.int64)
    nd = np.ascontiguousarray(nodes, dtype=np.int64)
    out = np.empty((len(nd), m), dtype=np.int64)
    rc = lib.hnsw_select_pool_batch(
        vp, n2p, nmp, dim_c, space_c,
        _as_c(pl, ctypes.c_int64),
        ctypes.c_int32(len(pl)),
        _as_c(nd, ctypes.c_int64),
        ctypes.c_int64(len(nd)),
        ctypes.c_int32(m),
        heur_c, keep_c,
        ctypes.c_int32(pool_cap),
        _as_c(out, ctypes.c_int64),
        ctypes.c_int32(threads),
    )
    if rc != 0:
        return None
    return out


class WaveCommitState:
    """Pad-resident level-0 adjacency for the beam-regime wave build:
    the C side owns commit + slack-deferred backlink prunes (python
    sets are reconstructed once at the end via ``sync_back``).  The
    wide (n_final × width) pad doubles as the walk matrix — rows are
    sorted dense prefixes, identical layout contract to
    ``HnswGraph._refresh_pads``."""

    def __init__(self, g, n_final: int, width: int | None = None):
        ctx = _sel_ctx(g)
        if ctx is None:
            raise RuntimeError("ckernel unavailable")
        self._ctx = ctx
        self.g = g
        self.cap = int(g._cap(0))
        self.slack = self.cap + (self.cap >> 1)
        # headroom past slack bounds mid-wave hub growth; walks stop at
        # the first -1 so the extra stride is free
        self.width = int(width or max(2 * self.cap, self.slack + 16))
        n0 = len(g.levels)
        old = g.adj_pad.get(0)
        self.pad0 = np.full((n_final, self.width), -1, dtype=np.int32)
        self.len0 = np.zeros(n_final, dtype=np.int32)
        if old is not None and old.size:
            c = min(old.shape[1], self.width)
            self.pad0[: old.shape[0], :c] = old[:, :c]
            self.len0[: old.shape[0]] = (old >= 0).sum(axis=1)
        self.over = np.zeros(n_final, dtype=np.uint8)
        self.n_final = n_final
        # install as THE walk matrix (dense-prefix contract holds) and
        # drop the buffer cache so the kernel re-reads it
        g.adj_pad[0] = self.pad0
        if hasattr(g, "_ck_bufs"):
            del g._ck_bufs
        assert n0 <= n_final

    def commit_wave(self, wave_ids, sel_ids: np.ndarray, strict: bool = False) -> bool:
        """Commit one wave's level-0 selections (int32 (nw, m), -1 pad,
        from ``build_candidates``) and run the slack flush.  Empty
        wave + strict=True is the closing strict pass."""
        lib, vp, n2p, nmp, dim_c, space_c, heur_c, keep_c = self._ctx
        ids = np.ascontiguousarray(wave_ids, dtype=np.int64)
        if len(ids):
            sel = np.ascontiguousarray(sel_ids, dtype=np.int32)
            m_sel = sel.shape[1]
        else:
            sel = np.empty((0, 1), dtype=np.int32)
            m_sel = 1
        rc = lib.hnsw_wave_commit(
            vp, n2p, nmp, dim_c, space_c,
            _as_c(self.pad0, ctypes.c_int32),
            _as_c(self.len0, ctypes.c_int32),
            ctypes.c_int32(self.width),
            ctypes.c_int64(self.n_final),
            ctypes.c_int32(self.cap),
            ctypes.c_int32(self.slack),
            _as_c(ids, ctypes.c_int64),
            ctypes.c_int64(len(ids)),
            _as_c(sel, ctypes.c_int32),
            ctypes.c_int32(m_sel),
            heur_c, keep_c,
            ctypes.c_int32(int(self.g.cfg.heuristic_pool or 0)),
            _as_c(self.over, ctypes.c_uint8),
            ctypes.c_int32(1 if strict else 0),
        )
        return rc == 0

    def sync_back(self, g) -> None:
        """Rebuild the python level-0 sets and install a trimmed walk
        pad (serving code sizes rows by pad width)."""
        n = len(g.levels)
        lens = self.len0[:n]
        maxlen = int(lens.max()) if n else 0
        g.adj_pad[0] = np.ascontiguousarray(
            self.pad0[:n, : max(maxlen, 1)]
        )
        pad = self.pad0
        for i in range(n):
            li = int(lens[i])
            g.adj[i][0] = set(pad[i, :li].tolist())
        if hasattr(g, "_ck_bufs"):
            del g._ck_bufs


def seed_argmin(g, seeds: np.ndarray, Qf: np.ndarray, threads: int = 1):
    """Native batched entry seeding: per query the argmin-distance
    member of ``seeds`` (graph vertex ids).  Returns (best_pos,
    dists) with best_pos indexing INTO ``seeds`` — or None when the
    kernel is unavailable.  OMP over queries, so the wall is
    independent of the host's BLAS thread configuration (the
    python-thread + BLAS chunking it replaces measured 0.02-0.45 s
    for 10k x 1024 x 784 depending on BLAS pools)."""
    lib = _load()
    if lib is None:
        return None
    space = _SPACE_CODE.get(g.cfg.space)
    if space is None:
        return None
    pack = getattr(g, "_ck_seedpack", None)
    if (
        pack is None
        or pack["n"] != len(g.levels)
        or not np.array_equal(pack["seeds"], seeds)
    ):
        sv = np.ascontiguousarray(g.vectors[seeds], dtype=np.float32)
        sn2 = np.ascontiguousarray(g.norms2[seeds], dtype=np.float32)
        sn = np.ascontiguousarray(g.norms[seeds], dtype=np.float32)
        pack = {
            "n": len(g.levels), "seeds": seeds.copy(),
            "sv": sv, "sn2": sn2, "sn": sn,
        }
        g._ck_seedpack = pack
    Qf = np.ascontiguousarray(Qf, dtype=np.float32)
    nq = Qf.shape[0]
    out_b = np.empty(nq, dtype=np.int64)
    out_d = np.empty(nq, dtype=np.float32)
    rc = lib.hnsw_seed_argmin(
        _as_c(pack["sv"], ctypes.c_float),
        _as_c(pack["sn2"], ctypes.c_float),
        _as_c(pack["sn"], ctypes.c_float),
        ctypes.c_int64(len(seeds)),
        ctypes.c_int32(Qf.shape[1]),
        ctypes.c_int32(space),
        _as_c(Qf, ctypes.c_float),
        ctypes.c_int64(nq),
        _as_c(out_b, ctypes.c_int64),
        _as_c(out_d, ctypes.c_float),
        ctypes.c_int32(max(threads, 1)),
    )
    if rc != 0:
        return None
    return out_b, out_d
