"""Thread-local reused scratch buffers for NumPy scoring kernels.

One allocator for every (q, n)-sized intermediate in the package: the
HNSW brute scan, IVF's `_pairwise`, the exact-kNN GEMM join and the
PQ/IVFPQ ADC scanners.  A fresh multi-MB allocation per call in a
32-way-concurrent Arrow worker path is a latent 100x first-touch tail
on fault-slow hosts (measured: p90 5.6 s per 25 MB of fresh pages
under 32-way concurrency; an IVF micro A/B read p90 13.1 s fresh vs
0.31 s reused at the (64, 50k) float64 shape), while reused pages
cost zero.  The largest users are the ADC scanners ((nq, 65536)
float32 per row chunk) and the hidden (nq, n) int64 index matrix
inside whole-matrix ``np.argpartition(axis=1)``, which `argpart_rows`
avoids.

Contract:

* one flat capacity buffer per (thread, tag), grown monotonically;
* a buffer above ``ANNDB_SCRATCH_CAP_BYTES`` (default 256 MB) is
  released when the next request needs under a quarter of it, so one
  outlier batch cannot pin memory for process lifetime;
* thread-LOCAL so concurrent driver-side callers never share a
  matrix;
* the returned view is valid until the caller's next request for the
  same tag on the same thread — callers must consume (or copy out of)
  a scratch matrix before re-requesting its tag.

`one_blas_thread` pins numpy's OpenBLAS to one thread for a block.
Python workers run one BLAS thread (``OPENBLAS_NUM_THREADS=1``), but a
driver that imported numpy before `session.get_spark` set that variable
runs one per core, and a GEMM's summation order — so its last bits —
follows the thread split.  Kernels run in the driver under it score
exactly as they do in a task.
"""

from __future__ import annotations

import contextlib
import ctypes
import functools
import glob
import os
import threading

import numpy as np

_TLS = threading.local()
_CAP_BYTES = int(os.environ.get("ANNDB_SCRATCH_CAP_BYTES", str(256 << 20)))


def scratch_mat(
    tag: str, rows: int, cols: int, dtype=np.float32
) -> np.ndarray:
    bufs = getattr(_TLS, "bufs", None)
    if bufs is None:
        bufs = _TLS.bufs = {}
    need = rows * cols
    flat = bufs.get(tag)
    if (
        flat is None
        or flat.dtype != np.dtype(dtype)
        or flat.size < need
        or (flat.nbytes > _CAP_BYTES and need * 4 < flat.size)
    ):
        flat = np.empty(need, dtype=dtype)
        bufs[tag] = flat
    return flat[:need].reshape(rows, cols)


def argpart_rows(d: np.ndarray, kk: int) -> np.ndarray:
    """Row-wise top-kk argpartition: (|Q|, kk) int64 indices.

    Identical selection + tie behavior to
    ``np.argpartition(d, kk-1, axis=1)[:, :kk]`` (axis=1 runs the same
    introselect per row), but the per-row form's internal scratch is a
    KB-scale arena allocation instead of a hidden fresh (|Q|, n) int64
    index matrix."""
    part = np.empty((d.shape[0], kk), dtype=np.int64)
    for qi in range(d.shape[0]):
        part[qi] = np.argpartition(d[qi], kk - 1)[:kk]
    return part


_BLAS_SETTERS = ("openblas_set_num_threads64_", "openblas_set_num_threads",
                 "scipy_openblas_set_num_threads64_")


@functools.cache
def _openblas() -> tuple:
    """(set, get) of the thread count of the OpenBLAS numpy loaded, or
    () when none is found."""
    root = os.path.dirname(os.path.dirname(np.__file__))
    for path in glob.glob(os.path.join(root, "numpy.libs", "libopenblas*")) + glob.glob(
        os.path.join(root, "numpy", ".libs", "libopenblas*")
    ):
        try:
            lib = ctypes.CDLL(path)  # already loaded by numpy: same handle
        except OSError:
            continue
        for name in _BLAS_SETTERS:
            getter = name.replace("_set_", "_get_")
            if hasattr(lib, name) and hasattr(lib, getter):
                set_fn, get_fn = getattr(lib, name), getattr(lib, getter)
                set_fn.argtypes, set_fn.restype = [ctypes.c_int], None
                get_fn.argtypes, get_fn.restype = [], ctypes.c_int
                return set_fn, get_fn
    return ()


_BLAS_LOCK = threading.Lock()
_BLAS_HOLD = [0, 0]  # [callers inside, count to restore on the last exit]


@contextlib.contextmanager
def one_blas_thread():
    """Run the block with numpy's OpenBLAS on one thread; a no-op when no
    OpenBLAS setter is found.  The count is process-wide, so callers
    share one hold: the first to enter saves the count and sets 1, the
    last to leave restores it — overlapping callers (threads serving
    requests) all run their GEMMs on one thread."""
    blas = _openblas()
    if not blas:
        yield
        return
    with _BLAS_LOCK:
        if not _BLAS_HOLD[0]:
            _BLAS_HOLD[1] = blas[1]()
            blas[0](1)
        _BLAS_HOLD[0] += 1
    try:
        yield
    finally:
        with _BLAS_LOCK:
            _BLAS_HOLD[0] -= 1
            if not _BLAS_HOLD[0]:
                blas[0](_BLAS_HOLD[1])
