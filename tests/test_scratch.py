"""The one scratch allocator under every NumPy scoring kernel."""

import threading

import numpy as np
import pytest

from anndb_spark.operators import _scratch


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_scratch_mat_thread_local_and_capped(monkeypatch, dtype):
    """Buffers are thread-local (a driver-local serve or an embedder
    thread pool entering a kernel concurrently must never share a
    distance matrix), and a buffer above ANNDB_SCRATCH_CAP_BYTES is
    released when the next request needs under a quarter of it (the
    documented memory bound)."""
    backing = {}

    def work(tag):
        m = _scratch.scratch_mat("tl_test", 8, 8, dtype)
        m[:] = float(ord(tag))
        # hold the FLAT buffer object itself (id() of a freed buffer
        # can be reused by the next thread's allocation)
        backing[tag] = (_scratch._TLS.bufs["tl_test"], m.copy())

    threads = [threading.Thread(target=work, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert backing["a"][0] is not backing["b"][0]  # distinct buffers
    assert backing["a"][1][0, 0] != backing["b"][1][0, 0]
    assert backing["a"][1].dtype == dtype

    itemsize = np.dtype(dtype).itemsize
    monkeypatch.setattr(_scratch, "_CAP_BYTES", itemsize * 100)  # 100 elems
    big = _scratch.scratch_mat("cap_test", 20, 20, dtype)  # 400 elems > cap
    small = _scratch.scratch_mat("cap_test", 3, 3, dtype)  # 9 * 4 < 400 -> freed
    assert _scratch._TLS.bufs["cap_test"].size == 9
    assert big.shape == (20, 20) and small.shape == (3, 3)
    assert small.dtype == dtype


def test_one_blas_thread_pins_and_restores():
    from anndb_spark.operators._scratch import _openblas, one_blas_thread

    blas = _openblas()
    if not blas:
        pytest.skip("numpy's BLAS is not an OpenBLAS with a thread setter")
    before = blas[1]()
    with one_blas_thread():
        assert blas[1]() == 1
    assert blas[1]() == before


def test_one_blas_thread_overlapping_callers_share_one_hold():
    """A enters, B enters, A leaves: B still runs on one thread; the
    count comes back only when B leaves too."""
    from anndb_spark.operators._scratch import _openblas, one_blas_thread

    blas = _openblas()
    if not blas:
        pytest.skip("numpy's BLAS is not an OpenBLAS with a thread setter")
    before = blas[1]()
    a, b = one_blas_thread(), one_blas_thread()
    a.__enter__()
    b.__enter__()
    a.__exit__(None, None, None)
    assert blas[1]() == 1
    b.__exit__(None, None, None)
    assert blas[1]() == before
