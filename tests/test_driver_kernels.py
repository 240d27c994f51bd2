"""Driver-side k-means kernels on the explicit core pool.

Bit-identity: the row-blocked, pooled assignment step must give the same
centroids, codes and objectives as the unblocked single-GEMM form (the
references below are the kernels as they were before the pool). Leak
checks: the OpenBLAS thread count and the live thread count are the same
before and after every pooled call, exceptions included.
"""

import sys
import threading

import numpy as np
import pyarrow as pa
import pytest

from faiss_spark import kernels
from faiss_spark.operators.cluster import EPS_SPLIT, KMeans, _scatter_sum
from faiss_spark.operators.codecs import train_residual_stages, train_subquantizers
from faiss_spark.operators.ivf import IVFPQIndex, NestedCoarseRouter


def _blas_threads():
    """OpenBLAS's current thread count, or None without a handle."""
    h = kernels._openblas()
    return None if h is None else h[0]()


@pytest.fixture
def blas2():
    """OpenBLAS set to 2 threads (not 1, so a leaked pin shows) for the
    test, the original count restored after; without an OpenBLAS handle
    the count assertions compare None to None."""
    h = kernels._openblas()
    if h is None:
        yield None
        return
    saved = h[0]()
    h[1](2)
    if h[0]() != 2:
        h[1](saved)
        pytest.skip("OpenBLAS cannot run 2 threads here")
    yield 2
    h[1](saved)


def _ref_kmeans_np(X, k, niter, seed):
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.permutation(len(X))[:k]].copy()
    labels = None
    for _ in range(niter):
        d2 = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        labels = d2.argmin(1)
        sums = _scatter_sum(labels, X, len(C)).astype(C.dtype, copy=False)
        counts = np.bincount(labels, minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C, labels


def _ref_lloyd(X, k, niter, seed, spherical, weights=None):
    """Lloyd's with one unblocked GEMM per iteration."""
    n, d = X.shape
    rng = np.random.default_rng(seed)
    C = X[rng.permutation(n)[:k]].copy()
    if spherical:
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        C /= norms
    w = weights if weights is not None else np.ones(n, dtype=np.float64)
    obj_history = []
    xsq = (X * X).sum(1)
    rows = np.arange(n)
    for _ in range(niter):
        G = np.dot(X, np.ascontiguousarray(C.T))
        if spherical:
            labels = np.argmax(G, axis=1)
            best = G[rows, labels]
            obj = float((w * best).sum())
        else:
            D = (C * C).sum(1)[None, :] - 2.0 * G
            labels = np.argmin(D, axis=1)
            best = D[rows, labels] + xsq
            obj = float((w * np.maximum(best, 0.0)).sum())
        obj_history.append(obj)
        sums = _scatter_sum(labels, X * w[:, None], k)
        counts = np.bincount(labels, weights=w, minlength=k).astype(np.float64)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty][:, None]
        for ci in np.nonzero(~nonempty)[0]:
            big = int(np.argmax(counts))
            C[ci] = C[big] * (1 + EPS_SPLIT)
            C[big] = C[big] * (1 - EPS_SPLIT)
            counts[ci] = counts[big] / 2
            counts[big] = counts[big] - counts[ci]
        if spherical:
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            C /= norms
    return C, obj_history


def _ref_subquantizers(X, M, ksub, niter, seed):
    n, d = X.shape
    dsub = d // M
    books = np.empty((M, min(ksub, n), dsub), np.float64)
    codes = np.empty((n, M), np.int64)
    for m in range(M):
        books[m], codes[:, m] = _ref_kmeans_np(
            X[:, m * dsub : (m + 1) * dsub], ksub, niter, seed + m
        )
    return books, codes


@pytest.mark.parametrize(
    "n,d,M,ksub", [(10_000, 64, 8, 256), (200, 9, 3, 256)], ids=["pq8x8", "odd"]
)
def test_train_subquantizers_bit_identical(n, d, M, ksub):
    X = np.random.default_rng(3).standard_normal((n, d))
    books, codes = train_subquantizers(X, M, ksub, 15, 7)
    ref_books, ref_codes = _ref_subquantizers(X, M, ksub, 15, 7)
    assert books.shape == (M, min(ksub, n), d // M)
    assert np.array_equal(books, ref_books)
    assert np.array_equal(codes, ref_codes)


def test_train_residual_stages_bit_identical():
    """The greedy residual stages (RQ, LSQ init, AQ fast-scan, the norm
    books) equal the stage loop each of them carried before."""
    X = np.random.default_rng(4).standard_normal((3000, 12))
    ksubs = [16, 64, 8]
    books = train_residual_stages(X, ksubs, 6, 2)
    resid = X.copy()
    for m, ksub in enumerate(ksubs):
        C, labels = _ref_kmeans_np(resid, ksub, 6, 2 + m)
        assert np.array_equal(books[m], C)
        resid = resid - C[labels]


def test_nested_router_pq_bit_identical():
    C = np.random.default_rng(5).standard_normal((600, 32))
    r = NestedCoarseRouter.build(("pq", 4, 8), C, seed=11)
    ref_books, ref_codes = _ref_subquantizers(C, 4, 256, 15, 11)
    assert np.array_equal(r.pq_books, ref_books)
    assert np.array_equal(r.cent_codes, ref_codes)


@pytest.fixture(scope="module")
def fit_frame(spark):
    """40k rows: the fit's assignment spans several row blocks."""
    rng = np.random.default_rng(9)
    n, d = 40_000, 16
    X = rng.standard_normal((n, d)) + rng.integers(0, 4, (n, 1))
    w = rng.uniform(0.5, 2.0, n)
    tbl = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "vec": pa.array(list(X), pa.list_(pa.float64())),
        "w": pa.array(w),
    })
    df = spark.createDataFrame(tbl).cache()
    # the matrix exactly as the fit collects it
    got = df.select("vec", "w").toArrow()
    Xc = kernels.arrow_list_matrix(got.column("vec"))
    wc = np.asarray(got.column("w").to_numpy(), np.float64)
    yield df, Xc, wc
    df.unpersist()


@pytest.mark.parametrize("variant", ["plain", "spherical", "weighted"])
def test_kmeans_fit_bit_identical(fit_frame, variant):
    df, X, w = fit_frame
    k, niter, seed = 160, 6, 21  # 256·k ≥ n: the fit trains on every row
    spherical = variant == "spherical"
    weights = w if variant == "weighted" else None
    model = KMeans(k=k, niter=niter, seed=seed, spherical=spherical).fit(
        df, weight_col="w" if weights is not None else None
    )
    C, obj = _ref_lloyd(X, k, niter, seed, spherical, weights)
    assert np.array_equal(model.centroids, C)
    assert model.obj == obj


def test_one_blas_thread_scoped_and_reentrant(blas2):
    if blas2 is None:
        pytest.skip("no OpenBLAS handle found")
    with kernels.one_blas_thread():
        assert _blas_threads() == 1
        with kernels.one_blas_thread():
            assert _blas_threads() == 1
        # the inner exit is not the outermost: still pinned
        assert _blas_threads() == 1
    assert _blas_threads() == 2


def test_pin_survives_concurrent_entries(blas2):
    """More threads than cores enter and leave the pin at a short switch
    interval: a lost depth update would leave the count pinned at 1, or
    restore it while another thread is still inside."""
    if blas2 is None:
        pytest.skip("no OpenBLAS handle found")
    bad = []

    def worker():
        for _ in range(200):
            with kernels.one_blas_thread():
                if _blas_threads() != 1:
                    bad.append(_blas_threads())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert _blas_threads() == 2


def test_pool_map_restores_pin_on_exception(blas2):
    threads = threading.active_count()

    def boom(i):
        if i == 3:
            raise RuntimeError("item 3")
        return i

    with pytest.raises(RuntimeError, match="item 3"):
        kernels.driver_pool_map(boom, range(8))
    assert _blas_threads() == blas2
    assert threading.active_count() == threads


def test_nested_pool_map_runs_inline():
    def outer(i):
        me = threading.get_ident()
        inner = kernels.driver_pool_map(lambda _: threading.get_ident(), range(4))
        return all(t == me for t in inner)

    assert all(kernels.driver_pool_map(outer, range(4)))
    assert kernels.driver_pool_map(lambda x: x * x, range(5)) == [0, 1, 4, 9, 16]


def test_trains_leave_no_pin_or_threads(fit_frame, blas2):
    df, _, _ = fit_frame
    small = df.limit(3000)

    trains = [
        lambda: KMeans(k=16, niter=4, seed=1).fit(small),
        lambda: IVFPQIndex.train(small, nlist=8, M=4, niter=4, pq_niter=4),
    ]
    for train in trains:
        train()  # warm-up: first use may start long-lived session threads
        assert _blas_threads() == blas2
        threads = threading.active_count()
        train()
        assert _blas_threads() == blas2
        assert threading.active_count() == threads
