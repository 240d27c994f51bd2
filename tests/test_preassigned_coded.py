"""Distributed big-batch (preassigned) twins for the CODED and
custom-coarse IVF families — r13 (VERDICT r12 #1/#2): the ADC cogroup
over PQ-coded lists (IVFPQ / IMIPQ), the AQ and PQR-codes twins, and
the assign-override flat twins (RCQ beam, nested routers, IMI/MIQ2
product grids). Every twin must return exactly what its driver-planned
path returns (same probes, same distances), and every driver search
must auto-fall-back to its twin past the query bound (reference
contrib/ivf_tools.py:26-57 — the big-batch pattern is index-agnostic;
benchs/distributed_ondisk/README.md is the PQ flagship)."""

import pytest
from pyspark.sql import functions as F

import faiss_spark.operators.ivf as ivfmod
from faiss_spark.operators.ivf import (
    IMIIVFIndex,
    IMIPQIndex,
    IVFAQIndex,
    IVFNestedIndex,
    IVFPQIndex,
    IVFPQRIndex,
    IVFRCQIndex,
    MIQ2IVFIndex,
    aq_search_preassigned,
    pq_search_preassigned,
    pqr_search_preassigned,
    search_preassigned,
)


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")


def rows(df, nd=6):
    return sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], nd))
        for r in df.collect()
    )


def _spy_fallback(monkeypatch, twin_name):
    calls = []
    real = getattr(ivfmod, twin_name)

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(ivfmod, twin_name, spy)
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)  # 1 row at d=64
    return calls


def test_pq_search_preassigned_equals_driver(vectors, queries):
    """IVFPQ ADC cogroup == driver-planned ADC at every probe depth,
    including the polysemous in-scan Hamming pre-filter."""
    idx = IVFPQIndex.train(vectors, nlist=8, M=8, seed=42, niter=5).add(vectors)
    for nprobe in (1, 3, 8):
        assert rows(pq_search_preassigned(idx, queries, 5, nprobe=nprobe)) == rows(
            idx.search(queries, 5, nprobe=nprobe)
        ), nprobe
    # polysemous_ht rides through the cogroup identically
    assert rows(
        pq_search_preassigned(idx, queries, 5, nprobe=8, polysemous_ht=30)
    ) == rows(idx.search(queries, 5, nprobe=8, polysemous_ht=30))


def test_pq_search_preassigned_imi_and_max_codes(vectors, queries):
    """IMIPQ twin: IMI product-grid probe selection executor-side +
    the nearest-first max_codes scan budget (ragged probe sets)."""
    idx = IMIPQIndex.train(vectors, nbits=2, M=8, seed=42, niter=5).add(vectors)
    idx.codes = idx.codes.localCheckpoint(eager=True)
    assert rows(pq_search_preassigned(idx, queries, 5, nprobe=4)) == rows(
        idx.search(queries, 5, nprobe=4)
    )
    assert rows(
        pq_search_preassigned(idx, queries, 5, nprobe=8, max_codes=100)
    ) == rows(idx.search(queries, 5, nprobe=8, max_codes=100))


def test_pq_driver_fallback_routes_to_twin(vectors, queries, monkeypatch):
    idx = IVFPQIndex.train(vectors, nlist=8, M=8, seed=42, niter=5).add(vectors)
    direct = rows(pq_search_preassigned(idx, queries, 5, nprobe=4))
    calls = _spy_fallback(monkeypatch, "pq_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=4)) == direct and direct
    assert calls, "size guard did not route through pq_search_preassigned"


def test_imipq_driver_fallback_routes_to_twin(vectors, queries, monkeypatch):
    idx = IMIPQIndex.train(vectors, nbits=2, M=8, seed=42, niter=5).add(vectors)
    idx.codes = idx.codes.localCheckpoint(eager=True)
    direct = rows(pq_search_preassigned(idx, queries, 5, nprobe=4))
    calls = _spy_fallback(monkeypatch, "pq_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=4)) == direct and direct
    assert calls


def test_aq_search_preassigned_equals_driver(vectors, queries, monkeypatch):
    """IVFAQ twin: per-cell gather-sum decode == driver scan, and the
    driver search auto-falls-back past the bound."""
    idx = IVFAQIndex.train(vectors, nlist=8, M=4, seed=42, niter=5).add(vectors)
    for nprobe in (1, 3, 8):
        assert rows(aq_search_preassigned(idx, queries, 5, nprobe=nprobe)) == rows(
            idx.search(queries, 5, nprobe=nprobe)
        ), nprobe
    # the '_N*' stored-norm estimator branch and an RCQ coarse quantizer
    # (beam probes, virtual-centroid decode) score identically too
    from faiss_spark.operators.codecs import ResidualCoarseQuantizer

    cq = ResidualCoarseQuantizer(M=2, nbits=2, seed=42).fit(vectors)
    qint8 = IVFAQIndex.train(
        vectors, nlist=8, M=4, seed=42, niter=5, search_type="qint8"
    ).add(vectors)
    assert qint8.norm_q is not None
    rcq = IVFAQIndex.train(
        vectors, nlist=cq.nlist, M=4, seed=42, coarse_q=cq
    ).add(vectors)
    for name, v in (("qint8", qint8), ("rcq", rcq)):
        got = rows(aq_search_preassigned(v, queries, 5, nprobe=3))
        assert got and got == rows(v.search(queries, 5, nprobe=3)), name
    direct = rows(aq_search_preassigned(idx, queries, 5, nprobe=3))
    calls = _spy_fallback(monkeypatch, "aq_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=3)) == direct and direct
    assert calls


def test_pqr_search_preassigned_equals_driver(vectors, queries, monkeypatch):
    """IVFPQR codes-rerank twin: ADC shortlist + refine decode per cell
    == the driver _search_pqr_codes, and the codes-only search
    auto-falls-back past the bound."""
    idx = IVFPQRIndex.train(
        vectors, nlist=8, M=8, k_factor=4, seed=7, niter=5, M_refine=8
    )
    idx.vectors = None  # codes-only (the 100 TB shape)
    for nprobe in (1, 3):
        assert rows(
            pqr_search_preassigned(idx, queries, 5, nprobe=nprobe)
        ) == rows(
            idx.search(queries, 5, nprobe=nprobe, rerank="pqr_codes")
        ), nprobe
    direct = rows(pqr_search_preassigned(idx, queries, 5, nprobe=3))
    calls = _spy_fallback(monkeypatch, "pqr_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=3)) == direct and direct
    assert calls


def test_rcq_nested_imi_fallbacks_route_and_match(
    vectors, queries, monkeypatch
):
    """The flat-list custom-coarse searches (RCQ beam, nested router,
    IMI/MIQ2 product grids) all route to search_preassigned with THEIR
    OWN assignment executor-side — results equal the driver plan."""
    rcq = IVFRCQIndex.train(vectors, M=2, nbits=2, seed=42).add(vectors)
    nst = IVFNestedIndex.train(
        vectors, nlist=8, sub=("pq", 8, 4), seed=42, niter=5
    ).add(vectors)
    imi = IMIIVFIndex.train(vectors, nbits=2, seed=42).add(vectors)
    miq = MIQ2IVFIndex.train(vectors, nbits=2, assign_k2=2, seed=42).add(vectors)
    expected = {
        name: rows(idx.search(queries, 5, nprobe=4))
        for name, idx in (
            ("rcq", rcq), ("nested", nst), ("imi", imi), ("miq2", miq)
        )
    }

    calls = _spy_fallback(monkeypatch, "search_preassigned")
    got = {
        "rcq": rows(rcq.search(queries, 5, nprobe=4)),
        "nested": rows(nst.search(queries, 5, nprobe=4)),
        "imi": rows(imi.search(queries, 5, nprobe=4)),
        "miq2": rows(miq.search(queries, 5, nprobe=4)),
    }
    assert len(calls) == 4, "all four must route through search_preassigned"
    for name in expected:
        assert got[name] == expected[name] and got[name], name


def test_pq_code_view_two_byte_subcodes(vectors, queries):
    """9-bit sub-codes store two LE bytes each; the driver ADC scan and
    the cogroup twin must decode them identically (the _pq_code_view
    guard — without it a >8-bit PQ silently mis-indexes its LUTs)."""
    idx = IVFPQIndex.train(
        vectors, nlist=4, M=8, seed=42, niter=5, nbits=9
    ).add(vectors)
    assert idx.pq.ksub > 256  # genuinely 2-byte sub-codes at this corpus
    a = rows(idx.search(queries, 5, nprobe=4))
    assert rows(pq_search_preassigned(idx, queries, 5, nprobe=4)) == a
    # full probe leaves only PQ quantization error: each query's own id
    # must sit at rank 1 (its decoded residual is its own reconstruction)
    top1 = {
        r["qid"]: r["id"]
        for r in idx.search(queries, 3, nprobe=4).collect()
        if r["rank"] == 1
    }
    hit = sum(1 for q, i in top1.items() if q == i)
    assert hit >= len(top1) * 0.8, top1


def test_fastscan_preassigned_equals_driver(vectors, queries, monkeypatch):
    """IVF fast-scan twins (PQ and AQ forms, both by_residual modes):
    the probe-assignment map quantizes the per-query LUTs exactly as
    the driver path (joint per-query quantization — the cogroup ships
    uint8 LUT bytes, never codebooks), so the distributed scan is
    bit-identical; the driver search auto-falls-back past the bound."""
    import faiss_spark.operators.fastscan as fsmod
    from faiss_spark.operators.fastscan import (
        IVFAQFastScanIndex,
        IVFPQFastScanIndex,
        aq_fastscan_search_preassigned,
        fastscan_search_preassigned,
    )

    for br in (True, False):
        idx = IVFPQFastScanIndex.train(
            vectors, nlist=8, M=8, seed=42, niter=5, by_residual=br
        ).add(vectors)
        assert rows(fastscan_search_preassigned(idx, queries, 5, nprobe=3)) == rows(
            idx.search(queries, 5, nprobe=3)
        ), br
        aidx = IVFAQFastScanIndex.train(
            vectors, nlist=8, M=4, seed=42, niter=5, by_residual=br
        ).add(vectors)
        assert rows(
            aq_fastscan_search_preassigned(aidx, queries, 5, nprobe=3)
        ) == rows(aidx.search(queries, 5, nprobe=3)), br

    # fallback routing (the module-global twins are what the hooks call)
    calls = []
    for name in ("fastscan_search_preassigned", "aq_fastscan_search_preassigned"):
        real = getattr(fsmod, name)

        def spy(*a, _real=real, **kw):
            calls.append(1)
            return _real(*a, **kw)

        monkeypatch.setattr(fsmod, name, spy)
    import faiss_spark.operators.ivf as ivfmod

    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)
    assert rows(idx.search(queries, 5, nprobe=3))
    assert rows(aidx.search(queries, 5, nprobe=3))
    assert len(calls) == 2


def test_sh_search_preassigned_equals_driver(vectors, queries, monkeypatch):
    """IVFSpectralHash twin: probe selection + the per-(query, list)
    periodic re-binarization run executor-side; Hamming join results
    equal the driver plan, and the driver search auto-falls-back."""
    from faiss_spark.operators.ivf import IVFSpectralHash, sh_search_preassigned

    idx = IVFSpectralHash.train(
        vectors, nlist=8, nbit=32, period=1.0, threshold_type="median",
        transform="pca", seed=42, niter=5,
    ).add(vectors)
    direct = rows(idx.search(queries, 5, nprobe=4))
    assert rows(sh_search_preassigned(idx, queries, 5, nprobe=4)) == direct
    calls = _spy_fallback(monkeypatch, "sh_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=4)) == direct and direct
    assert calls


@pytest.mark.parametrize("family", ["ivf", "fastscan", "sh"])
def test_double_queries_driver_equals_cogroup(vectors, family):
    """array<double> queries keep their float width in the cogroup probe
    table: with query values float32 cannot represent, the driver plan
    and the cogroup twin return the same ids, dist within 1e-9."""
    import numpy as np

    from faiss_spark.operators.fastscan import (
        IVFPQFastScanIndex,
        fastscan_search_preassigned,
    )
    from faiss_spark.operators.ivf import (
        IVFIndex,
        IVFSpectralHash,
        sh_search_preassigned,
    )

    if family == "ivf":
        idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5)
        twin = search_preassigned
    elif family == "fastscan":
        idx = IVFPQFastScanIndex.train(vectors, nlist=8, M=8, seed=42, niter=5)
        twin = fastscan_search_preassigned
    else:
        idx = IVFSpectralHash.train(vectors, nlist=8, nbit=32, seed=42, niter=5)
        twin = sh_search_preassigned
    idx.add(vectors)
    rng = np.random.default_rng(0)
    qrows = []
    for r in vectors.filter("id < 20").orderBy("id").collect():
        v = np.asarray(r["vec"], np.float64)
        qrows.append((r["id"], (v + 1e-4 * rng.standard_normal(len(v))).tolist()))
    assert any(np.float32(x) != x for _, v in qrows for x in v)
    qd = vectors.sparkSession.createDataFrame(
        qrows, "qid bigint, vec array<double>"
    )

    def full(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], r["dist"]) for r in df.collect()
        )

    drv = full(idx.search(qd, 5, nprobe=3))
    cog = full(twin(idx, qd, 5, nprobe=3))
    assert drv and [t[:3] for t in drv] == [t[:3] for t in cog]
    assert max(abs(a[3] - b[3]) for a, b in zip(drv, cog)) <= 1e-9


def test_graph_routed_fallback_equals_driver(vectors, queries, monkeypatch):
    """IVF<n>_NSG<R> (graph-routed coarse): past the bound the factory
    plan routes through search_preassigned with the identical beam walk
    and distinct-pad fill executor-side."""
    from faiss_spark.plans.factory import index_factory

    plan = index_factory("IVF16_NSG8,Flat").fit(vectors, seed=42)
    direct = rows(plan.search(queries, 5, nprobe=4))
    calls = _spy_fallback(monkeypatch, "search_preassigned")
    assert rows(plan.search(queries, 5, nprobe=4)) == direct and direct
    assert calls


def test_pq_bucketed_layout_skips_corpus_exchange(vectors, queries, tmp_path):
    """IVFPQIndex.save_bucketed must feed the ADC cogroup straight off
    the bucketed scan — the codes-side Exchange disappears and results
    are identical (the zero-corpus-shuffle shape of the SIFT1B
    distributed_ondisk pipeline)."""
    idx = IVFPQIndex.train(vectors, nlist=8, M=8, seed=42, niter=5).add(vectors)
    base = pq_search_preassigned(idx, queries, 5, nprobe=4)
    p0 = base._jdf.queryExecution().executedPlan().toString()
    expect = rows(base)

    idx.save_bucketed(str(tmp_path / "pqb"), nbuckets=8)
    res = pq_search_preassigned(idx, queries, 5, nprobe=4)
    p1 = res._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange hashpartitioning(list_no") == (
        p0.count("Exchange hashpartitioning(list_no") - 1
    ), p1
    assert "Bucketed: true" in p1, p1
    assert rows(res) == expect

    spark = vectors.sparkSession
    idx2 = IVFPQIndex.load(spark, str(tmp_path / "pqb"))
    res2 = pq_search_preassigned(idx2, queries, 5, nprobe=4)
    assert "Bucketed: true" in res2._jdf.queryExecution().executedPlan().toString()
    assert rows(res2) == expect
