"""ResidualCoarseQuantizer / LSCoarseQuantizer (reference
faiss/IndexAdditiveQuantizer.h:161,193) and the binary factory strings
(reference faiss/index_factory.cpp:895-915)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.binary import binarize, hamming_knn
from faiss_spark.operators.codecs import (
    LSCoarseQuantizer,
    ResidualCoarseQuantizer,
    ResidualCoarseQuantizerModel,
)
from faiss_spark.operators.ivf import IVFRCQIndex
from faiss_spark.operators.knn import knn
from faiss_spark.plans.factory import (
    index_binary_factory,
    index_factory,
    reverse_index_binary_factory,
    reverse_index_factory,
)


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter("id < 8").select(F.col("id").alias("qid"), "vec")


@pytest.fixture(scope="module")
def rcq(vectors):
    return ResidualCoarseQuantizer(M=2, nbits=3, seed=42).fit(vectors)


def _mat(df, col="vec"):
    pdf = df.orderBy("id").toPandas()
    return np.stack(pdf[col]).astype(np.float64)


def test_rcq_full_beam_assignment_is_exact_argmin(vectors, rcq):
    """Reference semantics: assignment = argmin over the beam; with the
    beam covering the whole virtual centroid set it must equal the exact
    argmin over all ksub^M materialized centroids."""
    X = _mat(vectors)
    full = ResidualCoarseQuantizerModel(
        codebooks=rcq.codebooks, beam_factor=float(rcq.nlist)
    )
    C = full.centroids_np()
    assert C.shape == (64, X.shape[1])  # 2 levels × 3 bits → 64 cells
    exact = ((X[:, None, :] - C[None]) ** 2).sum(2).argmin(1)
    np.testing.assert_array_equal(full.assign_np(X), exact)


def test_rcq_distributed_assign_matches_numpy(vectors, rcq):
    got = {
        r["id"]: r["cluster"] for r in rcq.assign(vectors).collect()
    }
    X = _mat(vectors)
    ids = sorted(got)
    np.testing.assert_array_equal(
        np.array([got[i] for i in ids]), rcq.assign_np(X)
    )


def test_rcq_reconstruct_roundtrip(rcq):
    lists = np.arange(rcq.nlist)
    codes = rcq._lists_to_codes(lists)
    np.testing.assert_array_equal(rcq._codes_to_lists(codes), lists)
    # reconstruct = additive decode of the level codes
    rec = rcq.reconstruct_np(lists)
    manual = rcq.codebooks[0][codes[:, 0]] + rcq.codebooks[1][codes[:, 1]]
    np.testing.assert_allclose(rec, manual)


def test_ivfrcq_full_probe_is_exact(vectors, queries, rcq):
    """nprobe = nlist with a covering beam probes every cell → results
    equal exact brute-force knn (the IVF invariant, nprobe=nlist)."""
    idx = IVFRCQIndex(cq=rcq).add(vectors)
    got = {
        (r["qid"], r["rank"], r["id"])
        for r in idx.search(queries, 5, nprobe=rcq.nlist).collect()
    }
    expect = {
        (r["qid"], r["rank"], r["id"]) for r in knn(vectors, queries, 5).collect()
    }
    assert got == expect


def test_ivfrcq_persist_load_roundtrip(vectors, queries, rcq, spark, tmp_path):
    path = str(tmp_path / "rcq_codes")
    IVFRCQIndex(cq=rcq).add(vectors, path=path)
    idx = IVFRCQIndex.load(spark, path)
    assert idx.nlist == rcq.nlist
    top1 = idx.search(queries.limit(1), 1, nprobe=4).collect()[0]
    assert top1["id"] == top1["qid"] and top1["dist"] == pytest.approx(0.0)


def test_lsq_coarse_same_surface(vectors):
    m = LSCoarseQuantizer(M=2, nbits=3, seed=42, niter=5).fit(vectors)
    assert m.nlist == 64
    a = m.assign(vectors.limit(50)).collect()
    assert all(0 <= r["cluster"] < 64 for r in a)


def test_factory_rcq_string_roundtrip(vectors, queries):
    plan = index_factory("IVF64(RCQ2x3),Flat")
    assert reverse_index_factory(plan) == "IVF64(RCQ2x3),Flat"
    plan.fit(vectors, seed=42)
    rows = plan.search(queries, 3, nprobe=64).collect()
    by_q = {r["qid"]: r["id"] for r in rows if r["rank"] == 1}
    assert by_q == {q: q for q in by_q}  # every query finds itself
    # LSQ arm parses + reverses
    p2 = index_factory("IVF64(LSQ2x3),Flat")
    assert reverse_index_factory(p2) == "IVF64(LSQ2x3),Flat"


def test_factory_imi_string_roundtrip_and_search(vectors, queries):
    """IMI2x<b> factory form (reference index_factory.cpp:241-289): parse,
    reverse round-trip, and full-probe search recovers each query."""
    plan = index_factory("IMI2x2,Flat")
    assert plan.nlist == 16 and plan.coarse == "imi"
    assert reverse_index_factory(plan) == "IMI2x2,Flat"
    plan.fit(vectors, seed=42)
    rows = plan.search(queries, 3, nprobe=16).collect()
    by_q = {r["qid"]: r["id"] for r in rows if r["rank"] == 1}
    assert by_q == {q: q for q in by_q}

    import pytest as _pytest

    # r9: PQ<M> codes now supported (IMIPQIndex); other codes still raise
    assert index_factory("IMI2x2,PQ4").index_type == "imipq"
    with _pytest.raises(ValueError):
        index_factory("IMI2x2,SQ8")  # Flat or PQ<M> codes only


def test_imi_full_probe_equals_exact(vectors, queries):
    """With nprobe = nlist the IMI scan covers every cell → exact knn."""
    from faiss_spark.operators.ivf import IMIIVFIndex

    idx = IMIIVFIndex.train(vectors, nbits=2, seed=42).add(vectors)
    got = {
        (r["qid"], r["rank"], r["id"])
        for r in idx.search(queries, 5, nprobe=idx.nlist).collect()
    }
    want = {
        (r["qid"], r["rank"], r["id"])
        for r in knn(vectors, queries, 5).collect()
    }
    assert got == want


def test_search_with_parameters_stats(vectors, queries):
    """search_with_parameters (reference faiss/IVFlib.h:129-141) returns
    per-call stats via accumulators: ndis under nprobe=1 is a strict
    subset of the full-probe scan, and both are non-zero after the
    result materializes."""
    from faiss_spark.operators.ivf import IVFIndex, search_with_parameters

    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    res1, s1 = search_with_parameters(idx, queries, 5, nprobe=1)
    assert s1.ndis == 0  # lazy: nothing scanned yet
    res1.count()
    resF, sF = search_with_parameters(idx, queries, 5, nprobe=8)
    resF.count()
    assert 0 < s1.ndis < sF.ndis
    assert 0 < s1.list_scans < sF.list_scans
    assert s1.nq == sF.nq == queries.count()


@pytest.mark.parametrize("family", ["ivf", "rcq", "sq", "pq", "fastscan", "sh"])
def test_search_with_parameters_any_family(vectors, queries, family):
    """search_with_parameters runs each family through its own probe
    function and cell scorer: without a max_codes budget its rows equal
    index.search, and stats.ndis counts one distance per (query, probed
    code), i.e. the summed sizes of every query's probed lists."""
    from faiss_spark.kernels import pairwise_distances
    from faiss_spark.operators.fastscan import IVFPQFastScanIndex
    from faiss_spark.operators.ivf import (
        IVFIndex,
        IVFPQIndex,
        IVFSpectralHash,
        IVFSQIndex,
        search_with_parameters,
    )

    if family == "ivf":
        idx = IVFIndex.train(vectors, nlist=4, seed=42, niter=5)
    elif family == "rcq":
        idx = IVFRCQIndex.train(vectors, M=2, nbits=1, seed=42)
    elif family == "sq":
        idx = IVFSQIndex.train(vectors, nlist=4, seed=42, niter=5)
    elif family == "pq":
        idx = IVFPQIndex.train(vectors, nlist=4, M=8, seed=42, niter=5)
    elif family == "fastscan":
        idx = IVFPQFastScanIndex.train(vectors, nlist=4, M=8, seed=42, niter=5)
    else:
        idx = IVFSpectralHash.train(vectors, nlist=4, seed=42, niter=5)
    idx.add(vectors)
    idx.codes = idx.codes.localCheckpoint(eager=True)

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
            for r in df.collect()
        )

    res, st = search_with_parameters(idx, queries, 5, nprobe=2)
    got = rows(res)
    assert got and got == rows(idx.search(queries, 5, nprobe=2))

    Q = np.stack(queries.orderBy("qid").toPandas()["vec"]).astype(np.float64)
    if family == "rcq":
        probes = idx.cq.search_np(Q, 2)[0]
    else:
        C = idx.base.centroids if family == "fastscan" else idx.centroids
        D = pairwise_distances(Q, C, "l2")
        probes = np.argsort(D, axis=1, kind="stable")[:, :2]
    sizes = {
        r["list_no"]: r["count"]
        for r in idx.codes.groupBy("list_no").count().collect()
    }
    assert st.nq == len(Q)
    assert st.ndis == sum(sizes.get(int(c), 0) for p in probes for c in p)


def test_ivf_range_search_full_probe_exact(vectors, queries):
    """nprobe=nlist IVF range search == flat range_search (reference
    IndexIVF::range_search, faiss/IndexIVF.cpp:715) and stats populate."""
    from faiss_spark.operators.ivf import (
        IVFIndex,
        ivf_range_search,
        range_search_with_parameters,
    )
    from faiss_spark.operators.knn import range_search

    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    r = 1.0
    want = {
        (row["qid"], row["id"], round(row["dist"], 9))
        for row in range_search(vectors, queries, r).collect()
    }
    got = {
        (row["qid"], row["id"], round(row["dist"], 9))
        for row in ivf_range_search(idx, queries, r, nprobe=8).collect()
    }
    assert got == want and len(want) > 0
    # partial probe is a subset; stats fill after materialization
    res, st = range_search_with_parameters(idx, queries, r, nprobe=2)
    sub = {
        (row["qid"], row["id"], round(row["dist"], 9))
        for row in res.collect()
    }
    assert sub <= want
    assert st.ndis > 0 and st.list_scans > 0 and st.nq == queries.count()


def test_factory_flat_dedup_and_idmap(vectors, queries):
    """IVF<n>,FlatDedup (reference IndexIVFFlatDedup, index_factory
    FlatDedup code) stores one entry per distinct vector and explodes
    duplicate ids at result time; IDMap tokens parse as no-ops."""
    plan = index_factory("IDMap,IVF8,FlatDedup")
    assert plan.flat_dedup
    assert reverse_index_factory(plan) == "IVF8,FlatDedup"
    plan.fit(vectors, seed=42)
    rows = plan.search(queries, 3, nprobe=8).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r["id"])
    # every query finds itself (its vector's rep is in the index; the
    # explode restores the original id)
    assert all(q in ids for q, ids in by_q.items())
    # duplicate groups: ids sharing a vector all materialize together
    from faiss_spark.operators.refine import dedup_flat

    dups = {
        frozenset(r["ids"])
        for r in dedup_flat(vectors).filter("n_dup > 1").collect()
    }
    if dups:  # embeddings table has duplicate vectors by construction
        grp = next(iter(dups))
        rep = min(grp)
        hit_qs = [q for q, ids in by_q.items() if rep in ids]
        for q in hit_qs:
            assert grp <= by_q[q]


def test_factory_pq_nbits(vectors, queries):
    """PQ<m>x<b> factory form (reference index_factory.cpp PQ parse,
    ProductQuantizer.h:30 arbitrary nbits): parses, reverses, and a
    4-bit PQ still ranks each query's own encoding first."""
    plan = index_factory("PQ8x4")
    assert plan.pq_m == 8 and plan.pq_nbits == 4
    assert reverse_index_factory(plan) == "PQ8x4"
    assert index_factory("IVF16,PQ4x6").pq_nbits == 6
    assert reverse_index_factory(index_factory("IVF16,PQ4x6")) == "IVF16,PQ4x6"
    assert index_factory("PQ8").pq_nbits == 8  # default unchanged

    from faiss_spark.operators.codecs import ProductQuantizer

    pqm = ProductQuantizer(M=8, nbits=4, seed=42).fit(vectors)
    assert pqm.ksub == 16
    codes = pqm.encode(vectors)
    rows = pqm.adc_search(codes, queries, 3).collect()
    top1 = {r["qid"]: r["id"] for r in rows if r["rank"] == 1}
    assert top1 == {q: q for q in top1}


def test_get_code_size():
    from faiss_spark.plans.factory import get_code_size

    assert get_code_size(64, index_factory("Flat")) == 256
    assert get_code_size(64, index_factory("IVF16,Flat")) == 256
    assert get_code_size(64, index_factory("IVF16,PQ8")) == 8
    assert get_code_size(64, index_factory("SQ8")) == 64
    assert get_code_size(64, index_factory("SQ4")) == 32
    assert get_code_size(64, index_factory("SQ6")) == 48
    assert get_code_size(64, index_factory("SQfp16")) == 128
    assert get_code_size(64, index_factory("PCA32,IVF16,Flat")) == 128
    assert get_code_size(64, index_factory("RQ4")) == 4


def test_factory_rcq_validates_nlist():
    with pytest.raises(ValueError):
        index_factory("IVF100(RCQ2x3),Flat")  # 100 != 2^6
    with pytest.raises(ValueError):
        index_factory("IVF64(RCQ2x3),PQ8")  # Flat codes only


# --------------------------------------------------------- binary factory --


@pytest.fixture(scope="module")
def bincodes(vectors):
    return binarize(vectors, d=64)


@pytest.fixture(scope="module")
def binqueries(bincodes):
    return bincodes.filter("id < 8").select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )


def test_binary_factory_parse_reverse():
    for s in ["BFlat", "BIVF16", "BHash8"]:
        assert reverse_index_binary_factory(index_binary_factory(s)) == s
    with pytest.raises(ValueError):
        index_binary_factory("BHNSW32")


def test_bflat_equals_hamming_knn(bincodes, binqueries):
    plan = index_binary_factory("BFlat").fit(bincodes, nbits=64)
    got = {
        (r["qid"], r["rank"], r["id"])
        for r in plan.search(binqueries, 4).collect()
    }
    expect = {
        (r["qid"], r["rank"], r["id"])
        for r in hamming_knn(bincodes, binqueries, 4).collect()
    }
    assert got == expect


def test_bivf_full_probe_equals_bflat(bincodes, binqueries):
    plan = index_binary_factory("BIVF8").fit(bincodes, nbits=64, seed=42)
    got = {
        (r["qid"], r["rank"], r["id"])
        for r in plan.search(binqueries, 4, nprobe=8).collect()
    }
    expect = {
        (r["qid"], r["rank"], r["id"])
        for r in hamming_knn(bincodes, binqueries, 4).collect()
    }
    assert got == expect


def test_bmultihash_recall_dominates_single_table(bincodes, binqueries):
    """BHash<nhash>x<b> (IndexBinaryMultiHash): multiple independent
    hash tables union their candidates, so at the same radius the
    multi-table index retrieves a SUPERSET of any single table's
    verified pairs — and every query still finds itself at Hamming 0."""
    plan = index_binary_factory("BHash2x8")
    assert plan.kind == "bmultihash" and plan.nhash == 2 and plan.hash_b == 8
    assert reverse_index_binary_factory(plan) == "BHash2x8"
    plan.fit(bincodes, nbits=64)
    multi = plan.search(binqueries, 5, radius=1).collect()
    rank1 = {r["qid"]: (r["id"], r["dist"]) for r in multi if r["rank"] == 1}
    for q, (i, d) in rank1.items():
        assert i == q and d == 0.0
    single = index_binary_factory("BHash8").fit(bincodes, nbits=64)
    spairs = {
        (r["qid"], r["id"])
        for r in single.search(binqueries, 5, radius=1).collect()
    }
    mpairs = {(r["qid"], r["id"]) for r in multi}
    # table 0 of the multihash == the single table; extra tables only add
    # candidates, and k=5 leaves room on this corpus
    assert len(mpairs) >= len(spairs)


def test_bhash_self_find_and_subset(bincodes, binqueries):
    """BHash probes buckets within `radius` prefix flips: every query
    finds itself (its own bucket is always probed), and every returned
    pair is a true Hamming pair (results are verified, never invented)."""
    plan = index_binary_factory("BHash8").fit(bincodes, nbits=64)
    rows = plan.search(binqueries, 3, radius=1).collect()
    rank1 = {r["qid"]: (r["id"], r["dist"]) for r in rows if r["rank"] == 1}
    for q, (i, d) in rank1.items():
        assert i == q and d == 0.0
    # verified distances: recompute one pair exactly
    codes = {r["id"]: r["code"] for r in bincodes.filter("id < 200").collect()}
    for r in rows:
        if r["id"] in codes and r["qid"] in codes:
            a, b = codes[r["qid"]], codes[r["id"]]
            ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
            assert ham == int(r["dist"])


def test_max_codes_scan_budget(vectors, queries):
    """max_codes (reference faiss/IndexIVF.h:69 + IndexIVF.cpp:415 scan
    budget; the SIFT1B 'max_codes=10000' serving knob): probes are
    consumed nearest-first and cut once cumulative list sizes reach the
    budget, whole lists at a time INCLUDING the crossing list. A huge
    budget is a no-op; a tiny one still probes each query's nearest
    list; ndis respects the per-query bound."""
    from faiss_spark.operators.ivf import (
        IVFIndex,
        _list_sizes,
        search_with_parameters,
    )

    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    idx.codes = idx.codes.localCheckpoint(eager=True)

    def rows(df):
        return sorted((r["qid"], r["rank"], r["id"]) for r in df.collect())

    full, _ = search_with_parameters(idx, queries, 5, nprobe=8)
    full_rows = rows(full)
    nolimit, _ = search_with_parameters(
        idx, queries, 5, nprobe=8, max_codes=10_000_000
    )
    assert rows(nolimit) == full_rows
    # tiny budget: every query scans exactly its nearest list (the
    # crossing list is included even when it alone exceeds the budget)
    res1, s1 = search_with_parameters(idx, queries, 5, nprobe=8, max_codes=1)
    r1 = res1.collect()
    nq = queries.count()
    assert {r["qid"] for r in r1} == set(range(nq))
    np1, s1b = search_with_parameters(idx, queries, 5, nprobe=1)
    assert rows(res1) == rows(np1)  # budget=1 ≡ nprobe=1
    # intermediate budget: ndis bounded by budget + one crossing list
    sizes = _list_sizes(idx)
    budget = int(sizes.sum() // 4)
    resm, sm = search_with_parameters(
        idx, queries, 5, nprobe=8, max_codes=budget
    )
    resm.count()
    assert sm.ndis <= nq * (budget + int(sizes.max()))
    full.count()


def test_bivf_hnsw_factory_routing(tables, spark):
    """`BIVF<n>_HNSW<m>` (reference index_factory.cpp:895-915, VERDICT r9
    missing #2): parse + reverse round-trip, full-probe == plain BIVF ==
    exact Hamming knn, and partial-probe recall through the routed walk."""
    import pytest
    from pyspark.sql import functions as F

    from faiss_spark.operators.binary import binarize, hamming_knn
    from faiss_spark.plans.factory import (
        index_binary_factory,
        reverse_index_binary_factory,
    )

    p = index_binary_factory("BIVF8_HNSW4")
    assert (p.kind, p.nlist, p.coarse_graph_r) == ("bivf", 8, 4)
    assert reverse_index_binary_factory(p) == "BIVF8_HNSW4"
    assert index_binary_factory("BIVF8").coarse_graph_r is None

    emb = tables["embeddings"].limit(300).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    codes = binarize(emb, 64, threshold=0.0).localCheckpoint(eager=True)
    q = codes.filter("id < 5").select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    exact = {
        (r["qid"], r["rank"], r["id"])
        for r in hamming_knn(codes, q, 5).collect()
    }
    routed = index_binary_factory("BIVF8_HNSW4").fit(codes, nbits=64, seed=42)
    got = {
        (r["qid"], r["rank"], r["id"])
        for r in routed.search(q, 5, nprobe=8).collect()
    }
    assert got == exact
    # partial probe: the walk still finds most true neighbors
    part = {
        (r["qid"], r["id"])
        for r in routed.search(q, 5, nprobe=4).collect()
    }
    truth = {(a, c) for a, _, c in exact}
    assert len(part & truth) / len(truth) >= 0.6
