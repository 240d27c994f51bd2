"""The three perfbench workloads: inputs, the timed job, and its gate.

Each workload writes its seeded inputs to parquet in ``setup``; ``job``
reads them back through Spark the way a user's batch pipeline would and
calls faiss_spark's public functions inside tracer spans; ``check`` is the
correctness gate on the job's outputs and returns the quality figures.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import inputs
import spans

K = 10


@dataclass
class Outcome:
    """What one job returned, for the gate and the per-layer counts."""

    result: object
    extra: dict


class GateError(Exception):
    """A job's output failed the correctness gate."""


def _rows_by_qid(table):
    qid = table.column("qid").to_numpy()
    ids = table.column("id").to_numpy()
    dist = table.column("dist").to_numpy()
    order = np.lexsort((ids, qid))
    return qid[order], ids[order], dist[order]


class ExactKnn:
    """Brute-force kNN: GEMM and top-k in Python workers, one window shuffle,
    no writes. Exercises the kernels and the Arrow boundary."""

    name = "exact_knn"

    def __init__(self, n: int = 50_000, nq: int = 250):
        self.spec = inputs.VectorSpec(n=n, nq=nq)

    def setup(self, work: str, seed: int) -> dict:
        X, Q = inputs.gaussian_mixture(self.spec, seed)
        self.xpath = inputs.write_vectors(X, os.path.join(work, "corpus.parquet"), "id")
        self.qpath = inputs.write_vectors(Q, os.path.join(work, "queries.parquet"), "qid")
        self.gt_ids, self.gt_dist = inputs.exact_knn(X, Q, K)
        return {"corpus": self.xpath, "queries": self.qpath}

    def job(self, spark, tr: spans.Tracer) -> Outcome:
        from faiss_spark import knn

        with tr.span("knn.search"):
            vectors = spark.read.parquet(self.xpath)
            queries = spark.read.parquet(self.qpath)
            res = knn(vectors, queries, K).toArrow()
        return Outcome(res, {})

    def check(self, out: Outcome) -> dict:
        nq = self.spec.nq
        if out.result.num_rows != nq * K:
            raise GateError(f"knn returned {out.result.num_rows} rows, want {nq * K}")
        qid, ids, dist = _rows_by_qid(out.result)
        if not np.array_equal(qid, np.repeat(np.arange(nq), K)):
            raise GateError("knn did not return k rows for every query")
        want = np.sort(self.gt_ids, axis=1)
        got = ids.reshape(nq, K)
        if not np.array_equal(got, want):
            bad = int((got != want).any(1).sum())
            raise GateError(f"knn neighbour ids differ from exact for {bad} queries")
        order = np.argsort(self.gt_ids, axis=1)
        ref = np.take_along_axis(self.gt_dist, order, 1).reshape(-1)
        err = float(np.abs(dist - ref).max())
        if err > 1e-6:
            raise GateError(f"knn distance off by {err:.3g} (> 1e-6)")
        return {"result_recall": 1.0, "recall_at_10": 1.0}

    def layer_counts(self, out: Outcome) -> dict:
        s = self.spec
        return {"flops": 2.0 * s.n * s.nq * s.d}


class IvfPq:
    """IVF-PQ build and search: distributed k-means, driver-side PQ codebook
    training, encode plus partitioned parquet write, reload, ADC search.
    Exercises cluster, codecs, ivf and parquet writes."""

    name = "ivf_pq"

    def __init__(self, n: int = 10_000, nq: int = 250, nlist: int = 32,
                 M: int = 8, nprobe: int = 4):
        self.spec = inputs.VectorSpec(n=n, nq=nq)
        self.nlist, self.M, self.nprobe = nlist, M, nprobe

    def setup(self, work: str, seed: int) -> dict:
        self.work = work
        X, Q = inputs.gaussian_mixture(self.spec, seed)
        self.X, self.Q = X, Q
        self.xpath = inputs.write_vectors(X, os.path.join(work, "corpus.parquet"), "id")
        self.qpath = inputs.write_vectors(Q, os.path.join(work, "queries.parquet"), "qid")
        self.gt_ids, _ = inputs.exact_knn(X, Q, K)
        return {"corpus": self.xpath, "queries": self.qpath}

    def job(self, spark, tr: spans.Tracer) -> Outcome:
        from faiss_spark.operators.cluster import KMeans
        from faiss_spark.operators.ivf import IVFPQIndex

        path = os.path.join(self.work, "index")
        vectors = spark.read.parquet(self.xpath)
        with spans.wrapped(KMeans, "fit", tr, "cluster.kmeans_fit") if tr.enabled \
                else contextlib.nullcontext():
            with tr.span("ivf.train"):
                index = IVFPQIndex.train(vectors, nlist=self.nlist, M=self.M)
        with tr.span("ivf.add"):
            index.add(vectors, path=path)
        with tr.span("ivf.load"):
            loaded = IVFPQIndex.load(spark, path)
        with tr.span("ivf.search"):
            res = loaded.search(spark.read.parquet(self.qpath), K,
                                nprobe=self.nprobe).toArrow()
        extra = {"index_bytes": inputs.dir_bytes(path),
                 "centroids": loaded.centroids}
        shutil.rmtree(path)
        return Outcome(res, extra)

    def check(self, out: Outcome) -> dict:
        nq = self.spec.nq
        if out.result.num_rows != nq * K:
            raise GateError(f"ivf search returned {out.result.num_rows} rows, want {nq * K}")
        qid, ids, _ = _rows_by_qid(out.result)
        if not np.array_equal(qid, np.repeat(np.arange(nq), K)):
            raise GateError("ivf search did not return k rows for every query")
        got = ids.reshape(nq, K)
        if (np.diff(got, axis=1) == 0).any():
            raise GateError("ivf search returned a neighbour twice for one query")
        hits = sum(len(np.intersect1d(got[q], self.gt_ids[q])) for q in range(nq))
        recall = hits / (nq * K)
        return {"result_recall": recall, "recall_at_10": recall}

    def layer_counts(self, out: Outcome) -> dict:
        return {"index_bytes": out.extra["index_bytes"], "results": self.spec.nq * K,
                "codes_scanned": self.codes_scanned(out.extra["centroids"])}

    def codes_scanned(self, centroids: np.ndarray) -> int:
        """Summed sizes of the lists each query probes (the ADC work)."""
        C = centroids.astype(np.float64)
        cn = (C * C).sum(1)

        def d2(A):
            A = A.astype(np.float64)
            return (A * A).sum(1)[:, None] + cn[None, :] - 2.0 * (A @ C.T)

        sizes = np.bincount(d2(self.X).argmin(1), minlength=len(C))
        probes = np.argsort(d2(self.Q), axis=1, kind="stable")[:, : self.nprobe]
        return int(sizes[probes].sum())


class TextDedup:
    """MinHash-LSH near-duplicate pairs then connected components: JVM
    expressions, shuffles, a bucketed self-join and iterative checkpoints,
    with almost no Python kernel work. A fifth of the documents are planted
    copies, so inputs share work the way scraped corpora do."""

    name = "text_dedup"
    threshold = 0.7

    def __init__(self, n: int = 2_000):
        self.spec = inputs.TextSpec(n=n)

    def setup(self, work: str, seed: int) -> dict:
        self.work = work
        texts, clusters = inputs.documents(self.spec, seed)
        self.dpath = inputs.write_documents(texts, os.path.join(work, "documents.parquet"))
        self.truth = inputs.planted_pairs(texts, clusters, self.spec.shingle_n,
                                          self.threshold)
        return {"documents": self.dpath}

    def job(self, spark, tr: spans.Tracer) -> Outcome:
        from faiss_spark.operators.dedup import dedup_components, minhash_lsh_pairs

        path = os.path.join(self.work, "pairs")
        shutil.rmtree(path, ignore_errors=True)  # left over if a job failed
        with tr.span("dedup.minhash_pairs"):
            docs = spark.read.parquet(self.dpath)
            minhash_lsh_pairs(docs, threshold=self.threshold).write.parquet(path)
        with tr.span("dedup.components"):
            comps = dedup_components(spark.read.parquet(path)).toArrow()
        pairs = pq.read_table(path)
        shutil.rmtree(path)
        return Outcome((pairs, comps), {})

    def check(self, out: Outcome) -> dict:
        pairs, comps = out.result
        a = pairs.column("id_a").to_numpy()
        b = pairs.column("id_b").to_numpy()
        j = pairs.column("jaccard").to_numpy()
        if not (a < b).all():
            raise GateError("dedup pair with id_a >= id_b")
        if not ((j >= self.threshold) & (j <= 1.0)).all():
            raise GateError("dedup pair with jaccard outside [threshold, 1]")
        got = set(zip(a.tolist(), b.tolist()))
        if len(got) != len(a):
            raise GateError("dedup returned a pair twice")
        want = _components(a, b)
        cid = comps.column("id").to_numpy().tolist()
        rep = comps.column("rep_id").to_numpy().tolist()
        if dict(zip(cid, rep)) != want or len(cid) != len(want):
            raise GateError("dedup components differ from the pairs' connected components")
        hit = len(got & self.truth)
        recall = hit / max(len(self.truth), 1)
        precision = hit / max(len(got), 1)
        return {"result_recall": recall, "dedup_pair_recall": recall,
                "dedup_pair_precision": precision, "pairs_out": len(got)}

    def layer_counts(self, out: Outcome) -> dict:
        return {}


def _components(a: np.ndarray, b: np.ndarray) -> dict:
    """{id: smallest id of its connected component} over the pair graph."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {x: find(x) for x in parent}


WORKLOADS = {w.name: w for w in (ExactKnn, IvfPq, TextDedup)}
