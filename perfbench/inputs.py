"""Seeded input generation and ground truth for the perfbench workloads.

Everything here is plain numpy/pyarrow: the engine under test only ever
sees the parquet files written by ``write_*``. The same seed gives
byte-identical files; a different seed gives different files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row groups per parquet file: Spark splits a file by row group, so a few
# per core let the scan spread without an extra shuffle
_ROW_GROUPS = 16


def _write(table: pa.Table, path: str) -> str:
    rows = max(1, -(-table.num_rows // _ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")
    return path


# ------------------------------------------------------------- vectors


@dataclass(frozen=True)
class VectorSpec:
    n: int  # corpus rows
    nq: int  # query rows
    d: int = 64
    components: int = 256
    spread: float = 0.35  # within-component std relative to centre std


def gaussian_mixture(spec: VectorSpec, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(corpus, queries), float32, drawn from one Gaussian mixture."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((spec.components, spec.d), dtype=np.float32)

    def draw(m: int) -> np.ndarray:
        lab = rng.integers(0, spec.components, m)
        noise = rng.standard_normal((m, spec.d), dtype=np.float32)
        return centres[lab] + np.float32(spec.spread) * noise

    return draw(spec.n), draw(spec.nq)


def exact_knn(X: np.ndarray, Q: np.ndarray, k: int, block: int = 256, extra: int = 16):
    """Exact squared-L2 top-k: (ids (nq, k), dists (nq, k)), ordered by
    (dist, id), distances in float64.

    A float32 GEMM picks ``k + extra`` candidates per query; float64
    distances of the candidates decide the top k. A row whose float32
    margin between the kept and the first rejected candidate is within
    float32 error is recomputed over the whole corpus in float64."""
    X64 = X.astype(np.float64)
    xn32 = (X * X).sum(1)
    m = min(k + extra, len(X))
    ids = np.empty((len(Q), k), np.int64)
    dists = np.empty((len(Q), k), np.float64)

    def top(cand: np.ndarray, q: np.ndarray):
        diff = X64[cand] - q.astype(np.float64)[None, :]
        d = (diff * diff).sum(1)
        order = np.lexsort((cand, d))[:k]
        return cand[order], d[order]

    for s in range(0, len(Q), block):
        Qb = Q[s : s + block]
        D = xn32[None, :] - 2.0 * (Qb @ X.T)
        part = np.argpartition(D, min(m, len(X) - 1), axis=1)
        cand = part[:, :m]
        cd = np.take_along_axis(D, cand, 1)
        # smallest float32 distance left out of the candidates
        rejected = np.take_along_axis(D, part[:, m : m + 1], 1)[:, 0] if m < len(X) else None
        for r in range(len(Qb)):
            i, d = top(cand[r], Qb[r])
            if m < len(X):
                # float32 error bound on the expanded distance, with margin
                tol = 1e-4 * (1.0 + float(np.abs(cd[r]).max()))
                kept = cd[r][np.isin(cand[r], i)].max()
                if rejected[r] - kept <= tol:
                    i, d = top(np.arange(len(X)), Qb[r])
            ids[s + r], dists[s + r] = i, d
    return ids, dists


def write_vectors(M: np.ndarray, path: str, id_name: str) -> str:
    flat = pa.array(M.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, M.size + 1, M.shape[1], dtype=np.int32))
    vec = pa.ListArray.from_arrays(offsets, flat)
    ids = pa.array(np.arange(len(M), dtype=np.int64))
    return _write(pa.table({id_name: ids, "vec": vec}), path)


# ---------------------------------------------------------------- text


@dataclass(frozen=True)
class TextSpec:
    n: int  # documents
    vocab: int = 20000
    zipf_s: float = 1.1
    dup_share: float = 0.2  # share of documents that are planted copies
    edit_rate: float = 0.03  # per-token substitution probability of a copy
    shingle_n: int = 3  # word n-gram size the dedup operator uses


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 3 to 9 letters."""
    words: set[str] = set()
    while len(words) < size:
        m = size - len(words)
        letters = rng.integers(ord("a"), ord("z") + 1, (m, 9), dtype=np.uint8)
        lens = rng.integers(3, 10, m)
        words.update(row[:ln].tobytes().decode() for row, ln in zip(letters, lens))
    return np.array(sorted(words)[:size])


def documents(spec: TextSpec, seed: int) -> tuple[list[str], list[list[int]]]:
    """(texts, clusters): lowercase single-space-separated documents and the
    planted near-duplicate clusters (lists of doc ids, base first)."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, spec.vocab)
    cdf = np.cumsum(1.0 / np.arange(1, spec.vocab + 1) ** spec.zipf_s)
    cdf /= cdf[-1]

    def zipf(m: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(m)), spec.vocab - 1)

    def fresh() -> np.ndarray:
        return zipf(int(np.clip(rng.lognormal(np.log(200), 0.35), 100, 400)))

    docs: list[np.ndarray] = []
    clusters: list[list[int]] = []
    n_copies = int(spec.n * spec.dup_share)
    while n_copies > 0 and len(docs) < spec.n:
        size = min(int(rng.integers(2, 6)), n_copies + 1, spec.n - len(docs))
        base = fresh()
        members = [len(docs)]
        docs.append(base)
        for _ in range(size - 1):
            copy = base.copy()
            edits = rng.random(len(copy)) < spec.edit_rate
            copy[edits] = zipf(int(edits.sum()))
            members.append(len(docs))
            docs.append(copy)
        n_copies -= size - 1
        clusters.append(members)
    while len(docs) < spec.n:
        docs.append(fresh())
    # planted docs must not sit in one contiguous id range
    perm = rng.permutation(len(docs))
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(perm))
    texts = [" ".join(vocab[docs[i]]) for i in perm]
    clusters = [sorted(int(inv[m]) for m in c) for c in clusters]
    return texts, clusters


def shingle_set(text: str, n: int) -> set[str]:
    """Distinct word n-grams, as ``faiss_spark.functions.text.shingles``
    computes them for lowercase single-space-separated text."""
    t = text.split(" ")
    if len(t) < n:
        return {" ".join(t)}
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def planted_pairs(
    texts: list[str], clusters: list[list[int]], n: int, threshold: float
) -> set[tuple[int, int]]:
    """Pairs inside planted clusters whose exact shingle Jaccard reaches the
    threshold: the pairs a correct near-dup join should return."""
    out = set()
    for c in clusters:
        sets = {i: shingle_set(texts[i], n) for i in c}
        for x, a in enumerate(c):
            for b in c[x + 1 :]:
                if jaccard(sets[a], sets[b]) >= threshold:
                    out.add((a, b))
    return out


def write_documents(texts: list[str], path: str) -> str:
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
        }
    )
    return _write(table, path)


def file_digest(path: str) -> str:
    import hashlib

    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
