"""Scale-linearity probe: run the throughput-shaped kernels at 1× and
5-10× the bench size and report normalized per-unit costs side by side.

The bench (bench.py) records absolute wall-clock at one size; this tool
answers the scale question directly — if the per-unit cost (per
query·vector·dim, per row, per point·centroid·dim, per edge) is flat as
n grows, the plan has no super-linear term and the 1000-executor
extrapolation is a partitioning statement, not a hope. Each workload is
best-of-2 (this VM's page-fault weather varies run-to-run).

Usage: python tools/scale_probe.py [--quick]
Prints one JSON line; humans read SCALE.md where results are recorded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _synth_vecs  # noqa: E402
from faiss_spark.session import default_cpus, get_spark  # noqa: E402

CPUS = default_cpus()
D = 64


def _best_of(fn, runs: int = 2) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def _base(spark, nv: int, salt: int):
    return (
        _synth_vecs(spark, nv, D, salt)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )


def probe_knn(spark, nv: int, nq: int = 10_000) -> dict:
    from faiss_spark.operators.knn import knn

    base = _base(spark, nv, 1)
    queries = _synth_vecs(spark, nq, D, 7_777_777).selectExpr(
        "id as qid", "vec"
    )
    sec = _best_of(lambda: knn(base, queries, 10, dtype="f32").count())
    return {
        "nv": nv,
        "sec": round(sec, 3),
        "qvd_per_core_sec_1e9": round(nv * nq * D / sec / CPUS / 1e9, 3),
    }


def probe_kmeans_assign(spark, nv: int, k: int = 256) -> dict:
    from faiss_spark.operators.cluster import KMeans

    base = _base(spark, nv, 2)
    km = KMeans(k=k, niter=5, seed=7).fit(base)
    sec = _best_of(lambda: km.assign(base).count())
    return {
        "nv": nv,
        "sec": round(sec, 3),
        "nkd_per_core_sec_1e9": round(nv * k * D / sec / CPUS / 1e9, 3),
    }


def probe_ivf_add(spark, nv: int) -> dict:
    import shutil
    import tempfile

    from faiss_spark.operators.ivf import IVFIndex

    base = _base(spark, nv, 3)
    nlist = max(4, min(4096, int((2 * nv) ** 0.5)))
    idx = IVFIndex.train(base, nlist=nlist, seed=7, niter=4)
    out = tempfile.mkdtemp(prefix="scale_ivf_")
    try:
        t0 = time.perf_counter()
        idx.add(base, path=out)
        idx.codes.count()
        sec = time.perf_counter() - t0
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return {
        "nv": nv,
        "nlist": nlist,
        "sec": round(sec, 3),
        "rows_per_core_sec": round(nv / sec / CPUS, 1),
    }


def probe_graph(spark, nv: int) -> dict:
    from faiss_spark.operators.graph import knn_graph_bucketed

    base = _base(spark, nv, 4)
    nlist = max(4, min(4096, int((2 * nv) ** 0.5)))
    t0 = time.perf_counter()
    edges = knn_graph_bucketed(base, 10, nlist=nlist, nprobe=2, dtype="f32").count()
    sec = time.perf_counter() - t0
    return {
        "nv": nv,
        "nlist": nlist,
        "sec": round(sec, 3),
        "edges": edges,
        "edges_per_core_sec": round(edges / sec / CPUS, 1),
    }


def probe_nsg(spark, nv: int, nq: int = 10_000) -> dict:
    """Cell-routed NSG: build rows/core-sec and routed-search q/core-sec
    at a FIXED shard capacity — per-row build cost is O(cap·d), so flat
    per-unit cost across nv means adding data adds shards, not work per
    row (the property that makes 1000-executor extrapolation linear)."""
    from faiss_spark.operators.nsg import NSGIndex

    base = _base(spark, nv, 5)
    queries = _synth_vecs(spark, nq, D, 5_555_555).selectExpr("id as qid", "vec")
    ncells = max(4, nv // 18_750)
    t0 = time.perf_counter()
    idx = NSGIndex.build(
        base, R=16, knn_k=24, nshards=ncells, sharding="cells",
        max_shard_rows=8_000,
    )
    idx.table = idx.table.localCheckpoint(eager=True)
    build_sec = time.perf_counter() - t0
    search_sec = _best_of(
        lambda: idx.search(queries, 10, search_L=48, nprobe=min(8, ncells)).count()
    )
    return {
        "nv": nv,
        "ncells": ncells,
        "build_sec": round(build_sec, 3),
        "build_rows_per_core_sec": round(nv / build_sec / CPUS, 1),
        "search_sec": round(search_sec, 3),
        "queries_per_core_sec": round(nq / search_sec / CPUS, 2),
    }


def probe_pq_fastscan(spark, nv: int, nq: int = 2_000) -> dict:
    """4-bit fast-scan PQ scan: code-bytes scanned per core-second (the
    quantized-LUT gather path); encode is the one-off cost."""
    from faiss_spark.operators.codecs import ProductQuantizer
    from faiss_spark.operators.fastscan import pq_fastscan_search

    base = _base(spark, nv, 6)
    queries = _synth_vecs(spark, nq, D, 6_666_666).selectExpr("id as qid", "vec")
    model = ProductQuantizer(M=16, nbits=4, niter=5, seed=7).fit(base)
    codes = model.encode(base).localCheckpoint(eager=True)
    sec = _best_of(lambda: pq_fastscan_search(model, codes, queries, 10).count())
    return {
        "nv": nv,
        "sec": round(sec, 3),
        "qcodes_per_core_sec_1e9": round(nv * nq * 16 / sec / CPUS / 1e9, 3),
    }


def _synth_docs(spark, n: int, ntok: int = 200, salt: int = 0):
    """Deterministic synthetic corpus: ntok tokens per doc from a 5000-word
    vocab; every 10th doc repeats its decade-leader's text (10% duplicate
    docs) so span dedup has real duplicate mass to count."""
    from pyspark.sql import functions as F

    seed = "(case when pmod(id, 10) = 9 then id - 9 else id end)"
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(f"cast(pmod(id, {CPUS}) as string)").alias("source"),
        F.expr(
            f"array_join(transform(sequence(0, {ntok - 1}), j -> "
            f"concat('t', pmod(xxhash64({seed} * {ntok} + j + {salt}), 5000))"
            "), ' ')"
        ).alias("text"),
    )


def probe_span_dedup(spark, nd: int) -> dict:
    """Exact-substring span dedup: token windows hashed JVM-side, ONE
    shuffle on the span key. Rows shuffled = total windows ≈ nd·ntok, so
    flat per-window cost across nd is the linearity statement."""
    from faiss_spark.operators.dedup import span_dedup_stats

    # ntok=100 → 81 windows/doc: at nd=5M that is ~405M shuffled window
    # rows (~25 GB) — sized to this host's disk; linearity is the signal,
    # not the absolute row count
    docs = (
        _synth_docs(spark, nd, ntok=100, salt=11)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import functions as F

    # aggregate a COMPUTED column — a bare count() lets Catalyst prune
    # the window/join away entirely (row count is invariant under them)
    sec = _best_of(
        lambda: span_dedup_stats(docs, n=20)
        .agg(F.sum("n_dup_spans"))
        .first()
    )
    windows = nd * (100 - 19)
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "windows_per_core_sec": round(windows / sec / CPUS, 1),
    }



def probe_span_dedup_prefiltered(spark, nd: int) -> dict:
    """span dedup through the hot-hash prefilter: same answer; the wide
    positional exchange carries only duplicated windows, paid for by a
    count-only aggregation pass over the same hashes (map-side
    combinable, ~2-4x narrower rows). Runs at the SAME sizes as the
    unfiltered probe so the two rows compare directly — the prefilter
    is a shuffle-VOLUME lever (spill/disk/network), so on this
    all-in-one host expect roughly scan-bound parity, with the win
    appearing when the exchange is the binding constraint."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.dedup import span_dedup_stats

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=11)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    windows = nd * (100 - 19)
    # xxhash64 keys: the throughput configuration (r6 row), and the one
    # whose hot set broadcasts at these sizes (8 B keys; the md5
    # spelling's 56 B hot rows exceed the broadcast budget at nd=1M and
    # fall back to the documented shuffle join)
    sec = _best_of(
        lambda: span_dedup_stats(
            docs, n=20, prefilter="hot_hash", hash_fn="xxhash64"
        )
        .agg(F.sum("n_dup_spans"))
        .first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "windows_per_core_sec": round(windows / sec / CPUS, 1),
    }


def probe_pack_sequences(spark, nd: int) -> dict:
    """Concat-and-chop packing: tokenize (map-only codegen) + one window
    cumsum per source shard — a single keyed exchange; per-doc cost flat
    across nd means no straggling global ordering."""
    from faiss_spark.functions.corpus import pack_sequences

    docs = (
        _synth_docs(spark, nd, salt=13)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import functions as F

    # see span_dedup probe: aggregate a computed column so the window
    # cumsum cannot be pruned by a row-count-only plan
    sec = _best_of(
        lambda: pack_sequences(docs, budget=4096).agg(F.sum("bin_no")).first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_chunk_documents(spark, nd: int) -> dict:
    """Token-window chunking: pure map-only codegen — the probe pins
    that per-chunk cost is flat (a linear scan has nothing to curve)."""
    from pyspark.sql import functions as F

    from faiss_spark.functions.corpus import chunk_documents

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=17)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: chunk_documents(docs, size=32, stride=24)
        .agg(F.max(F.xxhash64("id", "chunk_no", "chunk_fp")))
        .first()
    )
    chunks = nd * 5  # ceil(100 / 24) starts per doc
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "chunks_per_core_sec": round(chunks / sec / CPUS, 1),
    }


def probe_nn_descent(spark, nv: int) -> dict:
    """NN-Descent iteration throughput: candidate pairs scored per
    core-second at a FIXED per-node fanout cap (sample_candidates — the
    reference's ρ·K sampling). Per-iteration work is one candidate
    shuffle of O(n·cap) rows + a per-src window top-k, so flat per-pair
    cost across nv means the 2-hop self-join has no super-linear term in
    n — the quadratic lives in k_eff and is capped."""
    from faiss_spark.operators.graph import nn_descent

    base = _base(spark, nv, 11)
    k, k_build, cap, niter = 8, 16, 128, 2
    t0 = time.perf_counter()
    edges = nn_descent(
        base, k, niter=niter, k_build=k_build, sample_candidates=cap,
        metric="l2",
    ).count()
    sec = time.perf_counter() - t0
    # scored pairs ≈ init (n·k_eff) + niter rounds of n·cap
    pairs = nv * (k_build + niter * cap)
    return {
        "nv": nv,
        "k_build": k_build,
        "sample_candidates": cap,
        "niter": niter,
        "sec": round(sec, 3),
        "edges": edges,
        "pairs_per_core_sec": round(pairs / sec / CPUS, 1),
    }


def probe_ivfpq_fastscan(spark, nv: int, nq: int = 2_000) -> dict:
    """IVF + 4-bit fast-scan residual ADC at nprobe=8: probed codes
    scanned per core-second. Partition pruning keeps scanned codes ≈
    nv·nprobe/nlist per query; nlist grows with √n so per-unit cost
    should stay flat."""
    from faiss_spark.operators.fastscan import IVFPQFastScanIndex

    base = _base(spark, nv, 8)
    queries = _synth_vecs(spark, nq, D, 8_888_888).selectExpr("id as qid", "vec")
    nlist = max(16, min(1024, int((2 * nv) ** 0.5 / 4)))
    nprobe = 8
    idx = IVFPQFastScanIndex.train(base, nlist=nlist, M=16, niter=5, pq_niter=5, seed=7)
    idx.add(base)
    idx.base.codes = idx.base.codes.localCheckpoint(eager=True)
    sec = _best_of(lambda: idx.search(queries, 10, nprobe=nprobe).count())
    # M=16 subcodes at 4 bits each = 8 physical bytes per code
    scanned = nv * nprobe / nlist * nq * (16 // 2)
    return {
        "nv": nv,
        "nlist": nlist,
        "sec": round(sec, 3),
        "probed_code_bytes_per_core_sec_1e9": round(scanned / sec / CPUS / 1e9, 4),
    }


def probe_token_budget(spark, nd: int) -> dict:
    """Token-budget subsampling: the two-level bucketed cumsum — one
    tiny bucket-sum aggregate + one (domain, bucket)-keyed corpus window.
    Flat per-doc cost across nd means the window stage parallelism
    (domains x 256 buckets) is doing its job; the naive per-domain
    window would instead serialize each domain into one task."""
    from pyspark.sql import functions as F

    from faiss_spark.functions.corpus import token_budget_sample

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=23)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    # budget covers ~half of each domain so the filter cannot prune work
    budget = (nd // CPUS) * 100 // 2
    sec = _best_of(
        lambda: token_budget_sample(docs, budget)
        .agg(F.sum("cum_before"))
        .first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_minhash_lsh(spark, nd: int) -> dict:
    """MinHash-LSH near-dup: signatures are a pure scan (no shuffle),
    the band shuffle is keyed on md5 band keys (uniform by
    construction), and the verify stage touches candidate pairs only.
    The synthetic corpus has 10% exact duplicates, so candidate mass
    grows linearly with nd — flat per-doc cost is the statement that
    no all-pairs term hides anywhere."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.dedup import minhash_lsh_pairs

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=37)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: minhash_lsh_pairs(docs, threshold=0.5)
        .agg(F.count("*"), F.sum("jaccard"))
        .first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_shuffle_corpus(spark, nd: int) -> dict:
    """Deterministic epoch shuffle: one hash shuffle on the shard key +
    per-shard window sort. Shard count grows with the corpus (as it
    would at 100 TB: shards ≈ output files), so per-shard sort size is
    constant and per-doc cost must stay flat."""
    from pyspark.sql import functions as F

    from faiss_spark.functions.corpus import shuffle_corpus

    docs = (
        _synth_docs(spark, nd, ntok=20, salt=41)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    shards = max(64, nd // 15_000)  # fixed ~15k docs per shard
    sec = _best_of(
        lambda: shuffle_corpus(docs, num_shards=shards, seed=3)
        .agg(F.sum("pos"), F.max("shard"))
        .first()
    )
    return {
        "nd": nd,
        "shards": shards,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_decontaminate_spans(spark, nd: int) -> dict:
    """Span-level decontamination: corpus windows hashed in codegen,
    broadcast-matched against a FIXED benchmark window set (eval suites
    do not grow with the corpus), one doc-keyed aggregate. Flat per-doc
    cost across nd = the match stays map-side and no all-pairs term
    hides anywhere."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.dedup import decontaminate_spans

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=43)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    bench = (
        _synth_docs(spark, 10_000, ntok=100, salt=43)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: decontaminate_spans(docs, bench, n=20)
        .agg(F.sum("covered_tokens"), F.sum("n_contam_windows"))
        .first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_line_dedup(spark, nd: int) -> dict:
    """CCNet line-level dedup at word granularity: three shuffles
    (map-side-combinable firsts agg, line⋈firsts hash join, doc-id
    regroup) over nd·ntok line rows. Flat per-line cost across nd is
    the linearity statement; the heavy-duplication synthetic corpus
    (5000-word vocab) makes the firsts table tiny, which is exactly
    the 100 TB shape — the join's build side stays broadcastable."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.dedup import line_dedup

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=31)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: line_dedup(docs, sep=" ").agg(F.sum("n_kept")).first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "lines_per_core_sec": round(nd * 100 / sec / CPUS, 1),
    }


def probe_line_dedup_skew(spark, nd: int) -> dict:
    """VERDICT r7 #6: measure (not argue) line_dedup's hot-line skew
    claim. 40% of documents share ONE byte-identical boilerplate line —
    at 5M docs that fingerprint occurs 2M times. A window-over-hash
    implementation would sort all 2M copies in one task (the classic
    boilerplate straggler); the shipped shape (map-side-combinable
    ``groupBy(hash).agg(min(struct))`` firsts table + AQE-skew-splittable
    hash join) must hold per-line throughput flat from 1M to 5M docs.
    Docs carry ~10 real newline-separated lines; the 9 non-boilerplate
    lines are doc-unique so the firsts table stays corpus-sized."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.dedup import line_dedup

    lines_per_doc = 10
    docs = (
        spark.range(nd)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.when(
                    F.pmod("id", F.lit(5)) < 2,
                    F.lit("all rights reserved - common boilerplate footer\n"),
                ).otherwise(F.lit("unique head line \n")),
                F.expr(
                    "array_join(transform(sequence(0, 8), j -> "
                    "concat('line ', id, ' ', j, ' ', xxhash64(id, j))), "
                    "'\\n')"
                ),
            ).alias("text"),
        )
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(lambda: line_dedup(docs).agg(F.sum("n_kept")).first())
    return {
        "nd": nd,
        "hot_copies": int(nd * 2 / 5),
        "sec": round(sec, 3),
        "lines_per_core_sec": round(nd * lines_per_doc / sec / CPUS, 1),
    }


def probe_quality_classifier(spark, nd: int) -> dict:
    """Hashed-BOW logistic quality classifier: fit = treeAggregate
    L-BFGS (map-side gradient partials; driver state = one coefficient
    vector), score = map-only broadcast dot product. Both should be
    ~linear in nd; the planted label (doc contains a pivot token) keeps
    the fit non-degenerate at any size."""
    import time as _t

    from pyspark.sql import functions as F

    from faiss_spark.functions.quality import train_quality_classifier

    docs = (
        _synth_docs(spark, nd, ntok=60, salt=77)
        .withColumn("label", F.col("text").contains("t100").cast("int"))
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    t0 = _t.perf_counter()
    m = train_quality_classifier(
        docs, "label", num_features=1 << 16, max_iter=10
    )
    fit_sec = _t.perf_counter() - t0
    score_sec = _best_of(
        lambda: m.score(docs).agg(F.sum("quality_score")).first()
    )
    return {
        "nd": nd,
        "fit_sec": round(fit_sec, 3),
        "score_sec": round(score_sec, 3),
        "fit_docs_per_core_sec": round(nd / fit_sec / CPUS, 1),
        "score_docs_per_core_sec": round(nd / score_sec / CPUS, 1),
    }


def probe_perplexity_buckets(spark, nd: int) -> dict:
    """CCNet bucketing in the 100 TB (sketch) mode: gram model shuffle +
    broadcast model join + per-language percentile_approx aggregate +
    broadcast threshold assign. Every stage is map-side-combinable or
    map-only, so per-doc cost must stay flat."""
    from pyspark.sql import functions as F

    from faiss_spark.functions.text import perplexity_buckets

    docs = (
        _synth_docs(spark, nd, ntok=60, salt=55)
        .withColumn("lang", F.expr("concat('l', pmod(doc_id, 5))"))
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: perplexity_buckets(docs, exact=False)
        .groupBy("bucket")
        .count()
        .collect()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_ngram_repetition(spark, nd: int) -> dict:
    """Gopher char-mass repetition fold: per-doc array_sort + linear
    aggregate, pure map-only codegen — per-doc cost must be flat (the
    O(G log G) term is per DOCUMENT, not per corpus)."""
    from pyspark.sql import functions as F

    from faiss_spark.functions.text import (
        dup_ngram_char_frac,
        top_ngram_char_frac,
    )

    docs = (
        _synth_docs(spark, nd, ntok=100, salt=29)
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: docs.select(
            top_ngram_char_frac(F.col("text"), 2).alias("t"),
            dup_ngram_char_frac(F.col("text"), 5).alias("d"),
        )
        .agg(F.sum("t"), F.sum("d"))
        .first()
    )
    return {
        "nd": nd,
        "sec": round(sec, 3),
        "docs_per_core_sec": round(nd / sec / CPUS, 1),
    }


def probe_embedding_neardup_skew(spark, nv: int, max_cell_rows) -> dict:
    """VERDICT r8 what's-wrong #3: hot-cell skew in
    embedding_neardup_bucketed. 40% of vectors share one dominant
    direction → one spherical k-means cell; AQE cannot split an
    applyInPandas group (the pandas group IS the task), so without a cap
    that cell's blocked GEMM runs as ONE straggler task. max_cell_rows
    shards the hot cell into sub-shard pair-groups (triangle
    partitioning, exact — pinned by test_scale_paths); the capped run
    must beat the uncapped twin at the same size and scale ~with the
    sharded work. The hot vectors' pairwise cosine is ≈0.75 (same cell,
    few emitted pairs), so the probe times the GEMM, not the pair sink."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.dedup import embedding_neardup_bucketed

    vecs = (
        _synth_vecs(spark, nv, D, 3_333)
        .select(
            F.col("id").alias("vid"),
            F.when(
                F.pmod("id", F.lit(5)) < 2,
                F.expr(
                    "transform(vec, (x, i) -> cast(CASE WHEN i = 0 THEN "
                    "2.0 ELSE x * 0.5 END as float))"
                ),
            )
            .otherwise(F.col("vec"))
            .alias("vec"),
        )
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    sec = _best_of(
        lambda: embedding_neardup_bucketed(
            vecs,
            threshold=0.95,
            n_buckets=16,
            id_col="vid",
            vec_col="vec",
            max_cell_rows=max_cell_rows,
        ).count(),
        runs=1,
    )
    hot = int(nv * 2 / 5)
    return {
        "nv": nv,
        "hot_rows": hot,
        "max_cell_rows": max_cell_rows,
        "sec": round(sec, 3),
        "hot_gemm_tflop": round(hot * hot * D * 2 / 1e12, 3),
    }


def main() -> None:
    quick = "--quick" in sys.argv
    only = [a for a in sys.argv[1:] if not a.startswith("--")]
    # big-corpus shuffle sizing (see session.py): the probes run at 1-5M
    # docs / 0.6-3M vectors where fine-grained initial partitions are the
    # spill guard (r8 line_dedup finding); the session default stays
    # cpus-sized for second-scale queries (r9 A/B, tools/aqe_ab.py)
    os.environ.setdefault(
        "SPARK_GRAFT_INITIAL_PARTITIONS", str(max(8 * CPUS, 256))
    )
    spark = get_spark("scale_probe", cpus=CPUS)
    small, big = (600_000, 3_000_000) if not quick else (60_000, 300_000)
    nd_small, nd_big = (1_000_000, 5_000_000) if not quick else (20_000, 100_000)
    probes = {
        "knn_f32": lambda: [probe_knn(spark, small), probe_knn(spark, big)],
        "kmeans_assign": lambda: [
            probe_kmeans_assign(spark, small),
            probe_kmeans_assign(spark, big),
        ],
        "ivf_add": lambda: [probe_ivf_add(spark, small), probe_ivf_add(spark, big)],
        "graph_bucketed": lambda: [probe_graph(spark, small), probe_graph(spark, big)],
        "nsg_cells": lambda: [probe_nsg(spark, small), probe_nsg(spark, big)],
        "pq_fastscan": lambda: [
            probe_pq_fastscan(spark, small),
            probe_pq_fastscan(spark, big),
        ],
        "ivfpq_fastscan": lambda: [
            probe_ivfpq_fastscan(spark, small),
            probe_ivfpq_fastscan(spark, big),
        ],
        # nn_descent probes at 1/60 the vector sizes: the 2-hop
        # self-join materializes (2·k_eff)² ≈ 1k pre-dedup rows per node
        # per iteration BEFORE the sampling cap (the cap bounds the
        # SCORED pairs, not the join output), so 10k/50k nodes already
        # shuffle 10M/50M rows per iteration
        "nn_descent": lambda: [
            probe_nn_descent(spark, max(10_000, small // 60)),
            probe_nn_descent(spark, max(50_000, big // 60)),
        ],
        "span_dedup": lambda: [
            probe_span_dedup(spark, nd_small),
            probe_span_dedup(spark, nd_big),
        ],
        # prefiltered twin at the SAME sizes as span_dedup for a
        # direct comparison of the two plans
        "span_dedup_prefiltered": lambda: [
            probe_span_dedup_prefiltered(spark, nd_small),
            probe_span_dedup_prefiltered(spark, nd_big),
        ],
        "pack_sequences": lambda: [
            probe_pack_sequences(spark, nd_small),
            probe_pack_sequences(spark, nd_big),
        ],
        "chunk_documents": lambda: [
            probe_chunk_documents(spark, nd_small),
            probe_chunk_documents(spark, nd_big),
        ],
        # minhash probes at 1/5 the doc sizes: the 12-hash × shingle-set
        # signature expression costs ~20× a plain scan per doc, and the
        # per-doc cost of a scan+banded-join pipeline is size-independent
        "minhash_lsh": lambda: [
            probe_minhash_lsh(spark, max(20_000, nd_small // 5)),
            probe_minhash_lsh(spark, max(100_000, nd_big // 5)),
        ],
        "decontaminate_spans": lambda: [
            probe_decontaminate_spans(spark, nd_small),
            probe_decontaminate_spans(spark, nd_big),
        ],
        "shuffle_corpus": lambda: [
            probe_shuffle_corpus(spark, nd_small),
            probe_shuffle_corpus(spark, nd_big),
        ],
        "line_dedup": lambda: [
            probe_line_dedup(spark, nd_small),
            probe_line_dedup(spark, nd_big),
        ],
        "line_dedup_skew": lambda: [
            probe_line_dedup_skew(spark, nd_small),
            probe_line_dedup_skew(spark, nd_big),
        ],
        # fixed sizes (not small/big): the uncapped twin is a single
        # 205-GFLOP task by construction — it exists to SHOW the
        # straggler, so it runs once at the small size only
        "embedding_neardup_skew": lambda: [
            probe_embedding_neardup_skew(spark, 100_000, None),
            probe_embedding_neardup_skew(spark, 100_000, 25_000),
            probe_embedding_neardup_skew(spark, 300_000, 25_000),
        ],
        "quality_classifier": lambda: [
            probe_quality_classifier(spark, nd_small),
            probe_quality_classifier(spark, nd_big),
        ],
        "perplexity_buckets": lambda: [
            probe_perplexity_buckets(spark, nd_small),
            probe_perplexity_buckets(spark, nd_big),
        ],
        "token_budget": lambda: [
            probe_token_budget(spark, nd_small),
            probe_token_budget(spark, nd_big),
        ],
        # ngram_repetition probes at 1/5 the doc sizes: the per-doc
        # sorted fold costs ~25x a plain scan per doc (sort + O(G)
        # aggregate over 99 grams), and a map-only stage's linearity is
        # size-independent — 200k/1M docs already run 45/230 s
        "ngram_repetition": lambda: [
            probe_ngram_repetition(spark, max(20_000, nd_small // 5)),
            probe_ngram_repetition(spark, max(100_000, nd_big // 5)),
        ],
    }
    out = {"cpus": CPUS, "d": D, "sizes": [small, big]}
    for name, fn in probes.items():
        if only and name not in only:
            continue
        out[name] = fn()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
