"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[session.default_cpus()] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline set = the throughput-shaped workloads from BASELINE.md's
interpretation section: exhaustive knn, knn-graph (similarity join),
k-means train+assign, IVF build+search, minhash dedup, relational agg.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from faiss_spark.session import default_cpus, get_spark

BENCH_QUERIES = [
    "knn_tabular",
    "knn_l2",
    "knn_cosine",
    "knn_graph",
    "range_search_l2",
    "ivf_search_exact",
    "pq_adc_search",
    "hamming_knn",
    "kmeans_assign",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_embedding_bucketed",
    "text_features",
    "tpch_q1",
]

# entries whose queries() form is an oracle property check (computes
# ground truth alongside the operator) — bench times the RAW workload
BENCH_OVERRIDES = {
    "pq_adc_search": lambda: entrymod._pq_adc_raw,
    "kmeans_assign": lambda: entrymod._kmeans_raw,
    "dedup_embedding_bucketed": lambda: entrymod._dedup_bucketed_raw,
    # r9 consolidated ★dedup_simhash to both widths; the bench stays the
    # 32-bit raw workload so round-to-round numbers remain comparable
    "dedup_simhash": lambda: entrymod._dedup_simhash_raw,
}

# entries that are pure projections: a bare count() row-counts the
# parquet footer — Catalyst prunes every computed column — so force the
# columns through an aggregate (the hash is noise next to the operator)
BENCH_FORCE_COLUMNS = {"text_features"}


def _run_once(df, force_columns: bool) -> int:
    from pyspark.sql import functions as F

    if force_columns:
        # max, not sum: ANSI mode overflows a long sum of 2^63-range hashes
        df.agg(
            F.max(F.xxhash64(*[F.col(c) for c in df.columns]))
        ).first()
        return -1  # row count reported separately (cheap metadata count)
    return df.count()


# ------------------------------------------------------- contention sentinel

CALIBRATION_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_CALIBRATION.json"
)


def _sentinel_probe(spark) -> dict:
    """Fixed-work probes whose code NEVER changes round to round: a pure
    numpy GEMM (measures CPU/BLAS contention), a pure codegen SQL
    aggregate (measures JVM/scheduler contention), and a fixed ~100 MB
    parquet write+read (measures disk weather — VERDICT r8 'What's
    wrong' #1: BENCH_r08 recorded ivf_add 3.1x slow under
    `contended: false` because the two CPU probes are blind to the disk
    band that dominated the partitioned write; the judge's idle re-run
    measured 66k rows/s on identical code). Run at the START and END of
    the bench; if any probe drifts >1.5x against the stored idle
    calibration (or the numpy probe's two ends disagree >1.5x), the
    round's numbers are a contention band, not the engine — the
    artifact says so itself."""
    import numpy as np

    rng = np.random.default_rng(42)
    A = rng.standard_normal((2000, 256))
    B = rng.standard_normal((256, 2000))
    out = np.empty((2000, 2000))
    np.dot(A, B, out=out)  # warm the buffer
    best_np = None
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(10):
            np.dot(A, B, out=out)
        dt = time.perf_counter() - t0
        best_np = dt if best_np is None else min(best_np, dt)

    # pure whole-stage-codegen aggregate: no files, no Python, no shuffle
    sql = (
        "select max(xxhash64(id * 31 + 7)) as h "
        "from range(20000000)"
    )
    spark.sql(sql).first()  # warm codegen compile
    best_sql = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.sql(sql).first()
        dt = time.perf_counter() - t0
        best_sql = dt if best_sql is None else min(best_sql, dt)

    # fixed-work disk probe: write + read back ~100 MB of incompressible
    # parquet (xxhash64 values defeat encodings, so the bytes written are
    # stable run-to-run) in the same tmpdir family the write-heavy bench
    # sections use — a disk-contention band now moves band_factor even
    # when CPU is idle
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bench_sentinel_io_")
    wr = spark.range(6_000_000).selectExpr(
        "xxhash64(id * 31 + 7) as h1", "xxhash64(id * 17 + 3) as h2"
    )
    best_disk = None
    try:
        for _ in range(2):
            t0 = time.perf_counter()
            wr.write.mode("overwrite").parquet(tmp)
            spark.read.parquet(tmp).agg({"h1": "max"}).first()
            dt = time.perf_counter() - t0
            best_disk = dt if best_disk is None else min(best_disk, dt)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "numpy_sec": round(best_np, 4),
        "sql_sec": round(best_sql, 4),
        "disk_sec": round(best_disk, 4),
    }


_CONC_CHILD = r"""
import os, sys, time
import numpy as np
rng = np.random.default_rng(0)
A = rng.standard_normal((2000, 256))
B = rng.standard_normal((256, 2000))
out = np.empty((2000, 2000))
np.dot(A, B, out=out)  # warm BLAS + fault the buffers
deadline = float(sys.argv[1]); iters = int(sys.argv[2])
while time.time() < deadline:
    time.sleep(0.005)
t0 = time.perf_counter()
for _ in range(iters):
    np.dot(A, B, out=out)
print(time.perf_counter() - t0)
"""


def _concurrency_probe(cpus: int, iters: int = 20) -> dict:
    """N-way concurrency probe (VERDICT r13 #5): the single-stream
    sentinel probes are structurally blind to the §14 machine epoch —
    a day when AGGREGATE bandwidth collapses (32 independent
    single-thread GEMM processes each ran 13.6x slower than solo) reads
    `contended: false` while every parallel scan runs 1.5-3x slow. This
    probe runs K fresh single-BLAS-thread python children doing the
    SAME fixed GEMM loop, synchronized to a common start, each timing
    only its loop; `slowdown` = median K-way child time / solo child
    time. Healthy on this VM: ~1.3-2 (the ~2.5x aggregate-bandwidth
    ceiling the kernel bench documents); a §14-class epoch reads >> 3
    and sets `parallel_collapsed`, making the artifact self-adjudicating
    even when the solo probes sit at floor."""
    import subprocess

    k = max(2, min(int(cpus), 32))
    env = {
        **os.environ,
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }

    def draw(n: int, slack: float) -> list[float]:
        deadline = time.time() + slack
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _CONC_CHILD, str(deadline), str(iters)],
                stdout=subprocess.PIPE, text=True, env=env,
            )
            for _ in range(n)
        ]
        outs = []
        for p in procs:
            out, _ = p.communicate(timeout=300)
            outs.append(float(out.strip()))
        return outs

    try:
        solo = draw(1, 1.5)[0]
        kway = sorted(draw(k, 4.0))
        med = kway[len(kway) // 2]
        return {
            "k": k,
            "solo_sec": round(solo, 3),
            "kway_median_sec": round(med, 3),
            "kway_max_sec": round(max(kway), 3),
            "slowdown": round(med / solo, 2),
            "parallel_collapsed": bool(med / solo > 3.0),
        }
    except Exception as e:  # never let the probe kill the bench
        return {"error": repr(e)[:200]}


CAL_WINDOW = 6  # floor = per-probe min over the last N runs' best draws


def _load_calibration_history() -> list[dict]:
    """Per-run best probes of the last CAL_WINDOW runs. Legacy flat
    (best-ever floor) files are DISCARDED on migration: VERDICT r9 #1 —
    the stored best-ever numpy floor (0.0426 s) predated a machine change
    and labeled every r9 draw contended, including the judge's genuinely
    idle one, so the label stopped discriminating. The rolling window
    rebuilds the floor from observed runs and ages a stale point out
    after CAL_WINDOW runs instead of carrying it forever."""
    if not os.path.exists(CALIBRATION_FILE):
        return []
    try:
        with open(CALIBRATION_FILE) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return []
    if isinstance(data, dict) and isinstance(data.get("history"), list):
        return [dict(h) for h in data["history"]]
    return []


def _sentinel_summary(
    start: dict, end: dict, headline_total: float | None = None,
    sf: str | float | None = None,
) -> dict:
    """Fold the two probes + the rolling calibration window into a
    self-labeling verdict. The floor is the per-probe minimum over the
    last CAL_WINDOW runs' best draws (this run included): a fast draw
    tightens it immediately (self-healing downward, as before), and a
    machine that got permanently slower stops mislabeling every run as
    `contended` once the old fast draws age out — `contended` again
    means "this run, vs this machine's CURRENT floor" (VERDICT r9 #1).
    A probe a stored run predates (e.g. the r9 disk probe) adopts this
    run's best."""
    history = _load_calibration_history()
    best = {k: min(start[k], end[k]) for k in start}
    calibrated_now = not history
    entry = dict(best)
    if headline_total is not None:
        entry["headline_sec"] = round(headline_total, 3)
        entry["sf"] = sf
    window = (history + [entry])[-CAL_WINDOW:]
    with open(CALIBRATION_FILE, "w") as f:
        json.dump({"history": window}, f)
    cal = {k: min(h.get(k, best[k]) for h in window) for k in best}
    # drift compares the NUMPY probe only: it has no JVM state, so a
    # start/end disagreement is real machine weather. The SQL probe runs
    # ~1.5-2x slower at START than END on every run — measured to be C2
    # warm-up (a fresh session plateaus at ~0.2 s; only a fully bench-hot
    # JVM reaches ~0.09 s), so start-vs-end SQL drift would chronically
    # false-flag. The SQL probe still contributes its BEST draw to
    # band_factor (JVM-side contention covering the whole run).
    drift = max(start["numpy_sec"], end["numpy_sec"]) / min(
        start["numpy_sec"], end["numpy_sec"]
    )
    band = max(best[k] / cal[k] for k in best)
    return {
        "start": start,
        "end": end,
        "calibration": cal,
        "calibration_window": len(window),
        "calibrated_this_run": calibrated_now,
        # band_factor: how much slower the WHOLE run's best fixed-work
        # draws are vs the idle calibration; drift_factor: how much the
        # two ends of the run disagree. Either >1.5 => the headline
        # numbers sit in a contention band.
        "band_factor": round(band, 2),
        "drift_factor": round(drift, 2),
        "contended": bool(band > 1.5 or drift > 1.5),
    } | _epoch_fields(window, headline_total, sf)


def _epoch_fields(
    window: list[dict], headline_total: float | None,
    sf: str | float | None = None,
) -> dict:
    """Second discriminator (VERDICT r10 #7): a UNIFORMLY slow
    machine-day slows probes and workload together, so per-probe
    band/drift stay in-band while every query runs high — the judge's
    second r10 draw read `contended: false` at +40%. epoch_factor =
    this run's headline total over the rolling window's best, making
    that day visible in round-over-round reads. Caveat (inherent): code
    changes move the headline too, so a jump is 'machine epoch OR real
    regression' — the per-query table says which."""
    if headline_total is None:
        return {}
    # only SAME-sf totals are comparable: a small-sf run's tiny headline
    # would otherwise poison the floor and flag every full-sf run
    heads = [
        h["headline_sec"]
        for h in window
        if "headline_sec" in h and h.get("sf") == sf
    ]
    if not heads:
        return {"epoch_factor": None}
    return {"epoch_factor": round(headline_total / min(heads), 2)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    cpus = default_cpus()
    spark = get_spark("faiss_spark_bench", cpus=cpus)
    qs = entrymod.queries()
    # warm the JVM/Arrow path and the big-table scan once so timings
    # measure the operators, not session init / first-touch page cache
    qs["knn_l2"](spark, sf_dir).count()
    entrymod._lineitem_features(spark, sf_dir).count()
    sent_start = _sentinel_probe(spark)
    # TWO temporally separated passes over the whole query list, per-query
    # min (VERDICT r7 fix #2b): a best-of-2 run back-to-back sits entirely
    # inside one contention window — the r7 artifact recorded 2-4x weather
    # outliers as per-query numbers exactly that way. A full-list pass
    # between a query's two draws means a multi-second window cannot taint
    # both.
    timings: dict[str, float] = {}
    draws: dict[str, list] = {}
    rows: dict[str, int] = {}
    for _pass in range(2):
        for name in BENCH_QUERIES:
            fn = (
                BENCH_OVERRIDES[name]() if name in BENCH_OVERRIDES else qs[name]
            )
            force = name in BENCH_FORCE_COLUMNS
            t0 = time.perf_counter()
            n = _run_once(fn(spark, sf_dir), force)
            dt = time.perf_counter() - t0
            draws.setdefault(name, []).append(round(dt, 3))
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            if name not in rows:
                # force-columns queries report -1 from the timed run; the
                # real count is metadata-cheap and fetched once
                rows[name] = fn(spark, sf_dir).count() if force else n
    for name in BENCH_QUERIES:
        timings[name] = round(timings[name], 3)
        print(f"# {name}: {timings[name]}s ({rows[name]} rows)", file=sys.stderr)
    kernel = _kernel_bench(spark, cpus)
    graph = _graph_bench(spark, cpus)
    kmeans = _kmeans_bench(spark, cpus)
    ivf_add = _ivf_add_bench(spark, cpus)
    nsg = _nsg_bench(spark, cpus)
    sent_end = _sentinel_probe(spark)
    total = round(sum(timings.values()), 3)
    sentinel = _sentinel_summary(
        sent_start, sent_end, headline_total=total, sf=sf
    )
    # N-way concurrency probe, once per run (cheap, ~10 s): detects the
    # aggregate-bandwidth epoch the per-stream probes cannot (r13 §14)
    sentinel["concurrency"] = _concurrency_probe(cpus)
    if sentinel["concurrency"].get("parallel_collapsed"):
        sentinel["contended"] = True
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # both raw draws per query (VERDICT r12 #4): the headline
                # is the per-query min of two temporally separated passes;
                # storing the raw pair lets a drifted/contended window be
                # adjudicated from the artifact alone, no re-run needed
                "queries_draws": draws,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "sentinel": sentinel,
                "kernel_knn": kernel,
                "graph_bucketed": graph,
                "kmeans": kmeans,
                "ivf_add": ivf_add,
                "nsg": nsg,
            }
        )
    )


def _synth_vecs(spark, n: int, d: int, salt: int):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        "id",
        F.expr(
            f"transform(sequence(0, {d - 1}), j -> "
            f"cast(cast(pmod(xxhash64(id * {d} + j + {salt}), 100000) "
            "as float) / 100000.0 - 0.5 as float))"
        ).alias("vec"),
    )


def _kernel_bench(
    spark, cpus: int, nv: int = 600_000, nq: int = 10_000
) -> dict:
    """Kernel-dominated throughput probe, baseline-comparable: exact knn
    over 600k×64d base with 10k queries (≈0.77 TFLOP of distance GEMM —
    the shape of BASELINE.md's brute-force rows, reference
    faiss/utils/distances.cpp:271-354 knn_L2sqr BLAS path). Alongside it,
    the raw numpy-BLAS GEMM roofline for the SAME flops on this host, so
    the JSON carries engine-vs-roofline directly. The roofline GEMM runs
    into a PREALLOCATED out= buffer (warmed before timing): on this VM a
    fresh multi-GB temporary costs more in first-touch page faults than
    the GEMM itself, and the roofline should measure BLAS, not faults.
    Both f64 (oracle-exact dgemm, default engine path) and f32 (the
    reference's sgemm) are measured. Synthetic vectors are hash-generated
    in codegen and materialized OUTSIDE the timed region."""
    import numpy as np
    from pyspark.sql import functions as F

    from faiss_spark.operators.knn import knn

    d, k = 64, 10
    base = _synth_vecs(spark, nv, d, 0).repartition(cpus).localCheckpoint(
        eager=True
    )
    queries = _synth_vecs(spark, nq, d, 7_777_777).select(
        F.col("id").alias("qid"), "vec"
    )

    def _roofline_draw(np_dtype, Q, chunk, out, iters) -> float:
        t0 = time.perf_counter()
        for _ in range(iters):
            np.dot(Q, chunk.T, out=out)
        return time.perf_counter() - t0

    def paired(
        dtype: str, np_dtype, runs: int = 3, base_df=None
    ) -> tuple[float, float, float]:
        """Interleaved (spark draw, numpy draw) rounds so the engine and
        its roofline DENOMINATOR are measured under the same load
        (VERDICT r7 fix #2c: the r7 artifact recorded ratio_vs_blas 0.47 —
        'Spark 2x faster than local numpy', impossible — because the numpy
        draws all sat in one block that caught a contention window).
        Returns (min spark sec, min numpy sec, min/min ratio): with the
        draws interleaved, a contention window cannot suppress ALL of one
        side's draws without also hitting the other's, so min/min cannot
        invert the way the blocked layout could. (A median of per-round
        ratios was tried and rejected: one slow in-process numpy draw per
        round — GC/page-cache pressure right after a Spark job — flips
        individual rounds below 1.0 even on an idle box.)"""
        if base_df is None:
            base_df = base
        # one UNTIMED warm-up first: each dtype has its own per-worker
        # workspace buffers, and their first-touch page faults on this VM
        # cost multiples of the GEMM itself (the r4 artifact recorded an
        # f32 number dominated by exactly that cold start)
        knn(base_df, queries, k, dtype=dtype).count()
        rng = np.random.default_rng(0)
        rows = min(20_000, max(1, nv // 4))
        Q = rng.standard_normal((nq, d)).astype(np_dtype)
        chunk = rng.standard_normal((rows, d)).astype(np_dtype)
        out = np.empty((nq, rows), dtype=np_dtype)
        np.dot(Q, chunk.T, out=out)  # warm: fault the buffer once
        iters = nv // rows
        best_s = best_n = None
        for _ in range(runs):
            t0 = time.perf_counter()
            n = knn(base_df, queries, k, dtype=dtype).count()
            s = time.perf_counter() - t0
            r = _roofline_draw(np_dtype, Q, chunk, out, iters)
            assert n == nq * k
            best_s = s if best_s is None else min(best_s, s)
            best_n = r if best_n is None else min(best_n, r)
        return best_s, best_n, best_s / best_n

    spark_sec, np_sec, ratio = paired("f64", np.float64)
    spark_sec_f32, np_sec_f32, ratio_f32 = paired("f32", np.float32)
    # Coarse-partition f32 shape (VERDICT r11 #6): the 32-partition row
    # above hides per-task cost behind 32-way parallelism (and runs
    # into the VM's ~2.5x-aggregate bandwidth ceiling), so its ratio
    # stopped tracking the kernel. At 8 partitions each task carries
    # 8x the work against the same single-stream roofline, so PER-TASK
    # selection cost lands in this ratio with an 8x smaller parallel
    # discount — it reads ~(per-task ratio)/(8/bandwidth-share), i.e.
    # well above 1.0 by construction; what matters is that it MOVES
    # with the kernel code. r12 measured exactly that: the accumulator
    # running-bound prune took this arm 3.34 -> ~1.5 and the single-
    # task probe 21.9x -> 9.1x (SCALE.md round-12 adjudication).
    gparts = max(4, min(8, cpus // 4))
    base_coarse = base.repartition(gparts).localCheckpoint(eager=True)
    spark_sec_g, np_sec_g, ratio_g = paired(
        "f32", np.float32, base_df=base_coarse
    )
    flops = 2.0 * nv * nq * d
    return {
        "spark_sec": round(spark_sec, 3),
        # 6 decimals: at smoke-test toy sizes the roofline is sub-ms and
        # 3-decimal rounding would truncate it to 0.0
        "numpy_gemm_sec": round(np_sec, 6),
        # min/min over INTERLEAVED draws (see paired() for why)
        "ratio_vs_blas": round(ratio, 2),
        "spark_sec_f32": round(spark_sec_f32, 3),
        "numpy_gemm_sec_f32": round(np_sec_f32, 6),
        "ratio_vs_blas_f32": round(ratio_f32, 2),
        "spark_sec_f32_gemm": round(spark_sec_g, 3),
        "numpy_gemm_sec_f32_gemm": round(np_sec_g, 6),
        "ratio_vs_blas_f32_gemm": round(ratio_g, 2),
        "gemm_partitions": gparts,
        "gflops": round(flops / spark_sec / 1e9, 1),
        "gflops_f32": round(flops / spark_sec_f32 / 1e9, 1),
        "qvd_per_core_sec": round(nv * nq * d / spark_sec / cpus / 1e9, 3),
        "unit_qvd": "1e9 query·vector·dims per core-second",
        "nv": nv, "nq": nq, "d": d, "k": k,
    }


def _kmeans_bench(spark, cpus: int, nv: int = 600_000, k: int = 256) -> dict:
    """k-means iteration throughput — the BASELINE.md MNIST8m row's
    comparable quantity (n·k·d per iteration wall-clock). Measures the
    fit (sampled Lloyd, the reference's own subsample discipline,
    faiss/Clustering.cpp:93) plus one full distributed assign pass."""
    import time as _t

    from faiss_spark.operators.cluster import KMeans

    d, niter = 64, 10
    base = _synth_vecs(spark, nv, d, 99_999).repartition(cpus).localCheckpoint(
        eager=True
    )
    # one UNTIMED warm-up fit + best-of-3: a cold fresh-session fit costs
    # 2.5x a warm one on this VM (first-touch workspace buffers + codegen
    # compile), and the r6 artifact recorded exactly that cold outlier
    # (7.10 s where the warm capability is ~2.8 s). Same discipline as
    # _kernel_bench since r5.
    KMeans(k=k, niter=2, seed=7).fit(base)
    fit_sec = None
    for _ in range(3):
        t0 = _t.perf_counter()
        km = KMeans(k=k, niter=niter, seed=7).fit(base)
        dt = _t.perf_counter() - t0
        fit_sec = dt if fit_sec is None else min(fit_sec, dt)
    km.assign(base).count()  # untimed warm-up for the assign path
    best = None
    for _ in range(3):
        t0 = _t.perf_counter()
        n = km.assign(base).count()
        dt = _t.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    assert n == nv
    return {
        "fit_sec": round(fit_sec, 3),
        "fit_sec_per_iter": round(fit_sec / niter, 3),
        "assign_sec": round(best, 3),
        "assign_nkd_per_core_sec": round(nv * k * d / best / cpus / 1e9, 3),
        "unit_nkd": "1e9 point·centroid·dims per core-second",
        "nv": nv, "k": k, "d": d, "niter": niter,
    }


def _ivf_add_bench(spark, cpus: int, nv: int = 600_000) -> dict:
    """IVF encode + partitioned-layout write throughput — the BASELINE.md
    'add 1B in 3.1 h' row's comparable quantity (rows/sec through assign
    + partitioned parquet write)."""
    import shutil
    import tempfile
    import time as _t

    from faiss_spark.operators.ivf import IVFIndex

    base = _synth_vecs(spark, nv, 64, 31_337).repartition(cpus).localCheckpoint(
        eager=True
    )
    nlist = max(4, min(1024, nv // 64))
    idx = IVFIndex.train(base, nlist=nlist, seed=7, niter=4)
    # untimed warm-up + best-of-2: a cold first add (codegen compile +
    # first-touch of the Arrow/encode path + cold page cache on the
    # partitioned write) costs 2.5x a warm one on this VM — the same
    # cold-start class the kmeans/graph sections were hardened against
    sec = None
    out = tempfile.mkdtemp(prefix="ivf_add_bench_")
    try:
        idx.add(base, path=out)
        for _ in range(2):
            t0 = _t.perf_counter()
            idx.add(base, path=out)
            n = idx.codes.count()
            dt = _t.perf_counter() - t0
            sec = dt if sec is None else min(sec, dt)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    assert n == nv
    return {
        "sec": round(sec, 3),
        "rows_per_sec": round(nv / sec, 1),
        "rows_per_core_sec": round(nv / sec / cpus, 1),
        "nv": nv, "nlist": nlist, "d": 64,
    }


def _nsg_bench(spark, cpus: int, nv: int = 600_000, nq: int = 10_000) -> dict:
    """Sharded batch NSG: build rate and routed-search rate at 600k
    synthetic 64-d vectors (cell sharding + nprobe routing — the
    graph-per-cell serving shape). Search fans 10k queries to 8 of 32
    cell shards; quality for this configuration is pinned by ★nsg_search
    and test_nsg, so the bench records only throughput."""
    from pyspark.sql import functions as F

    from faiss_spark.operators.nsg import NSGIndex

    d, k = 64, 10
    base = _synth_vecs(spark, nv, d, 909_091).repartition(cpus).localCheckpoint(
        eager=True
    )
    queries = _synth_vecs(spark, nq, d, 13_131).select(
        F.col("id").alias("qid"), "vec"
    ).localCheckpoint(eager=True)

    # capacity cap: total build work is O(n_total · shard_size) through
    # the per-shard exact k-NN, and k-means cells are skewed — the cap
    # both bounds the straggler and sets the work knob (a probed cell
    # scans all its sub-shards, so routing recall is unchanged)
    def build():
        return NSGIndex.build(
            base, R=16, knn_k=24, nshards=32, sharding="cells",
            max_shard_rows=8_000,
        )

    # untimed warm-up + best-of-2: the first build of a session runs
    # ~1.6x a warm one (codegen + worker-buffer first-touch) — same
    # discipline as the kernel/kmeans/graph sections
    build()
    build_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        idx = build()
        idx.table = idx.table.localCheckpoint(eager=True)
        dt = time.perf_counter() - t0
        build_sec = dt if build_sec is None else min(build_sec, dt)
    idx.search(queries, k, search_L=48, nprobe=8).count()  # warm-up
    search_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        n = idx.search(queries, k, search_L=48, nprobe=8).count()
        dt = time.perf_counter() - t0
        search_sec = dt if search_sec is None else min(search_sec, dt)
    return {
        "build_sec": round(build_sec, 3),
        "build_rows_per_sec": round(nv / build_sec, 1),
        "search_sec": round(search_sec, 3),
        "queries_per_sec": round(nq / search_sec, 1),
        # nv is the CORPUS size; result_rows = nq·k out of the search
        # (the r4 artifact's ambiguous "rows" was this, not the corpus)
        "nv": nv,
        "nq": nq,
        "result_rows": n,
        "nshards": 32,
        "nprobe": 8,
    }


def _graph_bench(spark, cpus: int, nv: int = 600_000) -> dict:
    """The 100 TB graph workhorse, measured: IVF-cell bucketed k-NN graph
    over 600k synthetic 64-d vectors (the Deep1B kNN-graph shape,
    reference benchs/README.md:307). f32 compute — graph builds are
    recall-bound, not hash-bound."""
    from faiss_spark.operators.graph import knn_graph_bucketed

    d, k = 64, 10
    nlist = max(4, min(1024, int((2 * nv) ** 0.5)))
    base = _synth_vecs(spark, nv, d, 424_242).repartition(cpus).localCheckpoint(
        eager=True
    )
    # one UNTIMED warm-up build + best-of-3: this VM shows multi-second
    # contention windows that covered BOTH best-of-2 draws in the r6
    # driver run (49.4 s recorded vs 13.1 s idle, code untouched); a
    # warm-up plus a third draw makes recording a 3x weather outlier as
    # the round's number much less likely. Same discipline as
    # _kernel_bench since r5.
    knn_graph_bucketed(base, k, nlist=nlist, nprobe=2, dtype="f32").count()
    sec = None
    for _ in range(3):
        t0 = time.perf_counter()
        g = knn_graph_bucketed(base, k, nlist=nlist, nprobe=2, dtype="f32")
        edges = g.count()
        dt = time.perf_counter() - t0
        sec = dt if sec is None else min(sec, dt)
    return {
        "sec": round(sec, 3),
        "nodes": nv,
        "edges": edges,
        "edges_per_core_sec": round(edges / sec / cpus, 1),
    }


if __name__ == "__main__":
    main()
