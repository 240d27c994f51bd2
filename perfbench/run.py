"""perfbench: seeded batch workloads for faiss_spark, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload exact_knn --seed 1 --seconds 1 --trace 0

One driver process submits jobs one after another (a closed loop with one
client) to ``local[<usable cores>]``. Set-up starts the session, writes
the seeded inputs to parquet and computes ground truth; it is repeated
``SETUP_REPS`` times and its median reported. Then one cold first job
runs, then steady jobs until ``--seconds`` have passed (at least one).
Every job passes a correctness gate. The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of BENCHMARK.json (see perfbench/README.md).

Inputs, index files and Spark scratch live in a temporary directory
under ``.perfbench/`` that is removed when the run ends; the full record
of the run is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
# traced runs time at least this many steady jobs, untraced and traced in
# ABBA order, so that the drift of job time over a run (JIT, worker caches)
# cancels in the tracing overhead
TRACED_MIN_JOBS = 4
# driver heap: the workloads need well under 1 GB; the engine's 16 GB
# default is more than this host can give one benchmark process
DRIVER_MEM = "3g"
SPANS = (
    "knn.search",
    "cluster.kmeans_fit",
    "ivf.train",
    "ivf.add",
    "ivf.load",
    "ivf.search",
    "dedup.minhash_pairs",
    "dedup.components",
)


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _environment(work: str) -> None:
    """Point every writer (Python, JVM, Spark, workers) inside ``work``
    and let the Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the launcher JVM and the driver JVM: no /tmp/hsperfdata, temp files in work
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(
            p for p in (os.environ.get(var), f"-Djava.io.tmpdir={tmp}",
                        "-XX:-UsePerfData") if p
        )


def _shutdown(spark) -> None:
    """Stop the session and the JVM, then wait for every child to end."""
    from pyspark import SparkContext

    me = os.getpid()
    children = spans.descendants(me)
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and _state(p) not in ("Z", "X")]
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "X"


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed: int, seconds: float, traced: bool, work: str):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.record: dict = {"workload": workload.name, "seed": seed,
                             "seconds": seconds, "trace": int(traced),
                             "cores": self.cores, "jobs": []}

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        from faiss_spark.session import get_spark

        setups, starts = [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", cpus=self.cores)
            t1 = time.perf_counter()
            files = self.wl.setup(self.work, self.seed)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        self.record.update(setup_s=setups, get_spark_s=starts,
                           inputs={k: os.path.basename(v) for k, v in files.items()})
        self.tracer = spans.Tracer(self.spark, enabled=False)

    # ------------------------------------------------------------ jobs
    def job(self, traced: bool) -> dict:
        """Run, time and gate one job; never raises for a failed job."""
        tr = self.tracer
        tr.enabled = traced
        rec: dict = {"traced": traced, "ok": False}
        cpu0 = spans.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = self.wl.job(self.spark, tr)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = spans.tree_cpu_s(os.getpid()) - cpu0
            rec["quality"] = self.wl.check(out)
            rec["ok"] = True
        except Exception as e:  # a failed job is counted, and the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
            out = None
        finally:
            tr.enabled = False
        rec["persisted_rdds"] = spans.persisted_rdds(self.spark)
        taken = tr.take()
        if traced and rec["ok"]:
            rec["spans"] = spans.resolve(self.spark, taken, self.cores)
            rec["layer"] = self.wl.layer_counts(out)
        self.record["jobs"].append(rec)
        return rec

    def measure(self) -> None:
        self.job(traced=False)  # the cold first job
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < self.seconds or i < (
                TRACED_MIN_JOBS if self.traced else 1):
            self.job(traced=self.traced and i % 4 in (1, 2))
            i += 1
        self.record["peak_rss_mb"] = spans.peak_rss_by_process(os.getpid())

    # --------------------------------------------------------- metrics
    def result(self) -> dict:
        jobs = self.record["jobs"]
        steady = jobs[1:]
        failed = sum(not j["ok"] for j in jobs)
        ok = [j for j in steady if j["ok"]]
        untraced = [j for j in ok if not j["traced"]]
        quality = [j["quality"] for j in jobs if j["ok"]]
        if self.traced:
            metrics = self._per_layer(ok, untraced, quality, failed / len(jobs))
        else:
            metrics = {
                "setup_s": (_median(self.record["setup_s"]), "s"),
                "first_job_cpu_s": (jobs[0].get("cpu_s", 0.0), "s"),
                "job_cpu_s": (_median([j["cpu_s"] for j in untraced]), "s"),
                "peak_rss_mb": (sum(self.record["peak_rss_mb"].values()), "MB"),
                "result_recall": (_median([q["result_recall"] for q in quality]), "share"),
            }
        return {
            "correct": failed == 0,
            "attempted": len(jobs),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    def _per_layer(self, ok, untraced, quality, failed_ratio) -> dict:
        """Per-layer metrics; a layer the workload does not run reads 0."""
        wl = self.wl
        traced = [j for j in ok if j["traced"]]
        m: dict[str, tuple] = {}

        def span_med(name: str, key: str) -> float:
            return _median([j["spans"][name][key] for j in traced if name in j["spans"]])

        def q_med(key: str) -> float:
            return _median([q[key] for q in quality if key in q])

        jobs = self.record["jobs"]
        m["first_job_s"] = (jobs[0].get("wall_s", 0.0), "s")
        m["job_s"] = (_median([j["wall_s"] for j in untraced]), "s")
        starts = self.record["get_spark_s"]
        m["session.cpus"] = (self.cores, "count")
        m["session.launch_s"] = (starts[0], "s")
        m["session.get_spark_s"] = (_median(starts), "s")
        for name in SPANS:
            m[f"{name}_s"] = (span_med(name, "wall_s"), "s")
        m["ivf.train_self_s"] = (span_med("ivf.train", "self_s"), "s")
        for name in SPANS:
            for c in spans.SPARK_COUNTERS:
                unit = ("count" if c == "tasks" else "s" if c.endswith("_s")
                        else "share" if c.endswith("share") else "B")
                m[f"{name}.spark.{c}"] = (span_med(name, c), unit)
        m["spark.persisted_rdds"] = (jobs[-1]["persisted_rdds"], "count")

        def layer_med(key: str) -> float:
            return _median([j["layer"].get(key, 0) for j in traced])

        flops = layer_med("flops")
        knn_run = span_med("knn.search", "executor_run_s")
        m["kernels.flops"] = (flops, "FLOP")
        m["kernels.gflops_per_core"] = (flops / knn_run / 1e9 if knn_run else 0.0, "GFLOP/s")
        scanned = layer_med("codes_scanned")
        m["ivf.codes_scanned"] = (scanned, "count")
        m["ivf.results_per_code_scanned"] = (
            layer_med("results") / scanned if scanned else 0.0, "share")
        m["dedup.pairs_out"] = (q_med("pairs_out"), "count")

        def per_s(items: float, *names: str) -> float:
            wall = sum(span_med(n, "wall_s") for n in names)
            return items / wall if wall else 0.0

        n, nq = wl.spec.n, getattr(wl.spec, "nq", 0)
        m["knn_queries_per_s"] = (per_s(nq, "knn.search"), "1/s")
        m["build_vectors_per_s"] = (per_s(n, "ivf.train", "ivf.add"), "1/s")
        m["search_queries_per_s"] = (per_s(nq, "ivf.load", "ivf.search"), "1/s")
        m["recall_at_10"] = (q_med("recall_at_10"), "share")
        m["index_bytes_per_vector"] = (layer_med("index_bytes") / n, "B")
        m["dedup_docs_per_s"] = (per_s(n, "dedup.minhash_pairs", "dedup.components"), "1/s")
        m["dedup_pair_recall"] = (q_med("dedup_pair_recall"), "share")
        m["dedup_pair_precision"] = (q_med("dedup_pair_precision"), "share")
        m["failed_ops_ratio"] = (failed_ratio, "share")

        traced_s, untraced_s = _median([j["wall_s"] for j in traced]), m["job_s"][0]
        top = [s for s in SPANS if s != "cluster.kmeans_fit"]
        covered = _median([sum(j["spans"][s]["wall_s"] for s in top if s in j["spans"]) / j["wall_s"]
                           for j in traced])
        m["trace.job_s"] = (traced_s, "s")
        m["trace.overhead_share"] = (traced_s / untraced_s - 1.0 if untraced_s else 0.0, "share")
        m["trace.span_coverage"] = (covered, "share")
        return m


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def main(argv=None, sizes: dict | None = None) -> dict:
    """Run one benchmark; ``sizes`` overrides the workload's input sizes
    (the self-tests use toy sizes)."""
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import faiss_spark  # noqa: F401  (a checkout without the engine fails here)

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    os.makedirs(STATE, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=STATE)
    saved_env = dict(os.environ)
    run = Run(workloads.WORKLOADS[args.workload](**(sizes or {})), args.seed,
              args.seconds, bool(args.trace), work)
    try:
        _environment(work)
        run.setup()
        run.measure()
        result = run.result()
    finally:
        try:
            _shutdown(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            os.environ.clear()
            os.environ.update(saved_env)
            tempfile.tempdir = None
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"result": result, "run": run.record}, f, indent=1, default=float)
    return result


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    print(json.dumps(main()), flush=True)
