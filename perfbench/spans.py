"""Spans around calls into faiss_spark, and Spark's own counters per span.

A span is timed on the driver. While it is open, every Spark job it
submits carries the span's job group, so after the job the stages and SQL
executions of each span can be looked up in Spark's status stores and
summed. Nothing is read from Spark while a span is open; counters are
resolved in ``resolve`` after the timed job ends.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# per-span counters, named ``<span>.spark.<counter>`` in the output
SPARK_COUNTERS = (
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
    "python_bytes_sent",
    "python_bytes_returned",
    "core_idle_share",
)

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9][0-9,]*\.?[0-9]*) (B|KiB|MiB|GiB|TiB)")


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric: either ``'1.5 MiB'`` or the
    multi-task form ``'total (min, med, max ...)\\n1.5 MiB (...)'``."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Span:
    name: str
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent.name if parent else None,
                 f"perfbench-{os.getpid()}-{next(self._ids)}", time.perf_counter())
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def take(self) -> list[Span]:
        """Spans recorded since the last call, innermost first."""
        out, self.spans = self.spans, []
        return out


@contextlib.contextmanager
def wrapped(owner, attr: str, tracer: Tracer, name: str):
    """Time every call of ``owner.attr`` as span ``name`` while the block
    runs (used for callees that a public function calls internally)."""
    orig = owner.__dict__[attr]

    def timed(*a, **k):
        with tracer.span(name):
            return orig(*a, **k)

    setattr(owner, attr, timed)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def _group_counters(spark, group: str) -> dict:
    """Sum stage and SQL metrics of every job that ran under ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    c = dict.fromkeys(SPARK_COUNTERS, 0.0)
    stage_ids, exec_ids = set(), set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        pair = store.jobWithAssociatedSql(jid)
        stage_ids.update(int(s) for s in _iter(pair._1().stageIds()))
        if pair._2().isDefined():
            exec_ids.add(int(pair._2().get()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # no longer retained by the status store
            continue
        c["tasks"] += st.numCompleteTasks()
        c["executor_run_s"] += st.executorRunTime() / 1000.0
        c["gc_s"] += st.jvmGcTime() / 1000.0
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["output_bytes"] += st.outputBytes()
    for eid in exec_ids:
        values = sql_store.executionMetrics(eid)
        for node in _iter(sql_store.planGraph(eid).allNodes()):
            for m in _iter(node.metrics()):
                key = {_PY_SENT: "python_bytes_sent",
                       _PY_RETURNED: "python_bytes_returned"}.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    c[key] += parse_size(v.get())
    return c


def resolve(spark, spans: list[Span], cores: int) -> dict:
    """{span name: counters} for one job's spans. A span's counters include
    its children's jobs; ``self_s`` is its wall time minus its children's."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    own = {s.group: _group_counters(spark, s.group) for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        c = dict(own[s.group])
        stack = list(s.children)
        while stack:
            ch = stack.pop()
            stack.extend(ch.children)
            for k in SPARK_COUNTERS:
                c[k] += own[ch.group][k]
        c["parent"] = s.parent
        c["wall_s"] = s.wall_s
        c["self_s"] = s.wall_s - sum(ch.wall_s for ch in s.children)
        busy = c["executor_run_s"] / max(s.wall_s * cores, 1e-9)
        c["core_idle_share"] = 1.0 - busy
        out[s.name] = c
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# ------------------------------------------------------------------ memory


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python workers)."""
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        seen.append(p)
        try:
            todo.extend(_children(p))
        except OSError:
            continue
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every process below it,
    including exited children their parents have reaped."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / ticks


def peak_rss_by_process(pid: int) -> dict[str, float]:
    """{"<command> <pid>": peak resident set (VmHWM) in MB} for every
    process below ``pid``."""
    out = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[f"{name} {p}"] = _status_kb(p, "VmHWM:") / 1024.0
    return out
