"""Spans around the benchmark's calls into the package, plus Spark counters
read from outside the program.

A span is (id, name, parent, start, end, run id). While a span is open, the
Spark job group is set to its id, so every job an action inside it launches
is attributed to the innermost open span. After the run, the counters of
those jobs are read back over py4j from the JVM's status store (stages) and
the SQL status store (executed plan metrics), and attached to the spans.
Nothing is recorded inside the package.

With tracing off, ``span`` is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from pathlib import Path

#: SQL metric display names (Spark 4.x) -> counter name; summed per span
SQL_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_compute_s",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_recv_bytes",
    "number of files read": "files_read",
    "size of files read": "bytes_read",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def parse_metric(text: str) -> float:
    """Spark renders an aggregated SQL metric as '1,234', '17 ms' or
    'total (min, med, max ...)\\n1.5 s (...)'; return the total in base units
    (seconds, bytes or a count)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        #: seconds spent in the tracer's own bookkeeping inside spans
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}-{self._n}", name, parent.id if parent else None, self.run_id, 0.0)
        self._stack.append(sp)
        self.spans.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.id, name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = t1
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    # -- counters read from outside the program ---------------------------

    def attach_counters(self) -> None:
        """Read the status stores once, after the run, and attach per-span
        Spark counters (self counts: the jobs launched while the span was
        the innermost open one)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        job_span: dict[int, Span] = {}
        for sp in self.spans:
            c = sp.counters
            for k in ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                      "shuffle_fetch_wait_s", "input_bytes", "output_bytes"):
                c.setdefault(k, 0)
            for jid in sc.statusTracker().getJobIdsForGroup(sp.id):
                job_span[jid] = sp
                c["jobs"] += 1
                info = sc.statusTracker().getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — stage skipped or evicted
                        continue
                    c["tasks"] += st.numCompleteTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                    c["input_bytes"] += st.inputBytes()
                    c["output_bytes"] += st.outputBytes()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            owners = {job_span[j].id: job_span[j] for j in _scala_iter(ex.jobs().keysIterator()) if j in job_span}
            if len(owners) != 1:
                continue
            sp = owners.popitem()[1]
            vals = sql.executionMetrics(ex.executionId())
            graph = sql.planGraph(ex.executionId())
            nodes = graph.allNodes()
            seen: set[int] = set()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue
                    seen.add(acc)
                    key = SQL_METRICS.get(m.name())
                    if key is None and node.name().startswith("Scan") and m.name() == "number of output rows":
                        key = "rows_scanned"
                    if key is None:
                        continue
                    v = vals.get(acc)
                    if v.isDefined():
                        sp.counters[key] = sp.counters.get(key, 0) + parse_metric(v.get())

    # -- reductions ---------------------------------------------------------

    def self_s(self) -> dict[str, float]:
        """Per span id: its duration minus the part covered by its child
        spans."""
        covered: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent:
                covered[sp.parent] += sp.duration
        return {sp.id: sp.duration - covered[sp.id] for sp in self.spans}

    def self_time(self) -> dict[str, float]:
        """Self time per layer: per span name, the summed self time of its
        spans."""
        own = self.self_s()
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += own[sp.id]
        return dict(sorted(out.items()))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def timed(self, name: str) -> list[Span]:
        """Spans of ``name`` inside a timed operation (an ``op`` span)."""
        by_id = {s.id: s for s in self.spans}

        def in_op(s: Span) -> bool:
            while s.parent:
                s = by_id[s.parent]
                if s.name == "op":
                    return True
            return False

        return [s for s in self.named(name) if in_op(s)]

    def subtree(self, sp: Span) -> list[Span]:
        kids = [s for s in self.spans if s.parent == sp.id]
        out = [sp]
        for k in kids:
            out += self.subtree(k)
        return out

    def counter(self, spans, key: str) -> float:
        """Sum a counter over spans and all their descendants."""
        total = 0.0
        for sp in spans:
            for s in self.subtree(sp):
                total += s.counters.get(key, 0)
        return total

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        own = self.self_s()
        with path.open("w") as f:
            for sp in self.spans:
                d = asdict(sp)
                d["self_s"] = own[sp.id]
                f.write(json.dumps(d) + "\n")
