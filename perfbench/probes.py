"""Per-layer probes for the traced run.

Everything here measures the engine from outside, around calls into it:

- spans: name, start, end, parent, op and pass, kept in memory and
  written out when the run ends;
- Spark work is attributed to a window of the run by the range of job
  and stage ids the DAG scheduler handed out while the window was open,
  so a job started from a helper thread (workload._overlap's pool) counts
  against the op that caused it whatever its job group;
- stage metrics come from the application status store and the Python
  node metrics from the SQL status store; both are filled with the UI off.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Stage metrics summed per window: status-store getter -> metric suffix
# (the suffix gives the unit: _s from ms, _mb from bytes, else a count).
STAGE_FIELDS = {
    "executorRunTime": "task_s",
    "jvmGcTime": "gc_s",
    "inputBytes": "input_mb",
    "inputRecords": "input_records",
    "shuffleWriteBytes": "shuffle_write_mb",
    "shuffleReadBytes": "shuffle_read_mb",
    "diskBytesSpilled": "spill_mb",
}
# Python/Arrow node metrics (SQL status store names, Spark 4.1). With
# worker reuse Spark's "initialize" time runs from the worker's start, so
# it includes the time a reused worker sat idle between tasks.
KERNEL_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "worker_start_s",
    "time to initialize Python workers": "worker_init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}
_STAGE_SCALE = {"s": 1e3, "mb": 2**20}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VALUE = re.compile(r"(-?[\d.]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric ('1.2 s', 'total (min, med, max ...)\\n3.4
    MiB (...)') as seconds or MiB: the total, i.e. the first value after
    the header line."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    sql: int


class SparkClock:
    """Job/stage/SQL-execution id watermarks and the status-store reads
    that turn a pair of marks into the window's work."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spent = 0.0  # seconds spent in mark() inside timed windows

    def mark(self) -> Mark:
        t = time.perf_counter()
        m = Mark(self._dag.nextJobId(), self._dag.nextStageId(),
                 self._sql.executionsCount())
        self.spent += time.perf_counter() - t
        return m

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def exec_work(self, a: Mark, b: Mark) -> dict[str, float]:
        out = {"jobs": float(b.job - a.job), "stages": 0.0, "tasks": 0.0}
        out.update({k: 0.0 for k in STAGE_FIELDS.values()})
        for sid in range(a.stage, b.stage):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # id taken by a stage that never ran
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for getter, key in STAGE_FIELDS.items():
                v = float(getattr(st, getter)())
                out[key] += v / _STAGE_SCALE.get(key.rsplit("_", 1)[1], 1.0)
        return out

    def kernel_work(self, a: Mark, b: Mark) -> dict[str, float]:
        out = {k: 0.0 for k in KERNEL_METRICS.values()}
        if b.sql <= a.sql:
            return out
        it = self._sql.executionsList(a.sql, b.sql - a.sql).iterator()
        while it.hasNext():
            ex = it.next()
            values = self._sql.executionMetrics(ex.executionId())
            seen = set()
            mi = ex.metrics().iterator()
            while mi.hasNext():
                pm = mi.next()
                key = KERNEL_METRICS.get(pm.name())
                if key is None or pm.accumulatorId() in seen:
                    continue
                seen.add(pm.accumulatorId())
                v = values.get(pm.accumulatorId())
                out[key] += parse_metric(v.get() if v.isDefined() else None)
        return out


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    pass_no: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans of the traced passes. `active` is False during untraced passes;
    the wrappers then call straight through."""

    def __init__(self, clock: SparkClock | None = None):
        self.clock = clock
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        self.op = ""
        self.pass_no = -1
        self.root: int | None = None
        self.build_span: int | None = None

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        """Record a span while tracing; outside traced passes the body runs
        with an unrecorded span."""
        sp = Span(next(self._ids), name, parent, self.op, self.pass_no, self.now(),
                  attrs=dict(attrs))
        try:
            yield sp
        finally:
            if self.active:
                sp.end = self.now()
                with self._lock:
                    self.spans.append(sp)

    def add_span(self, name: str, parent: int, start: float, end: float, **attrs):
        """A span whose interval was measured elsewhere (e.g. Catalyst's
        own phase timer), placed at the start of its parent."""
        with self._lock:
            self.spans.append(Span(next(self._ids), name, parent, self.op,
                                   self.pass_no, start, end, dict(attrs)))

    def wrap_table(self, table):
        """data.table as workload binds it: each call is a span under the
        current build span, with the jobs it submitted."""

        def traced_table(spark, sf_dir, name):
            if not self.active:
                return table(spark, sf_dir, name)
            a = self.clock.mark()
            with self.span("data.table", self.build_span, table=name) as sp:
                df = table(spark, sf_dir, name)
            sp.attrs["jobs"] = self.clock.mark().job - a.job
            return df

        return traced_table

    def wrap_checkpoint(self, method, kind: str):
        def traced(df, *args, **kwargs):
            if not self.active:
                return method(df, *args, **kwargs)
            with self.span("workload.checkpoint", self.build_span, kind=kind):
                return method(df, *args, **kwargs)

        return traced

    def records(self) -> list[dict]:
        """Spans as dicts, each with its self time: duration minus the part
        of its interval that its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
            covered, reach = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.append({
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "pass": s.pass_no, "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(s.end - s.start - covered, 6), **s.attrs,
            })
        return out
