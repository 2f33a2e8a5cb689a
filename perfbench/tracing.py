"""Tracing for the benchmark's traced runs, entirely from outside the
program under test.

* ``Tracer.span`` records (name, start, end, parent, operation id) around the
  benchmark's calls into public functions. Spans stay in memory and are
  written once, at the end of the run.
* ``SparkReader`` reads, after each operation, what Spark itself recorded
  about the SQL executions the operation started: per-operator SQL metrics
  from the session's SQL status store (it is kept with
  ``spark.ui.enabled=false``), exact stage totals from the core status store,
  and JVM-wide GC time from the JVM's GC beans.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """``probe`` (optional) is called at every span start and its value kept
    as the span's ``mark``; the benchmark passes ``SparkReader.mark`` so a
    span knows which SQL executions began inside it."""

    def __init__(self, probe=None) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._probe = probe
        self.op = -1

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "mark": self._probe() if self._probe else None,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call; used to time a public method
        the benchmark does not call itself (``annotate`` inside ``run``)."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric as a number in bytes, seconds or a count.

    Size and timing metrics read ``total (min, med, max ...)\\n<total> (...)``;
    sums read ``1,234``. Sizes and times keep Spark's formatting precision
    (three significant digits)."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Execution:
    """One SQL execution: its description, wall duration, per-node metrics
    as ``(node name, node description, {metric name: value})`` and exact
    stage totals."""

    id: int
    description: str
    seconds: float
    nodes: list[tuple[str, str, dict[str, float]]] = field(default_factory=list)
    stages: dict[str, int] = field(default_factory=dict)

    def metric(self, metric: str, node_prefix: str = "") -> float:
        return sum(
            m.get(metric, 0.0) for name, _desc, m in self.nodes if name.startswith(node_prefix)
        )


_STAGE_FIELDS = ("outputBytes", "shuffleWriteBytes", "memoryBytesSpilled")


class SparkReader:
    def __init__(self, spark) -> None:
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def mark(self) -> int:
        self._bus.waitUntilEmpty()
        return int(self._sql.executionsCount())

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def _completed(self, mark: int):
        """The executions since ``mark``, once every one of them is stored as
        complete. The status stores are filled by the asynchronous listener
        bus, and an execution is stored complete only after its end event and
        all its jobs' end events, which can trail the action's return."""
        deadline = time.monotonic() + 10.0
        while True:
            self._bus.waitUntilEmpty()
            count = int(self._sql.executionsCount())
            execs = list(_items(self._sql.executionsList(mark, count - mark)))
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                return execs
            time.sleep(0.02)

    def executions_since(self, mark: int) -> list[Execution]:
        out = []
        for e in self._completed(mark):
            done = e.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else e.submissionTime()
            ex = Execution(int(e.executionId()), e.description(), (end_ms - e.submissionTime()) / 1000.0)
            values = {int(t._1()): t._2() for t in _items(self._sql.executionMetrics(ex.id))}
            for node in _items(self._sql.planGraph(ex.id).allNodes()):
                metrics = {}
                for m in _items(node.metrics()):
                    text = values.get(int(m.accumulatorId()))
                    if text is not None and m.metricType() != "average":
                        metrics[m.name()] = parse_metric(text)
                ex.nodes.append((node.name(), node.desc(), metrics))
            ex.stages = dict.fromkeys(_STAGE_FIELDS, 0)
            for job in _items(e.jobs().keys()):
                for stage_id in _items(self._core.job(job).stageIds()):
                    stage = self._core.lastStageAttempt(stage_id)
                    if stage.status().toString() != "COMPLETE":
                        continue
                    for f in _STAGE_FIELDS:
                        ex.stages[f] += int(getattr(stage, f)())
            out.append(ex)
        return out
