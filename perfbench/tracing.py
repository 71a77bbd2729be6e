"""Per-layer instrumentation installed from outside the program.

Three sources, all read after a call returns, none inside the program:

* spans: wall-clock intervals recorded around the public calls (and
  around the wrappers below), kept in memory and written at the end;
* Spark's executed-plan SQL metrics, read from the session's SQL status
  store (populated even with ``spark.ui.enabled=false``);
* job counts per operation, via a Spark job group.

Wrappers replace ``StageCheckpoint.run`` and
``operators.cc.connected_components`` for the duration of a ``with``
block and restore them on exit.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string -> number in base units (seconds,
    bytes or a plain count). Timing and size metrics read
    ``total (min, med, max ...)\\n<total> (...)``; sums read ``1,234``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class SqlMetrics:
    """Executed-plan metrics of the SQL executions that ran after a mark."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def mark(self) -> int:
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def since(self, mark: int) -> dict:
        """{(node name, metric name): value summed over executions}."""
        # the status store is fed asynchronously: let the listener bus
        # deliver the end-of-execution events first
        self._bus.waitUntilEmpty(30_000)
        out: dict = {}
        execs = self._store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.executionId() <= mark:
                break
            values = self._store.executionMetrics(ex.executionId())
            nodes = self._store.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    text = values.get(metric.accumulatorId())
                    if not text.isDefined():
                        continue
                    key = (node.name(), metric.name())
                    out[key] = out.get(key, 0.0) + parse_metric(text.get())
        return out


def pick(metrics: dict, node_prefix: str, metric: str) -> float:
    return sum(v for (n, m), v in metrics.items() if n.startswith(node_prefix) and m == metric)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every job started inside the block; yields a callable that
    returns how many jobs the group has run so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def stage_wrappers(tracer: Tracer, stats: dict):
    """Span every ``StageCheckpoint.run`` as ``lineage.<stage>`` and every
    ``connected_components`` call as ``cc``; ``stats['cc_iterations']``
    accumulates the CC iteration counts."""
    from named_architecture_entity_recognition_spark.operators import cc
    from named_architecture_entity_recognition_spark.plans.lineage import (
        StageCheckpoint,
    )

    orig_run = StageCheckpoint.run
    orig_cc = cc.connected_components

    def run(self, compute, inputs, key="doc_id"):
        with tracer.span(f"lineage.{self.stage}"):
            return orig_run(self, compute, inputs, key)

    def connected_components(edges, *args, **kwargs):
        own = kwargs.get("stats")
        kwargs["stats"] = {} if own is None else own
        with tracer.span("cc"):
            out = orig_cc(edges, *args, **kwargs)
        stats["cc_iterations"] = stats.get("cc_iterations", 0) + kwargs["stats"].get(
            "iterations", 0
        )
        return out

    StageCheckpoint.run = run
    cc.connected_components = connected_components
    try:
        yield
    finally:
        StageCheckpoint.run = orig_run
        cc.connected_components = orig_cc


def span_seconds(tracer: Tracer, name: str, within: dict | None = None) -> float:
    """Total duration of the spans called ``name`` (inside ``within``)."""
    total = 0.0
    for rec in tracer.spans:
        if rec["name"] != name or rec["end"] is None:
            continue
        if within is not None and not (
            within["start"] <= rec["start"] and rec["end"] <= within["end"]
        ):
            continue
        total += rec["end"] - rec["start"]
    return total
