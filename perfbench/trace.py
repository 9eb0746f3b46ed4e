"""Outside-in tracer: per-layer numbers without touching the package.

The tracer never edits package code.  It wraps module attributes the
package looks up at call time (``sources.debezium.decode_envelope`` and
``streaming.cdc.with_change_columns`` / ``compact`` / ``apply_changes``),
wraps the sink a pipeline is given, and reads what Spark already records:

- py4j round trips of the traced thread, by wrapping
  ``py4j.clientserver.ClientServerConnection.send_command``;
- jobs, as the delta of the scheduler's newest job id, and their
  stages from ``statusTracker``;
- shuffle bytes written by the stages of those jobs (``AppStatusStore``);
- ``QueryPlanningTracker`` phases and ``from_json`` / ``Exchange`` counts
  from plan strings.

Spans (name, start, end, parent, workload) stay in memory and are written
out as JSON by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import deque
from contextlib import contextmanager

import py4j.clientserver

from mysql_postgres_debezium_cdc_spark.sources import debezium
from mysql_postgres_debezium_cdc_spark.streaming import cdc


class Py4jCounter:
    """Counts py4j round trips while installed, per thread: a span counts
    the calls of the thread it runs in, not those of another thread that
    polls the stream meanwhile."""

    def __init__(self) -> None:
        self._local = threading.local()
        self._orig = None

    @property
    def calls(self) -> int:
        return getattr(self._local, "calls", 0)

    @contextmanager
    def paused(self):
        """Leave out the calls the current thread makes inside (the
        tracer's own bookkeeping)."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    def install(self) -> None:
        cls = py4j.clientserver.ClientServerConnection
        self._orig = orig = cls.send_command

        def send_command(conn, command):
            if not getattr(self._local, "paused", False):
                self._local.calls = self.calls + 1
            return orig(conn, command)

        cls.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


def last_job_id(spark) -> int:
    """Id of the newest job the scheduler has started, in any job group.
    (``statusTracker().getJobIdsForGroup`` sees one group only, and a
    streaming query runs its jobs under its own group.)"""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - 1


def shuffle_write_bytes(spark, job_ids) -> int:
    """Bytes written to shuffle by every stage of ``job_ids``."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                total += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Exception:  # a skipped stage has no attempt in the store
                continue
    return total


def from_json_sites(df) -> int:
    """``from_json`` call sites in the optimized plan of ``df``."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("from_json(")


def exchanges(df) -> int:
    """Exchange operators in the physical plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def planning_phases_ms(df) -> dict[str, int]:
    """``QueryPlanningTracker`` phase durations of ``df``'s own query
    execution (forcing its physical plan first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {p: phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning") if phases.contains(p)}


class Tracer:
    """Span recorder plus the layer wrappers.  ``install`` patches the
    package's module attributes; ``uninstall`` restores them."""

    _PATCHES = (
        (debezium, "decode_envelope", "debezium.decode_envelope"),
        (cdc, "with_change_columns", "cdc.with_change_columns"),
        (cdc, "compact", "cdc.compact"),
        (cdc, "apply_changes", "cdc.apply_changes"),
    )

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.py4j = Py4jCounter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        # layer -> the last frames it returned (bounded: each holds JVM objects)
        self.built: dict[str, deque] = {}

    @contextmanager
    def span(self, name: str):
        with self.py4j.paused():
            job0 = last_job_id(self.spark)
        rec = {
            "name": name,
            "workload": self.workload,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "py4j0": self.py4j.calls,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j.calls - rec.pop("py4j0")
            with self.py4j.paused():
                rec["jobs"] = list(range(job0 + 1, last_job_id(self.spark) + 1))

    def _wrap(self, label: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(label):
                out = fn(*args, **kwargs)
            self.built.setdefault(label, deque(maxlen=8)).append(out)
            return out

        return wrapped

    def install(self) -> None:
        self.py4j.install()
        for mod, attr, label in self._PATCHES:
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(label, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        self.py4j.uninstall()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class TracedSink:
    """Delegating state sink.  It stamps the end of every ``merge`` (the
    commit time stream latency is measured to) and, with a tracer, records
    ``merge`` and ``read`` of the sink it wraps as spans; everything else
    passes through."""

    def __init__(self, inner, tracer: Tracer | None = None) -> None:
        self.inner = inner
        self.tracer = tracer
        self.merge_ends: list[float] = []

    def merge(self, compacted) -> None:
        if self.tracer is None:
            self.inner.merge(compacted)
        else:
            with self.tracer.span("cdc.sink.merge"):
                self.inner.merge(compacted)
        self.merge_ends.append(time.perf_counter())

    def read(self, *args, **kwargs):
        if self.tracer is None:
            return self.inner.read(*args, **kwargs)
        with self.tracer.span("cdc.sink.read"):
            return self.inner.read(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self.inner, name)
