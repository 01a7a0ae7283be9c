"""Spans, Spark job counting, Catalyst phase times and stage metrics
for the traced run.

Spans are recorded only around calls the benchmark itself makes into
the package; nothing inside the program is instrumented.  A span holds
its name, start, end, parent and the operation id shared by one query
or store operation.  Spans stay in memory until the run ends.

Jobs are counted with a job-id watermark: the rise, across a call, of
the DAG scheduler's next job id.  Job groups would miss the jobs a
streaming query launches from its own thread, and the status store is
fed through the asynchronous listener bus, so its highest job id can
lag a call that has already returned.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# Every timed pass runs under this root span.
ROOT_SPAN = "bench.pass"
# Catalyst phases summed by PlanPhases.
PLAN_PHASES = ("analysis", "optimization", "planning")


def job_watermark(spark) -> int:
    """Id the next submitted Spark job will get."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    jobs: int


class Tracer:
    """Records spans when enabled; a no-op otherwise, so
    the untraced run pays only a context-manager call per boundary."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def op(self, op_id: str):
        """Tag every span opened inside with ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        j0 = job_watermark(self.spark)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op, 0))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.end = time.perf_counter()
            s.jobs = job_watermark(self.spark) - j0

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a ``name`` span."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -------------------------------------------------------- reduction

    def totals(self, root: str) -> dict[str, dict[str, float]]:
        """Per span name under the ``root`` spans: total seconds, self
        seconds (duration minus the part covered by child spans) and
        jobs launched (not counting jobs of child spans)."""
        child_time = defaultdict(float)
        child_jobs = defaultdict(int)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
                child_jobs[s.parent] += s.jobs
        under_root = {}
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"s": 0.0, "self_s": 0.0, "jobs": 0, "self_jobs": 0, "n": 0}
        )
        for i, s in enumerate(self.spans):
            inside = s.name == root or (s.parent is not None and under_root.get(s.parent))
            under_root[i] = bool(inside)
            if not inside:
                continue
            t = out[s.name]
            t["s"] += s.end - s.start
            t["self_s"] += (s.end - s.start) - child_time[i]
            t["jobs"] += s.jobs
            t["self_jobs"] += s.jobs - child_jobs[i]
            t["n"] += 1
        return dict(out)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent, "op": s.op,
                                    "jobs": s.jobs}) + "\n")


class PlanPhases:
    """Catalyst time of every SQL action that runs while attached:
    analysis, optimization and planning as the QueryPlanningTracker of
    the QueryExecution that actually ran records them.  A DataFrame
    write wraps the frame's analysed plan in a command with a
    QueryExecution of its own, so the frame's own tracker would miss the
    optimization and planning on the executed path.  The JVM calls this
    object back over Py4J as an ``org.apache.spark.sql.util.
    QueryExecutionListener``, from the listener bus thread."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.spark = spark
        self.seconds = 0.0
        self.actions = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._add(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        self._add(qe)

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        ms = sum(phases.apply(k).durationMs() for k in PLAN_PHASES if phases.contains(k))
        self.seconds += ms / 1000
        self.actions += 1

    def attach(self) -> None:
        self.spark._jsparkSession.listenerManager().register(self)

    def detach(self) -> None:
        """Stop listening once every action so far has been reported."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StageMetrics:
    """Shuffle and spill bytes of completed stages, read from the Spark
    UI's REST API on the loopback interface."""

    def __init__(self, spark):
        self.spark = spark
        url = spark.sparkContext.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is off: shuffle and spill bytes need its REST API")
        port = url.rsplit(":", 1)[1]
        app = spark.sparkContext.applicationId
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{app}"
        self.seen = -1

    def _drain_listener(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget every stage completed so far."""
        self.seen = max([s["stageId"] for s in self._stages()] + [self.seen])

    def since_mark(self) -> dict[str, int]:
        """Shuffle-write and spill bytes of stages completed since mark()."""
        out = {"shuffle_bytes": 0, "spill_bytes": 0}
        for s in self._stages():
            if s["stageId"] > self.seen:
                out["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
                out["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        return out

    def _stages(self) -> list[dict]:
        self._drain_listener()
        with urllib.request.urlopen(f"{self.base}/stages?status=complete", timeout=30) as r:
            return json.load(r)
