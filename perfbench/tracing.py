"""Tracing for the benchmark's traced run.

Everything here observes the program from outside; it changes no package
code.  Three sources:

* spans: wall-clock intervals recorded around calls into the package's
  public functions (``Tracer.span`` / ``Tracer.wrap``), each with a parent
  span and the operation it belongs to, kept in memory and written out at
  the end of the run;
* py4j: the gateway client's ``send_command`` is wrapped to count round
  trips and the time the driver waits on them;
* Spark's own trackers, read between operations: the SQL status store
  (executions), the app status store (jobs, stages and their task
  metrics), the QueryExecution phase tracker (Catalyst) and
  ``CodegenMetrics`` (whole-stage codegen compiles).
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from functools import wraps
from pathlib import Path

from py4j.protocol import MEMORY_COMMAND_NAME

PHASES = ("analysis", "optimization", "planning")


class Py4JCounter:
    """Counts gateway round trips; ``paused`` hides the tracer's own.

    Release messages for garbage-collected proxies are not counted: py4j
    sends them from a finalizer thread whenever Python's collector runs,
    so their number inside a span is not a property of the code traced.
    """

    def __init__(self, spark):
        self.calls = 0
        self.wait_s = 0.0
        self.paused = False
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(command, *args, **kwargs):
            if self.paused or command.startswith(MEMORY_COMMAND_NAME):
                return self._orig(command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return self._orig(command, *args, **kwargs)
            finally:
                self.calls += 1
                self.wait_s += time.perf_counter() - t0

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class SparkProbe:
    """Reads Spark's trackers; every read is hidden from the py4j count."""

    def __init__(self, spark, py4j: Py4JCounter | None = None):
        self.py4j = py4j
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = (
            spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        )
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()

    @contextmanager
    def _quiet(self):
        if self.py4j is None:
            yield
            return
        before, self.py4j.paused = self.py4j.paused, True
        try:
            yield
        finally:
            self.py4j.paused = before

    def sql_executions(self) -> int:
        with self._quiet():
            self._bus.waitUntilEmpty()
            return int(self._sql.executionsCount())

    def job_count(self) -> int:
        """Jobs submitted so far (job ids are dense and start at 0)."""
        with self._quiet():
            self._bus.waitUntilEmpty()
            jobs = self._app.jobsList(None)
            return int(jobs.apply(0).jobId()) + 1 if jobs.size() else 0

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, approximate total compile ms so far)."""
        with self._quiet():
            hist = self._codegen.METRIC_COMPILATION_TIME()
            count = int(hist.getCount())
            return count, count * float(hist.getSnapshot().getMean())

    def phases_ms(self, df) -> dict[str, float]:
        with self._quiet():
            tracker = df._jdf.queryExecution().tracker().phases()
            out = {}
            for name in PHASES:
                opt = tracker.get(name)
                out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
            return out

    def new_jobs(self) -> dict[str, float]:
        """Job/stage/task totals for the jobs finished since the last call."""
        agg: dict[str, float] = defaultdict(float)
        with self._quiet():
            self._bus.waitUntilEmpty()
            jobs = self._app.jobsList(None)
            stage_ids = []
            for i in range(jobs.size()):
                job = jobs.apply(i)
                jid = int(job.jobId())
                if jid in self._seen_jobs:
                    continue
                self._seen_jobs.add(jid)
                agg["jobs"] += 1
                sids = job.stageIds()
                stage_ids += [int(sids.apply(k)) for k in range(sids.size())]
            for sid in sorted(set(stage_ids) - self._seen_stages):
                self._seen_stages.add(sid)
                st = self._app.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                agg["stages"] += 1
                agg["tasks"] += int(st.numTasks())
                agg["single_task_stages"] += int(st.numTasks()) == 1
                agg["executor_run_s"] += st.executorRunTime() / 1e3
                agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
                agg["gc_s"] += st.jvmGcTime() / 1e3
                agg["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                agg["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                agg["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                    st.diskBytesSpilled()
                )
                agg["input_bytes"] += int(st.inputBytes())
        return dict(agg)


class Tracer:
    """In-memory spans plus per-span counters (py4j calls, Spark jobs)."""

    def __init__(self, spark):
        self.py4j = Py4JCounter(spark)
        self.probe = SparkProbe(spark, self.py4j)
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.pass_no: int | None = None
        self._active = True

    @property
    def active(self) -> bool:
        return self._active

    @active.setter
    def active(self, on: bool) -> None:
        """An inactive tracer records no spans and counts no py4j calls."""
        self._active = on
        self.py4j.paused = not on

    @contextmanager
    def span(self, name: str, **attrs):
        if not self._active:
            yield {}
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "parent": parent,
            "pass": self.pass_no,
            "op": self.op_id,
            "name": name,
        }
        rec.update(attrs)
        calls0 = self.py4j.calls
        jobs0 = self.probe.job_count()
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["py4j_calls"] = self.py4j.calls - calls0
            rec["jobs"] = self.probe.job_count() - jobs0
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a spanned twin; returns an undo."""
        orig = getattr(module, attr)

        @wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def total(self, name: str, pass_no: int, key: str | None = None) -> float:
        """Sum of a span name's wall seconds (or of one of its counters)
        over one pass."""
        out = 0.0
        for s in self.spans:
            if s["name"] == name and s["pass"] == pass_no:
                out += s[key] if key else s["end"] - s["start"]
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=0))

    def close(self) -> None:
        self.py4j.close()
