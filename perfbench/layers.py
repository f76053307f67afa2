"""Per-layer recorders for the traced passes.

Every number here is read from outside the program, from public
Spark handles, around the calls the benchmark makes into it:

- jobs per phase come from job groups (``sc.statusTracker()``); the
  stages of those jobs give shuffle, spill, output, run-time and CPU
  counters (``statusStore().lastStageAttempt``);
- rows and bytes through the Python workers come from the SQL metrics
  of each executed plan, handed over by a ``QueryExecutionListener``;
- micro-batch triggers come from a ``StreamingQueryListener`` (stream
  jobs run on the stream thread under the stream's own job group, so
  job groups cannot see them);
- driver GC time comes from the JVM's GC MXBeans.

Spans (name, start, end, parent, run id) are kept in memory and
written out by ``Recorder.dump`` when the run ends. ``NullRecorder``
has the same interface and records nothing; the untimed passes use
it, so traced and untraced passes run the same code.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid

from pyspark.sql.streaming import StreamingQueryListener

PYHOP_METRICS = {
    "pythonNumRowsReceived": "pyhop.rows",
    "pythonDataSent": "pyhop.bytes_sent",
    "pythonDataReceived": "pyhop.bytes_received",
}

# Every per-layer metric, with its unit. A traced run reports all of
# them on every workload, zero where a workload does not use a layer.
PER_LAYER = {
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.output_bytes": "bytes",
    "exec.output_records": "count",
    "pyhop.rows": "count",
    "pyhop.bytes_sent": "bytes",
    "pyhop.bytes_received": "bytes",
    "compat.run_s": "s",
    "compat.map_pairs": "count",
    "compat.shuffle_records": "count",
    "sources.pulls": "count",
    "sources.pull_s": "s",
    "streaming.run_s": "s",
    "streaming.triggers": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

# counters that depend only on the inputs, so they repeat exactly from
# run to run (the Python-hop byte counts and written bytes do not: they
# vary with Arrow batching and file metadata)
EXACT = [
    "registry.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.failed_tasks", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "pyhop.rows", "compat.map_pairs", "compat.shuffle_records",
    "sources.pulls", "streaming.triggers", "streaming.input_rows", "streaming.state_rows",
]


class NullRecorder:
    """Records nothing; same interface as ``Recorder``."""

    @contextlib.contextmanager
    def span(self, name, jobs=None, metric=None):
        yield

    def add(self, metric, value):
        pass

    def force_plan(self, df):
        pass


class _ExecutionListener:
    """``QueryExecutionListener`` implemented through py4j: keeps each
    finished query execution so its plan metrics can be read after
    the pass."""

    def __init__(self):
        self.executions = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM name)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _children(plan):
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return [plan.executedPlan()]
    if kind.endswith("QueryStageExec"):
        return [plan.plan()]
    if kind.startswith("Reused"):  # its subtree is counted where it ran
        return []
    kids, subs = plan.children(), plan.subqueries()
    return [kids.apply(i) for i in range(kids.length())] + [
        subs.apply(i) for i in range(subs.length())
    ]


def _pyhop(plan, totals):
    metrics = plan.metrics()
    for key, name in PYHOP_METRICS.items():
        found = metrics.get(key)
        if found.isDefined():
            totals[name] += found.get().value()
    for child in _children(plan):
        _pyhop(child, totals)


def _quantile(values, q):
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=10, method="inclusive")[int(q * 10) - 1]


class Recorder:
    """Spans and counters of one traced pass. ``span`` times a call;
    when it names a phase in ``jobs``, the span's Spark jobs are
    tagged with a job group of their own and counted after the pass."""

    def __init__(self, spark, run_id, pass_no):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.pass_no = pass_no
        self.spans = []
        self.metrics = {name: 0 for name in PER_LAYER}
        self._groups = []  # (phase, job group)
        self._stack = []

    @contextlib.contextmanager
    def span(self, name, jobs=None, metric=None):
        """Time ``name`` and add its seconds to ``metric``. ``jobs`` is
        the phase its Spark jobs count under: "build"
        (registry.build_jobs), "exec" (exec.jobs) or "compat"
        (exec.jobs, and compat.shuffle_records)."""
        span_id = uuid.uuid4().hex[:12]
        parent = self._stack[-1] if self._stack else None
        if jobs is not None:
            group = f"{self.run_id}:{self.pass_no}:{span_id}"
            self.sc.setJobGroup(group, name)
            self._groups.append((jobs, group))
        self._stack.append(span_id)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if metric is not None:
                self.metrics[metric] += end - start
            self._stack.pop()
            if jobs is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({
                "run": self.run_id, "pass": self.pass_no, "id": span_id,
                "parent": parent, "name": name, "start": start, "end": end,
            })

    def add(self, metric, value):
        self.metrics[metric] += value

    def force_plan(self, df):
        """Run Catalyst on a returned DataFrame up to its physical
        plan, so planning is timed apart from execution."""
        df._jdf.queryExecution().executedPlan()

    # -- pass boundaries -------------------------------------------

    def start(self):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._qel = _ExecutionListener()
        self._progress = _ProgressListener()
        self.spark._jsparkSession.listenerManager().register(self._qel)
        self.spark.streams.addListener(self._progress)
        self._gc0 = self._gc_ms()

    def finish(self):
        """Wait for the listener bus to deliver every event of the
        pass, then read the counters."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self._qel)
        self.spark.streams.removeListener(self._progress)
        m = self.metrics
        m["exec.gc_s"] = (self._gc_ms() - self._gc0) / 1000.0
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for phase, group in self._groups:
            for job in tracker.getJobIdsForGroup(group):
                m["registry.build_jobs" if phase == "build" else "exec.jobs"] += 1
                for stage in tracker.getJobInfo(job).stageIds:
                    s = store.lastStageAttempt(stage)
                    if self._add_stage(s) and phase == "compat":
                        m["compat.shuffle_records"] += s.shuffleWriteRecords()
        for qe in self._qel.executions:
            totals = dict.fromkeys(PYHOP_METRICS.values(), 0)
            _pyhop(qe.executedPlan(), totals)
            for name, value in totals.items():
                m[name] += value
        self._add_streams(self._progress.progress)
        gateway = self.sc._gateway
        for qe in self._qel.executions:
            gateway.detach(qe)

    def _add_stage(self, s):
        """Add one stage's counters; False if the stage was skipped."""
        if s.status().toString() == "SKIPPED":
            return False
        m = self.metrics
        m["exec.stages"] += 1
        m["exec.tasks"] += s.numTasks()
        m["exec.failed_tasks"] += s.numFailedTasks()
        m["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
        m["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["exec.executor_run_s"] += s.executorRunTime() / 1000.0
        m["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["exec.output_bytes"] += s.outputBytes()
        m["exec.output_records"] += s.outputRecords()
        return True

    def _add_streams(self, progress):
        m = self.metrics
        last_state = {}
        trigger_ms = []
        for p in progress:
            if p.numInputRows > 0:
                m["streaming.triggers"] += 1
                m["streaming.input_rows"] += p.numInputRows
                trigger_ms.append(p.durationMs.get("triggerExecution", 0))
            d = p.durationMs
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            m["streaming.latest_offset_ms"] += d.get("latestOffset", 0)
            for op in p.stateOperators:
                m["streaming.state_commit_ms"] += op.commitTimeMs
            last_state[str(p.runId)] = sum(op.numRowsTotal for op in p.stateOperators)
        m["streaming.state_rows"] = sum(last_state.values())
        m["streaming.trigger_ms_p50"] = _quantile(trigger_ms, 0.5)
        m["streaming.trigger_ms_p90"] = _quantile(trigger_ms, 0.9)

    def _gc_ms(self):
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def dump(self, path):
        with open(path, "a") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")
