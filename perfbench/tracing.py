"""Layer tracing for the benchmark's traced runs.

Wraps the library's public entry points from the outside (no library
code is edited) and records spans in memory: name, start, end, parent,
operation id and the number of Spark jobs started inside the span.

Span names are layer names:

* ``query``           — the query callable from ``__spark_entry__``
                        (its self time is ``model.build``);
* ``sources.compile`` — ``Model.to_df``;
* ``ops.call``        — every public function in
                        ``hashquery_spark.ops.__all__``;
* ``catalyst.plan``   — forcing ``queryExecution().executedPlan()``;
* ``exec.collect``    — the Arrow ``toPandas`` path of ``RunResults.df``;
* ``exec.write``      — ``Model.write``.

A layer's time is the self time of its spans (span minus children), so
nested calls are never counted twice and the layers of one operation sum
to its wall time minus the tracer's own bookkeeping.

Per operation the tracer also reads, right after the operation ends
(stage retention is bounded), the Spark jobs of the operation's job
group from ``StatusTracker`` and their stages from the JVM
``AppStatusStore``, plus the Catalyst phase times of the final plan
from ``QueryExecution.tracker()``.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager

LAYERS = {
    "query": "model.build_s",
    "sources.compile": "sources.compile_s",
    "ops.call": "ops.call_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.collect": "exec.collect_s",
    "exec.write": "exec.write_s",
}
# Spark jobs started in a span's own code (children excluded)
JOB_LAYERS = {
    "query": "model.build_jobs",
    "sources.compile": "sources.compile_jobs",
    "ops.call": "ops.call_jobs",
}


class Tracer:
    """Wrappers stay installed for the whole run; they record only while
    ``active`` is set, so untraced passes run the plain functions."""

    def __init__(self):
        self.active = False
        self.spans: list = []
        self._stack: list = []
        self.op = None
        self.phases: dict = {}
        self._wrappers: dict = {}

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    # --- spans -----------------------------------------------------------

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    def parent_name(self):
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    @contextmanager
    def span(self, name: str):
        jobs0 = self.jobs_started()
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = self.jobs_started() - jobs0

    def force_plan(self, df) -> None:
        """Plan ``df`` under a ``catalyst.plan`` span and keep its phases."""
        with self.span("catalyst.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        phases = qe.tracker().phases()
        self.phases = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            self.phases[phase] = int(opt.get().durationMs()) if opt.isDefined() else 0

    # --- wrappers --------------------------------------------------------

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        self._wrappers[fn] = traced
        return traced

    def install(self) -> None:
        """Wrap the public entry points; call before importing
        ``__spark_entry__`` so its module-level imports bind the wrappers."""
        import hashquery_spark.ops as ops
        from hashquery_spark.model import Model

        tracer = self
        for name in ops.__all__:
            fn = getattr(ops, name)
            if inspect.isfunction(fn):
                setattr(ops, name, self._wrap(fn, "ops.call"))

        to_df = Model.to_df

        @functools.wraps(to_df)
        def traced_to_df(model):
            if not tracer.active:
                return to_df(model)
            with tracer.span("sources.compile"):
                df = to_df(model)
            if tracer.parent_name() == "exec.write":
                # Model.write plans the frame inside the writer; plan it
                # here first so the Catalyst layer is visible for writes
                tracer.force_plan(df)
            return df

        Model.to_df = traced_to_df
        Model.write = self._wrap(Model.write, "exec.write")

    def rebind(self, module) -> None:
        """Point names ``module`` imported before ``install`` at the wrappers."""
        for name, value in list(vars(module).items()):
            if inspect.isfunction(value) and value in self._wrappers:
                setattr(module, name, self._wrappers[value])

    # --- per-operation Spark readings ------------------------------------

    def exec_stats(self, group: str) -> dict:
        """Jobs/stages/tasks of one job group, summed; stage metrics come
        from the AppStatusStore (populated with the UI off)."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
             "task_run_s", "task_cpu_s", "shuffle_write_bytes",
             "spill_bytes", "spill_memory_bytes", "scan_rows", "scan_bytes"),
            0,
        )
        stage_ids = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            ids = job.stageIds()
            out["jobs"] += 1
            out["stages"] += ids.size()
            out["stages_skipped"] += job.numSkippedStages()
            out["tasks"] += job.numTasks() - job.numSkippedTasks()
            out["failed_tasks"] += job.numFailedTasks()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted
                continue
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["spill_memory_bytes"] += st.memoryBytesSpilled()
            out["scan_rows"] += st.inputRecords()
            out["scan_bytes"] += st.inputBytes()
        return out

    def layer_times(self, op_id) -> dict:
        """Self time per layer of one operation, and the Spark jobs started
        in the build, compile and op-call layers' own code."""
        spans = {pos: s for pos, s in enumerate(self.spans) if s["op"] == op_id}
        child_time = dict.fromkeys(spans, 0.0)
        child_jobs = dict.fromkeys(spans, 0)
        for s in spans.values():
            if s["parent"] in spans:
                child_time[s["parent"]] += s["end"] - s["start"]
                child_jobs[s["parent"]] += s["jobs"]
        out = dict.fromkeys(LAYERS.values(), 0.0)
        out.update(dict.fromkeys(JOB_LAYERS.values(), 0))
        for pos, s in spans.items():
            if s["name"] in LAYERS:
                out[LAYERS[s["name"]]] += s["end"] - s["start"] - child_time[pos]
            if s["name"] in JOB_LAYERS:
                out[JOB_LAYERS[s["name"]]] += s["jobs"] - child_jobs[pos]
        return out
