"""Per-layer tracing for the benchmark's traced passes.

Everything is read from outside the package: spans around the calls into
the query registry and the DataFrame action, Spark's status store (after
draining the listener bus) for jobs/stages/tasks, job groups to tell build
jobs from action jobs, a StreamingQueryListener for micro-batches, /proc for Python-worker CPU, and a walk of the run's TMPDIR
for files the write path leaves. The only hook is a class-level wrapper on
the DataFrame materialization methods, installed for traced passes only.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

import procfs

MB = 1024.0 * 1024.0

#: DataFrame methods that materialize (or pin) a plan.
MATERIALIZERS = ("localCheckpoint", "checkpoint", "persist", "cache")


class _StreamCounter(StreamingQueryListener):
    """Sums micro-batch progress. Stream jobs run in the stream's own
    thread, so they carry no job group of ours; progress events are the
    only per-batch record."""

    def __init__(self):
        self.batches = 0
        self.batch_s = 0.0
        self.input_rows = 0
        self.state_rows = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.batch_s += p.batchDuration / 1000.0
        self.input_rows += p.numInputRows
        self.state_rows += sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> tuple:
        return self.batches, self.batch_s, self.input_rows, self.state_rows


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    """Runs one op with every layer's reading taken around it."""

    def __init__(self, spark, tmp_dir: str):
        self.spark, self.sc = spark, spark.sparkContext
        self.tmp_dir = tmp_dir
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.streams = _StreamCounter()
        spark.streams.addListener(self.streams)
        self.spans: list[dict] = []
        self._mat = {"n": 0, "s": 0.0, "depth": 0}

    # -- Spark status store ------------------------------------------------
    def _newest_job_id(self) -> int:
        it = self._store.jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def _jobs_since(self, after: int) -> list:
        """Jobs with id > ``after`` (jobsList is newest first)."""
        out, it = [], self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= after:
                break
            out.append(j)
        return out

    def _stage_totals(self, jobs) -> dict:
        t = dict(stages=0, tasks=0, run_ms=0, cpu_ns=0, gc_ms=0,
                 sh_w=0, sh_r=0, spill=0)
        seen = set()
        for j in jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, None, False, None)
                ait = attempts.iterator()
                while ait.hasNext():
                    s = ait.next()
                    if s.status().toString() == "SKIPPED":
                        continue
                    t["stages"] += 1
                    t["tasks"] += s.numCompleteTasks()
                    t["run_ms"] += s.executorRunTime()
                    t["cpu_ns"] += s.executorCpuTime()
                    t["gc_ms"] += s.jvmGcTime()
                    t["sh_w"] += s.shuffleWriteBytes()
                    t["sh_r"] += s.shuffleReadBytes()
                    t["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return t

    # -- materialization counting -----------------------------------------
    @contextmanager
    def counting_materializations(self):
        """Wrap the DataFrame materializers for the duration of a traced
        pass; nested calls (one materializer calling another) count once."""
        from pyspark.sql.classic.dataframe import DataFrame

        saved = {m: DataFrame.__dict__[m] for m in MATERIALIZERS}
        mat = self._mat

        def wrap(fn):
            @functools.wraps(fn)
            def counted(*a, **kw):
                if mat["depth"]:
                    return fn(*a, **kw)
                mat["depth"] += 1
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    mat["s"] += time.perf_counter() - t0
                    mat["n"] += 1
                    mat["depth"] -= 1
            return counted

        for m, fn in saved.items():
            setattr(DataFrame, m, wrap(fn))
        try:
            yield
        finally:
            for m, fn in saved.items():
                setattr(DataFrame, m, fn)

    # -- one traced op ----------------------------------------------------
    def run_op(self, name: str, fn, data_dir: str, tag: str):
        """Build, plan and run ``name`` under its own job groups; returns
        (DataFrame, record). Exceptions propagate to the caller."""
        sc = self.sc
        self._bus.waitUntilEmpty()
        after = self._newest_job_id()
        files0 = _tree_files(self.tmp_dir)
        cpu0 = procfs.worker_cpu_s(os.getpid())
        st0 = self.streams.snapshot()
        mat0 = (self._mat["n"], self._mat["s"])
        build_group, act_group = f"build:{tag}:{name}", f"act:{tag}:{name}"
        t0 = time.perf_counter()
        sc.setJobGroup(build_group, name)
        df = fn(self.spark, data_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(act_group, name)
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self._bus.waitUntilEmpty()
        jobs = self._jobs_since(after)
        groups = [j.jobGroup() for j in jobs]
        build_jobs = sum(1 for g in groups if g.isDefined() and g.get() == build_group)
        act_jobs = [j for j, g in zip(jobs, groups) if g.isDefined() and g.get() == act_group]
        tot = self._stage_totals(jobs)
        act = self._stage_totals(act_jobs)
        files1 = _tree_files(self.tmp_dir)
        new = [p for p in files1 if p not in files0]
        st1 = self.streams.snapshot()
        rec = {
            "op": name,
            "build_s": t1 - t0,
            "plan_s": t2 - t1,
            "action_s": t3 - t2,
            "build_jobs": build_jobs,
            "materializations": self._mat["n"] - mat0[0],
            "materialize_s": self._mat["s"] - mat0[1],
            "jobs": len(jobs),
            "stages": tot["stages"],
            "tasks": tot["tasks"],
            "task_run_s": tot["run_ms"] / 1000.0,
            "task_cpu_s": tot["cpu_ns"] / 1e9,
            "gc_s": tot["gc_ms"] / 1000.0,
            "action_task_run_s": act["run_ms"] / 1000.0,
            "shuffle_write_mb": tot["sh_w"] / MB,
            "shuffle_read_mb": tot["sh_r"] / MB,
            "shuffle_spill_mb": tot["spill"] / MB,
            "worker_cpu_s": procfs.worker_cpu_s(os.getpid()) - cpu0,
            "stream_batches": st1[0] - st0[0],
            "stream_batch_s": st1[1] - st0[1],
            "stream_input_rows": st1[2] - st0[2],
            "stream_state_rows": st1[3] - st0[3],
            "write_files": len(new),
            "write_mb": sum(files1[p] for p in new) / MB,
        }
        self.spans.append({"name": name, "tag": tag, "start": t0, "end": t3,
                           "children": [["build", t0, t1], ["plan", t1, t2],
                                        ["action", t2, t3]]})
        return df, rec

    def close(self) -> None:
        self.spark.streams.removeListener(self.streams)


def pass_layers(recs: list[dict], cores: int) -> dict:
    """One traced pass's per-layer totals (sums over its ops)."""
    s = {k: sum(r[k] for r in recs) for k in recs[0] if k != "op"}
    wall = s["action_s"] * cores
    s["idle_frac"] = 1.0 - s["action_task_run_s"] / wall if wall else 0.0
    return s


#: Per-layer metric name -> (pass_layers key, unit).
LAYER_METRICS = {
    "query.build_s": ("build_s", "s"),
    "query.build_jobs": ("build_jobs", "count"),
    "query.materializations": ("materializations", "count"),
    "query.materialize_s": ("materialize_s", "s"),
    "spark.plan_s": ("plan_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.task_run_s": ("task_run_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.idle_frac": ("idle_frac", "ratio"),
    "shuffle.write_mb": ("shuffle_write_mb", "MB"),
    "shuffle.read_mb": ("shuffle_read_mb", "MB"),
    "shuffle.spill_mb": ("shuffle_spill_mb", "MB"),
    "python.worker_cpu_s": ("worker_cpu_s", "s"),
    "streaming.batches": ("stream_batches", "count"),
    "streaming.batch_s": ("stream_batch_s", "s"),
    "streaming.input_rows": ("stream_input_rows", "count"),
    "streaming.state_rows": ("stream_state_rows", "count"),
    "ingest.write_files": ("write_files", "count"),
    "ingest.write_mb": ("write_mb", "MB"),
}
