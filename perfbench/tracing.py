"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary:
around the calls it makes into the package (query function, final
write, the happiness leg's ETL / fit / stream steps) and around the
package's storage helpers in ``functions.cache``, whose module
attributes are wrapped for the duration of the traced passes. Nothing
in the package is edited. Spark jobs are attached to query spans
through the job group the benchmark sets per query (streaming
micro-batch jobs carry their stream's run id as job group instead,
and are attached through that run id). Streaming progress comes from
a ``StreamingQueryListener``. All spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from measure import Span, clipped, driver_gap, interval_union, self_times

CACHE_HELPERS = ("materialize_and_release", "supersede", "tracked_local_checkpoint")
PACKAGE = "workshop3_etl_spark"


class Tracer:
    """In-memory span recorder for one run; spans share ``run_id``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        # perf_counter -> epoch seconds, for lining spans up with Spark's
        # job timestamps (same host clock)
        self.epoch0 = time.time() - time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # spans opened on a callback thread (foreachBatch bodies) hang
        # under whatever the main thread has open
        parent_stack = stack or self._main_stack
        parent = parent_stack[-1].span_id if parent_stack else None
        sp = Span(next(self._ids), parent, name, time.perf_counter(), float("nan"), attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def patch_layers(self) -> None:
        """Wrap the storage helpers on ``functions.cache`` (and on every
        loaded package module that bound them at import time) and the
        warehouse upsert sinks the streaming pipeline dispatches to."""
        from workshop3_etl_spark.functions import cache
        from workshop3_etl_spark.streaming import pipeline

        for kind, sink in list(pipeline._SINKS.items()):
            self._patched.append((pipeline._SINKS, kind, sink))
            pipeline._SINKS[kind] = self.wrap(sink, "upsert.batch")

        originals = {n: getattr(cache, n) for n in CACHE_HELPERS}
        wrapped = {n: self.wrap(f, f"cache.{n}") for n, f in originals.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for n, f in originals.items():
                if getattr(mod, n, None) is f:
                    self._patched.append((mod, n, f))
                    setattr(mod, n, wrapped[n])

    def unpatch(self) -> None:
        for owner, n, f in reversed(self._patched):
            if isinstance(owner, dict):
                owner[n] = f
            else:
                setattr(owner, n, f)
        self._patched.clear()

    def epoch(self, t: float) -> float:
        return self.epoch0 + t


class ProgressListener:
    """Collects streaming progress events (as parsed JSON) and the run
    ids of started streams with their start time."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        starts = self.starts = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, e):
                starts.append((str(e.runId), time.time()))

            def onQueryProgress(self, e):
                events.append(json.loads(e.progress.json))

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        self.listener = _L()


def _opt(o):
    return o.get() if o.isDefined() else None


def collect_jobs(sc, groups: set[str]) -> list[dict]:
    """Jobs (with their stages' metrics) whose job group is in
    ``groups``, read from Spark's application status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = _opt(j.jobGroup())
        if g not in groups:
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        sids = j.stageIds()
        out.append({
            "job_id": j.jobId(),
            "group": g,
            "start": sub.getTime() / 1000.0 if sub is not None else None,
            "end": done.getTime() / 1000.0 if done is not None else None,
            "stage_ids": [sids.apply(k) for k in range(sids.size())],
            "status": j.status().toString(),
        })
    stages = {}
    for sid in sorted({s for job in out for s in job["stage_ids"]}):
        st = store.lastStageAttempt(sid)
        stages[sid] = {
            "status": st.status().toString(),
            "tasks": st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks(),
            "failed_tasks": st.numFailedTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "input_rows": st.inputRecords(),
            "input_bytes": st.inputBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
    for job in out:
        job["stages"] = {s: stages[s] for s in job["stage_ids"]}
    return out


def proc_stat(pid: str):
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15])


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of every
    Python process under the JVM: the PySpark daemon and its workers,
    where the Arrow kernels run."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                procs[int(pid)] = proc_stat(pid)
            except (OSError, ValueError, IndexError):
                continue
    ticks = 0
    for pid, (comm, ppid, cpu) in procs.items():
        if not comm.startswith("python"):
            continue
        p, seen = ppid, 0
        while p > 1 and p in procs and seen < 64:
            if p == jvm_pid:
                ticks += cpu
                break
            p, seen = procs[p][1], seen + 1
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def layer_metrics(tracer: Tracer, jobs: list[dict], progress: list[dict],
                  stream_runs: dict[str, int], cores: int) -> tuple[dict, dict]:
    """Per-layer metrics summed over the traced query spans, plus the
    per-query-span breakdown that goes into the span file."""
    spans = tracer.spans
    by_id = {s.span_id: s for s in spans}
    queries = [s for s in spans if s.name == "query"]
    selfs = self_times(spans)

    def query_of(sp: Span) -> Span | None:
        while sp is not None and sp.name != "query":
            sp = by_id.get(sp.parent)
        return sp

    m = {k: 0.0 for k in (
        "plans.build_s", "operators.write_s", "cache.steps", "cache.step_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "sources.input_rows", "sources.input_bytes",
        "arrow.python_cpu_s", "streaming.batches", "streaming.input_rows",
        "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.commit_ms",
        "streaming.planning_ms", "streaming.state_rows", "streaming.state_bytes",
        "upsert.s", "ml.fit_s", "ml.score_s")}
    for sp in spans:
        if sp.name == "plans.build":
            m["plans.build_s"] += sp.duration
        elif sp.name == "operators.write":
            m["operators.write_s"] += sp.duration
        elif sp.name.startswith("cache.") and not by_id[sp.parent].name.startswith("cache."):
            # outermost helper call only: supersede runs
            # tracked_local_checkpoint inside itself
            m["cache.steps"] += 1
            m["cache.step_s"] += sp.duration
        elif sp.name == "upsert.batch":
            m["upsert.s"] += sp.duration
        elif sp.name == "ml.fit":
            m["ml.fit_s"] += sp.duration
        elif sp.name == "ml.score":
            m["ml.score_s"] += sp.duration

    group_to_query = {f"{tracer.run_id}-{q.span_id}": q.span_id for q in queries}
    group_to_query.update(stream_runs)
    per_query: dict[int, dict] = {q.span_id: {"jobs": [], "busy": [], "run_s": 0.0}
                                  for q in queries}
    seen_stages: set[int] = set()
    for job in jobs:
        qid = group_to_query.get(job["group"])
        if qid is None:
            continue
        pq = per_query[qid]
        pq["jobs"].append(job["job_id"])
        if job["start"] is not None and job["end"] is not None:
            pq["busy"].append((job["start"], job["end"]))
        m["spark.jobs"] += 1
        for sid, st in job["stages"].items():
            if sid in seen_stages or st["status"] == "SKIPPED":
                continue
            seen_stages.add(sid)
            m["spark.stages"] += 1
            m["spark.tasks"] += st["tasks"]
            m["spark.failed_tasks"] += st["failed_tasks"]
            m["spark.executor_run_s"] += st["run_s"]
            m["spark.executor_cpu_s"] += st["cpu_s"]
            m["spark.gc_s"] += st["gc_s"]
            m["spark.shuffle_read_bytes"] += st["shuffle_read_bytes"]
            m["spark.shuffle_write_bytes"] += st["shuffle_write_bytes"]
            m["spark.spill_bytes"] += st["spill_bytes"]
            m["sources.input_rows"] += st["input_rows"]
            m["sources.input_bytes"] += st["input_bytes"]
            pq["run_s"] += st["run_s"]
    busy_total = 0.0
    for q in queries:
        pq = per_query[q.span_id]
        wall = (tracer.epoch(q.start), tracer.epoch(q.end))
        pq["busy_s"] = interval_union(clipped(pq["busy"], *wall))
        pq["driver_gap_s"] = driver_gap(wall, pq["busy"])
        busy_total += pq["busy_s"]
        m["spark.driver_gap_s"] += pq["driver_gap_s"]
        m["arrow.python_cpu_s"] += q.attrs.get("python_cpu_s", 0.0)
        del pq["busy"]
    m["spark.slot_busy_frac"] = (m["spark.executor_run_s"] / (busy_total * cores)
                                 if busy_total > 0 else 0.0)

    for ev in progress:
        if ev["runId"] not in stream_runs:
            continue
        d = ev.get("durationMs", {})
        per_query[stream_runs[ev["runId"]]].setdefault("stream_batches", []).append(
            {"batch": ev.get("batchId"), "input_rows": ev.get("numInputRows", 0),
             "trigger_ms": d.get("triggerExecution", 0)})
        m["streaming.batches"] += 1
        m["streaming.input_rows"] += ev.get("numInputRows", 0)
        m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        m["streaming.add_batch_ms"] += d.get("addBatch", 0)
        m["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        m["streaming.planning_ms"] += d.get("queryPlanning", 0)
        for op in ev.get("stateOperators", []):
            m["streaming.state_rows"] += op.get("numRowsTotal", 0)
            m["streaming.state_bytes"] += op.get("memoryUsedBytes", 0)

    detail = {q.span_id: {**per_query[q.span_id], "self_s": selfs[q.span_id]} for q in queries}
    for sp in spans:
        q = query_of(sp)
        if q is not None and sp is not q:
            detail[q.span_id].setdefault("children_self_s", {}).setdefault(sp.name, 0.0)
            detail[q.span_id]["children_self_s"][sp.name] += selfs[sp.span_id]
    return m, detail


def attach_streams(tracer: Tracer, starts: list[tuple[str, float]]) -> dict[str, int]:
    """Map each stream run id to the query span open when it started."""
    out = {}
    queries = [s for s in tracer.spans if s.name == "query"]
    for run_id, t in starts:
        for q in queries:
            if tracer.epoch(q.start) <= t <= tracer.epoch(q.end):
                out[run_id] = q.span_id
                break
    return out


def write_spans(path: str, tracer: Tracer, detail: dict, extra: dict) -> None:
    selfs = self_times(tracer.spans)
    doc = {
        "run_id": tracer.run_id,
        **extra,
        "spans": [
            {
                "id": s.span_id,
                "parent": s.parent,
                "name": s.name,
                "start": tracer.epoch(s.start),
                "end": tracer.epoch(s.end),
                "self_s": selfs[s.span_id],
                "attrs": s.attrs,
                **({"spark": detail[s.span_id]} if s.span_id in detail else {}),
            }
            for s in sorted(tracer.spans, key=lambda s: s.span_id)
        ],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, default=str)
