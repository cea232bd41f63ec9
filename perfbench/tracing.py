"""Outside-in tracing for the benchmark's traced run.

Nothing here changes engine code. The tracer

* wraps the engine's public layer functions (``catalog.load_table``,
  ``session.session_persisted``, ``session.call_persisted``,
  ``Pipeline.run`` and ``Pipeline.run_stream``) and PySpark's
  ``DataStreamWriter.start`` / ``StreamingQuery.processAllAvailable``.
  Operator modules bind the engine functions with ``from ... import``, so
  every binding under ``data_ingestion_service_spark`` is replaced, not
  only the defining module's;
* finds each call's Spark jobs through the job group named after the
  call id (``run.py`` sets it for every call);
* registers a ``StreamingQueryListener`` that keeps every micro-batch
  progress record (``durationMs``, ``stateOperators``);
* after the run, reads each job's stages from Spark's status store
  (``statusStore().lastStageAttempt``), which works with the UI off.

Spans (call, build, collect, wrapped layer calls and Spark jobs) share the
call id, are kept in memory and written out by :meth:`Tracer.write`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql.streaming.readwriter import DataStreamWriter

from data_ingestion_service_spark import catalog, session
from data_ingestion_service_spark.pipeline import Pipeline
from data_ingestion_service_spark.streaming.stream_queries import stream_session

PACKAGE = "data_ingestion_service_spark"

# name -> unit; the traced run prints exactly these.
PER_LAYER = {
    "catalog.load_calls": "count/call",
    "catalog.plan_hit_ratio": "ratio",
    "catalog.load_s": "s/call",
    "operators.build_s": "s/call",
    "operators.build_jobs": "count/call",
    "operators.collect_s": "s/call",
    "spark.jobs_per_call": "count/call",
    "spark.tasks_per_call": "count/call",
    "spark.executor_run_s": "s/call",
    "spark.executor_cpu_s": "s/call",
    "spark.busy_share": "ratio",
    "spark.shuffle_bytes": "bytes/call",
    "spark.spill_bytes": "bytes/call",
    "streaming.setup_s": "s/call",
    "streaming.drain_s": "s/call",
    "streaming.batches_per_call": "count/call",
    "streaming.add_batch_ms": "ms/batch",
    "streaming.planning_ms": "ms/batch",
    "streaming.wal_commit_ms": "ms/batch",
    "streaming.commit_offsets_ms": "ms/batch",
    "streaming.state_commit_ms": "ms/batch",
    "session.store_calls": "count/call",
    "session.store_builds": "count/call",
    "session.store_hit_ratio": "ratio",
    "session.store_build_s": "s/call",
    "session.call_persists": "count/call",
    "pipeline.run_s": "s",
    "pipeline.run_stream_s": "s",
    "session.persisted_rdds_end": "count",
    "streaming.sink_views_end": "count",
    "streaming.sink_dirs_end": "count",
}


@dataclass
class CallStats:
    """Counters and windows of one benchmark call."""

    call_id: str
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    build: tuple[float, float] = (0.0, 0.0)
    counts: dict = field(default_factory=dict)
    times: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    def add(self, name: str, n: int = 1, seconds: float = 0.0) -> None:
        self.counts[name] = self.counts.get(name, 0) + n
        self.times[name] = self.times.get(name, 0.0) + seconds


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list, lock: threading.Lock):
        self._sink = sink
        self._lock = lock

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(op.commitTimeMs for op in p.stateOperators),
        }
        with self._lock:
            self._sink.append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans and layer counters for one benchmark process."""

    def __init__(self, spark, cores: int, attribute_by_window: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        # One client and micro-batch jobs outside the caller's job group:
        # every job that ran inside a call's window belongs to it.
        self.attribute_by_window = attribute_by_window
        self.calls: dict[str, CallStats] = {}
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.pipeline_runs: dict[str, list[float]] = {"run": [], "run_stream": []}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self._listened: list = []
        self._query_call: dict[str, str] = {}
        self._seen_tables: dict[tuple, object] = {}
        self._listener = _ProgressListener(self.progress, self._lock)
        self._span_ids = itertools.count()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> CallStats | None:
        return getattr(self._local, "call", None)

    @contextlib.contextmanager
    def span(self, name: str, span_id: str | None = None, **attrs):
        call = self.current()
        stack = self._stack()
        span = {
            "call": call.call_id if call else None,
            "name": name,
            "id": span_id or f"{call.call_id if call else '-'}/{next(self._span_ids)}",
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            **attrs,
        }
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)

    @contextlib.contextmanager
    def call(self, call_id: str, key: str):
        stats = CallStats(call_id, start=time.time())
        with self._lock:
            self.calls[call_id] = stats
        self._local.call = stats
        try:
            with self.span("call", span_id=call_id, key=key):
                yield stats
        finally:
            stats.end = time.time()
            self._local.call = None

    @contextlib.contextmanager
    def build(self):
        start = time.time()
        try:
            with self.span("build"):
                yield
        finally:
            call = self.current()
            if call is not None:
                call.build = (start, time.time())

    def collect(self):
        return self.span("collect")

    # -- wrappers ----------------------------------------------------------

    def _replace(self, owner, name: str, wrapper) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, wrapper)

    def _rebind(self, original, wrapper) -> None:
        """Replace ``original`` wherever a package module binds it."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._replace(mod, attr, wrapper)

    def install(self) -> None:
        tracer = self
        load_table = catalog.load_table
        session_persisted = session.session_persisted
        call_persisted = session.call_persisted

        @functools.wraps(load_table)
        def traced_load_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            with tracer.span("catalog.load_table", table=name):
                df = load_table(spark, sf_dir, name)
            seconds = time.perf_counter() - t0
            slot = (sf_dir.rstrip("/"), name)
            with tracer._lock:
                hit = tracer._seen_tables.get(slot) is df
                tracer._seen_tables[slot] = df
            call = tracer.current()
            if call is not None:
                call.add("catalog.load", 1, seconds)
                call.add("catalog.hit", int(hit))
            return df

        @functools.wraps(session_persisted)
        def traced_session_persisted(spark, key, build):
            built = []

            def timed_build():
                # Builds nest (a store built from another store); only the
                # outermost build's time counts, so none is counted twice.
                depth = getattr(tracer._local, "build_depth", 0)
                tracer._local.build_depth = depth + 1
                t0 = time.perf_counter()
                try:
                    with tracer.span("session.store_build", store=str(key)):
                        df = build()
                finally:
                    tracer._local.build_depth = depth
                built.append(0.0 if depth else time.perf_counter() - t0)
                return df

            with tracer.span("session.store", store=str(key)):
                df = session_persisted(spark, key, timed_build)
            call = tracer.current()
            if call is not None:
                call.add("session.store")
                call.add("session.store_build", len(built), sum(built))
            return df

        @functools.wraps(call_persisted)
        def traced_call_persisted(df):
            call = tracer.current()
            if call is not None:
                call.add("session.call_persist")
            return call_persisted(df)

        self._rebind(load_table, traced_load_table)
        self._rebind(session_persisted, traced_session_persisted)
        self._rebind(call_persisted, traced_call_persisted)

        for method in ("run", "run_stream"):
            self._replace(Pipeline, method, self._timed_method(Pipeline, method))

        writer_start = DataStreamWriter.start

        @functools.wraps(writer_start)
        def traced_start(writer, *args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span("streaming.start"):
                query = writer_start(writer, *args, **kwargs)
            call = tracer.current()
            if call is not None:
                call.add("streaming.setup", 1, time.perf_counter() - t0)
                with tracer._lock:
                    tracer._query_call[str(query.id)] = call.call_id
            return query

        drain = StreamingQuery.processAllAvailable

        @functools.wraps(drain)
        def traced_drain(query, *args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span("streaming.drain"):
                result = drain(query, *args, **kwargs)
            call = tracer.current()
            if call is not None:
                call.add("streaming.drain", 1, time.perf_counter() - t0)
            return result

        self._replace(DataStreamWriter, "start", traced_start)
        self._replace(StreamingQuery, "processAllAvailable", traced_drain)

        for s in (self.spark, stream_session(self.spark)):
            s.streams.addListener(self._listener)
            self._listened.append(s)

    def _timed_method(self, cls, name: str):
        original = getattr(cls, name)
        tracer = self

        @functools.wraps(original)
        def timed(obj, *args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span(f"pipeline.{name}"):
                result = original(obj, *args, **kwargs)
            with tracer._lock:
                tracer.pipeline_runs[name].append(time.perf_counter() - t0)
            return result

        return timed

    def uninstall(self) -> None:
        while self._restore:
            owner, name, original = self._restore.pop()
            setattr(owner, name, original)
        for s in self._listened:
            s.streams.removeListener(self._listener)
        self._listened.clear()

    # -- Spark status store --------------------------------------------------

    def settle(self) -> None:
        """Wait until every posted listener event (job, stage, stream
        progress) has been processed."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_records(self) -> dict[int, dict]:
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, comp = j.submissionTime(), j.completionTime()
            group = j.jobGroup()
            stage_ids = j.stageIds()
            out[j.jobId()] = {
                "job_id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "stages": [stage_ids.apply(k) for k in range(stage_ids.size())],
            }
        return out

    def _stage_record(self, store, stage_id: int) -> dict | None:
        try:
            s = store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - stage evicted or never submitted
            return None
        if s.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1000,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }

    def attribute_jobs(self) -> None:
        """Give each call its Spark jobs with their stage metrics."""
        self.settle()
        jobs = self._job_records()
        by_call: dict[str, list[dict]] = {c: [] for c in self.calls}
        if self.attribute_by_window:
            windows = sorted((c.start, c.end, c.call_id) for c in self.calls.values())
            for job in jobs.values():
                if job["start"] is None:
                    continue
                for start, end, call_id in windows:
                    if start <= job["start"] <= end:
                        by_call[call_id].append(job)
                        break
        else:
            for job in jobs.values():
                if job["group"] in by_call:
                    by_call[job["group"]].append(job)
        store = self.sc._jsc.sc().statusStore()
        stage_cache: dict[int, dict | None] = {}
        for call_id, call_jobs in by_call.items():
            call = self.calls[call_id]
            seen: set[int] = set()
            for job in sorted(call_jobs, key=lambda j: j["job_id"]):
                metrics = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
                for sid in job["stages"]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    if sid not in stage_cache:
                        stage_cache[sid] = self._stage_record(store, sid)
                    rec = stage_cache[sid]
                    if rec:
                        for k in metrics:
                            metrics[k] += rec[k]
                b0, b1 = call.build
                job = {**job, **metrics, "in_build": b0 <= (job["start"] or 0) <= b1}
                call.jobs.append(job)
                self.spans.append(
                    {
                        "call": call_id,
                        "name": "spark.job",
                        "id": f"{call_id}/job/{job['job_id']}",
                        "parent": call_id,
                        "start": job["start"],
                        "end": job["end"],
                        **{k: job[k] for k in ("job_id", "tasks", "run_s", "cpu_s", "shuffle_bytes", "spill_bytes")},
                    }
                )

    # -- per-layer metrics -----------------------------------------------

    def metrics(self, walls: dict[str, float], end_state: dict) -> dict[str, float]:
        """Per-layer metrics over the calls whose wall times are in
        ``walls`` (call id -> seconds)."""
        self.attribute_jobs()
        calls = [self.calls[c] for c in walls if c in self.calls]
        n = max(len(calls), 1)

        def total(name: str, counts: bool = True) -> float:
            src = (lambda c: c.counts) if counts else (lambda c: c.times)
            return sum(src(c).get(name, 0) for c in calls)

        def ratio(num: float, den: float) -> float:
            return num / den if den else 0.0

        jobs = [j for c in calls for j in c.jobs]
        wall_core_s = sum(walls[c.call_id] for c in calls) * self.cores
        call_ids = {c.call_id for c in calls}
        with self._lock:
            batches = [
                p for p in self.progress if self._query_call.get(p["query_id"]) in call_ids
            ]
        stream_calls = max(sum(1 for c in calls if c.counts.get("streaming.setup")), 1)

        def batch_mean(name: str) -> float:
            return statistics.fmean([b["duration_ms"].get(name, 0) for b in batches]) if batches else 0.0

        loads = total("catalog.load")
        stores = total("session.store")
        builds = total("session.store_build")
        out = {
            "catalog.load_calls": loads / n,
            "catalog.plan_hit_ratio": ratio(total("catalog.hit"), loads),
            "catalog.load_s": total("catalog.load", counts=False) / n,
            "operators.build_s": sum(c.build[1] - c.build[0] for c in calls) / n,
            "operators.build_jobs": sum(j["in_build"] for j in jobs) / n,
            "operators.collect_s": sum(
                walls[c.call_id] - (c.build[1] - c.build[0]) for c in calls
            ) / n,
            "spark.jobs_per_call": len(jobs) / n,
            "spark.tasks_per_call": sum(j["tasks"] for j in jobs) / n,
            "spark.executor_run_s": sum(j["run_s"] for j in jobs) / n,
            "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs) / n,
            "spark.busy_share": ratio(sum(j["run_s"] for j in jobs), wall_core_s),
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs) / n,
            "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs) / n,
            "streaming.setup_s": total("streaming.setup", counts=False) / stream_calls,
            "streaming.drain_s": total("streaming.drain", counts=False) / stream_calls,
            "streaming.batches_per_call": len(batches) / stream_calls,
            "streaming.add_batch_ms": batch_mean("addBatch"),
            "streaming.planning_ms": batch_mean("queryPlanning"),
            "streaming.wal_commit_ms": batch_mean("walCommit"),
            "streaming.commit_offsets_ms": batch_mean("commitOffsets"),
            "streaming.state_commit_ms": (
                statistics.fmean(b["state_commit_ms"] for b in batches) if batches else 0.0
            ),
            "session.store_calls": stores / n,
            "session.store_builds": builds / n,
            "session.store_hit_ratio": ratio(stores - builds, stores),
            "session.store_build_s": total("session.store_build", counts=False) / n,
            "session.call_persists": total("session.call_persist") / n,
            "pipeline.run_s": _mean(self.pipeline_runs["run"]),
            "pipeline.run_stream_s": _mean(self.pipeline_runs["run_stream"]),
            "session.persisted_rdds_end": end_state["persisted_rdds_end"],
            "streaming.sink_views_end": end_state["sink_views_end"],
            "streaming.sink_dirs_end": end_state["sink_dirs_end"],
        }
        return out

    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for span in sorted(self.spans, key=lambda s: (s["start"] or 0)):
                f.write(json.dumps(span, default=str) + "\n")


def _mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0
