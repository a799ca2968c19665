"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent and run id, plus what Spark did
while it was open:

* jobs are attributed by job-id range (the DAG scheduler's job count at
  open and at close, ``numTotalJobs``), not by job group: the diff runner
  submits from plain ThreadPoolExecutor threads, which do not inherit a
  group;
* job and stage figures come from the JVM status store over py4j
  (``statusStore().job(id)`` and ``lastStageAttempt(id)``). A thread
  copies them out as stages and jobs finish, because the store keeps only the last
  ``spark.ui.retainedJobs/Stages`` (200 each), fewer than one diff batch
  creates. A job or stage trimmed before it was copied is counted in the
  span's ``lost``, and the span's job and stage figures are then reported
  as lost (None), never as zero;
* Python UDF time comes from the built-in ``perf`` UDF profiler, switched
  on through ``spark.conf`` only while tracing, and read as the summed
  ``total_tt`` of the session's per-UDF results (the collector behind
  ``spark.profile``); when that collector is not there, ``udf_s`` is
  reported as lost.

Spans stay in memory; `dump` writes them as JSON once the run is over.
A disabled tracer's `span` does nothing, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MEASURES = (
    "wall_s", "driver_s", "jobs", "tasks", "failed_tasks",
    "task_s", "shuffle_mb", "spill_mb", "udf_s",
)
LOSABLE = ("driver_s", "tasks", "failed_tasks", "task_s", "shuffle_mb", "spill_mb")
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"
MISSING, SKIPPED = "missing", "skipped"
POLL_S = 0.2  # the store trims after 200 stages; a diff batch runs ~25 a second
_MB = 1024.0 * 1024.0


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


class Tracer:
    """Span recorder for one benchmark run (one process)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # time the tracer spent at span edges
        self._stack: list[dict] = []
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()
        # figures copied out of the status store before it trims them (see
        # _poll): job id -> _Job, or None when the store lost it
        self._jobs: dict[int, tuple | None] = {}
        self._pending: set[int] = set()
        self._next_job = 0
        self._seen: set[int] = set()  # stage ids already owned by a job
        self._done: dict[int, tuple] = {}  # figures of finished stages of running jobs
        self._sid_floor = -1  # stages up to here predate tracing
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._poller: threading.Thread | None = None

    def set_enabled(self, on: bool) -> None:
        """Switch tracing (and the UDF profiler) on or off. While on, a
        thread copies finished jobs and stages out of the status store
        POLL_S seconds, before `spark.ui.retained*` trims them."""
        if on == self.enabled:
            return
        self.enabled = on
        if on:
            self.spark.conf.set(PROFILER_CONF, "perf")
            self._next_job = self._dag.numTotalJobs()
            last = self._job(self._next_job - 1)
            if last is not None:
                ids = last.stageIds()
                self._sid_floor = max([self._sid_floor] + [ids.apply(i) for i in range(ids.size())])
            self._halt.clear()
            self._poller = threading.Thread(target=self._poll_loop, daemon=True)
            self._poller.start()
        else:
            self._halt.set()
            self._poller.join()
            self.spark.conf.unset(PROFILER_CONF)

    def _poll_loop(self) -> None:
        while not self._halt.wait(POLL_S):
            self._poll(final=False)

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def _poll(self, final: bool) -> None:
        """Copy out every job that has finished since the last poll, and
        the finished stages of jobs still running.

        A job owns the stages it is the first finished job to name; stages
        it names that an earlier job owns (reused shuffles) or that predate
        tracing are not its work. The store drops skipped stages first, so
        a missing stage counts as lost only while the job reports more
        stages run (completed + failed) than were found. A job id the store
        does not hold is lost if `final` (the caller drained the listener
        bus) or a later id is there; otherwise its start event is still in
        flight."""
        with self._lock:
            top = self._dag.numTotalJobs()
            self._pending.update(range(self._next_job, top))
            self._next_job = top
            for jid in sorted(self._pending):
                job = self._job(jid)
                if job is None:
                    if final or any(self._job(j) is not None for j in range(jid + 1, top)):
                        self._jobs[jid] = None
                        self._pending.discard(jid)
                    continue
                if not job.completionTime().isDefined():
                    # a long job's early stages can be trimmed before it ends
                    self._copy_finished_stages(job)
                    continue
                ids = job.stageIds()
                own = [
                    sid for sid in (ids.apply(i) for i in range(ids.size()))
                    if sid > self._sid_floor and sid not in self._seen
                ]
                self._seen.update(own)
                figs = [self._done.pop(sid, None) or self._stage(sid) for sid in own]
                ran = [f for f in figs if f not in (MISSING, SKIPPED)]
                # stages the job ran that were not found; only a missing
                # stage of its own can be one of them
                unseen = job.numCompletedStages() + job.numFailedStages() - len(ran)
                self._jobs[jid] = (
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                    [sum(col) for col in zip((0, 0, 0, 0, 0), *ran)],
                    min(figs.count(MISSING), max(0, unseen)),
                )
                self._pending.discard(jid)

    def _copy_finished_stages(self, job) -> None:
        ids = job.stageIds()
        for sid in (ids.apply(i) for i in range(ids.size())):
            if sid > self._sid_floor and sid not in self._seen and sid not in self._done:
                fig = self._stage(sid)
                if fig not in (MISSING, SKIPPED):
                    self._done[sid] = fig

    def _stage(self, sid: int) -> tuple | str:
        """(tasks, failed tasks, run ms, shuffle bytes, spill bytes) of a
        stage that ran, else SKIPPED or MISSING (no longer stored)."""
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return MISSING
        if st.status().toString() not in ("COMPLETE", "FAILED"):
            return SKIPPED
        return (
            st.numTasks(),
            st.numFailedTasks(),
            st.executorRunTime(),
            st.shuffleReadBytes() + st.shuffleWriteBytes(),
            st.memoryBytesSpilled() + st.diskBytesSpilled(),
        )

    def _udf_seconds(self) -> float | None:
        """Summed UDF profiler time so far, or None when this pyspark keeps
        its profiler results elsewhere (the figure is then lost)."""
        results = getattr(getattr(self.spark, "_profiler_collector", None), "_perf_profile_results", None)
        if results is None:
            return None
        return sum(st.total_tt for st in results.values())

    @contextmanager
    def span(self, name: str, iteration: int, **attrs):
        """Time one call into a layer. Yields the span record (or None when
        disabled) so the caller can attach figures of its own."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        job_lo, udf_lo = self._dag.numTotalJobs(), self._udf_seconds()
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "iteration": iteration,
            **attrs,
        }
        self._stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - b0
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            b0 = time.perf_counter()
            self._bus.waitUntilEmpty()
            job_hi = self._dag.numTotalJobs()
            self._poll(final=True)
            udf_hi = self._udf_seconds()
            rec["udf_s"] = None if udf_lo is None or udf_hi is None else udf_hi - udf_lo
            rec.update(self._figures(job_lo, job_hi, rec["start"], rec["end"]))
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - b0

    def _figures(self, lo: int, hi: int, start: float, end: float) -> dict:
        jobs = [self._jobs.get(j) for j in range(lo, hi)]
        lost = sum(1 if j is None else j[3] for j in jobs)
        if lost:
            return dict.fromkeys(LOSABLE, None) | {"jobs": hi - lo, "lost": lost}
        clipped = [(max(j[0], start), min(j[1], end)) for j in jobs]
        busy = _union_seconds([(s, e) for s, e in clipped if e > s])
        tasks, failed, run_ms, shuffle, spill = (sum(col) for col in zip((0,) * 5, *(j[2] for j in jobs)))
        return {
            "jobs": hi - lo,
            "tasks": tasks,
            "failed_tasks": failed,
            "task_s": run_ms / 1000.0,
            "shuffle_mb": shuffle / _MB,
            "spill_mb": spill / _MB,
            "lost": 0,
            "driver_s": max(0.0, (end - start) - busy),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)
