"""The traced pass: spans, py4j trip counts, Spark job harvest, stream phases.

Everything here is switched on only in the traced pass. Spans are kept in
memory and written out when the benchmark ends. Spark jobs are harvested
from the driver's status store after every traced call and attributed to
the span that submitted them, first by job group and, for jobs that carry
no group of ours, by the span whose wall-clock window holds the job's
submission time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: str
    span_id: int
    parent: int | None
    start: float
    end: float | None = None
    py4j: int = 0

    @property
    def start_ms(self) -> float:
        return self.start * 1000.0

    @property
    def end_ms(self) -> float:
        return (self.end if self.end is not None else time.time()) * 1000.0


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted_ms: int
    completed_ms: int
    stage_ids: list[int]
    owner: int | None = None  # span_id the job is attributed to
    by: str = "none"  # "group", "window" or "none"


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    status: str
    tasks: int
    run_ms: int
    cpu_ns: int
    shuffle_read: int
    shuffle_write: int
    input_bytes: int
    output_bytes: int


class JobIdGap(RuntimeError):
    """Raised when the status store evicted jobs before they were harvested."""


def attribute_jobs(jobs: list[JobRecord], spans: list[Span], own_groups: dict[str, int]) -> None:
    """Attribute each job to the innermost span that submitted it.

    ``own_groups`` maps the job-group ids our spans set to their span ids.
    A job carrying one of them belongs to that span or to the innermost
    span below it whose [start, end] window holds the job's submission
    time. A job with no group of ours (none at all, as from a plain
    thread pool, or a streaming query's run id) goes to the innermost span
    of any kind whose window holds its submission time. Innermost means
    the one that started last.
    """
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def under(root: int) -> list[Span]:
        out, todo = [], [root]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c.span_id)
        return out

    by_id = {s.span_id: s for s in spans}
    for job in jobs:
        def innermost(cands):
            best = None
            for s in cands:
                if s.start_ms <= job.submitted_ms <= s.end_ms and (
                    best is None or s.start > best.start
                ):
                    best = s
            return best

        root = own_groups.get(job.group) if job.group is not None else None
        if root is not None and root in by_id:
            inner = innermost(under(root))
            job.owner, job.by = (inner.span_id if inner else root), "group"
            continue
        inner = innermost(spans)
        job.owner, job.by = (inner.span_id, "window") if inner else (None, "none")


def check_contiguous(first: int, seen: set[int]) -> None:
    """Fail loudly unless every job id from ``first`` to the newest was harvested."""
    if seen:
        missing = set(range(first, max(seen) + 1)) - seen
        if missing:
            raise JobIdGap(f"job ids missing from the harvest: {sorted(missing)[:10]}")


class Tracer:
    """Spans, py4j counting and status-store harvest for one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: dict[int, JobRecord] = {}
        self.stages: dict[tuple[int, int], StageRecord] = {}
        self.own_groups: dict[str, int] = {}
        self.harvest_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._counting = True
        self._client = None
        self._orig_send = None
        self._last_job = -1
        self._first_job = -1
        self.outside: set[int] = set()
        self._in_section = False
        self._patches: list[tuple[object, str, object]] = []
        self._open: list[Span] = []  # job-group spans not yet closed

    # ---- py4j trips ------------------------------------------------------
    def _count_py4j(self) -> None:
        """Wrap the gateway client's ``send_command`` to count each thread's
        round trips against its innermost open span, until ``_uncount_py4j``."""
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if tracer._counting and stack:
                stack[-1].py4j += 1  # only this thread touches its own stack
            return orig(*args, **kwargs)

        client.send_command = send_command
        self._client, self._orig_send = client, orig

    def _uncount_py4j(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig_send
            self._client = None

    # ---- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None, job_group: bool = True):
        """Record a span; with ``job_group`` its id becomes the Spark job group."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a span opened on a thread the benchmark did not start (a foreachBatch
        # callback, a write pool) hangs under the newest job-group span
        parent = stack[-1] if stack else (self._open[-1] if self._open else None)
        sid = next(self._ids)
        s = Span(
            name,
            op_id or (parent.op_id if parent else f"op{sid}"),
            sid,
            parent.span_id if parent else None,
            time.time(),
        )
        if job_group:
            group = f"perfbench-{sid}"
            self._counting = False
            self.sc.setJobGroup(group, name)
            self._counting = True
            self.own_groups[group] = sid
            self._open.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            if job_group:
                self._open.remove(s)
            s.end = time.time()
            self.spans.append(s)
            if job_group:
                self._counting = False
                if parent is not None and f"perfbench-{parent.span_id}" in self.own_groups:
                    self.sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._counting = True

    # ---- wrapping public functions ----------------------------------------
    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper until ``unwrap``."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, job_group=False):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unwrap_functions(self) -> None:
        """Restore every function ``wrap`` replaced."""
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def close(self) -> None:
        """Restore the wrapped functions and the gateway client."""
        self.unwrap_functions()
        self._uncount_py4j()

    # ---- status store ----------------------------------------------------
    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def start(self) -> None:
        """Open a traced section and start counting py4j trips. Jobs outside
        sections are harvested too, so the job-id contiguity check covers
        the whole run, but no total counts them."""
        if self._first_job < 0:
            self._counting = False
            try:
                jobs = self._store().jobsList(None)
                self._last_job = jobs.apply(0).jobId() if jobs.size() else -1
            finally:
                self._counting = True
            self._first_job = self._last_job + 1
        else:
            self.harvest()
        self._in_section = True
        self._count_py4j()

    def stop(self) -> None:
        """Close the traced section; its jobs have all completed by now."""
        self._uncount_py4j()
        self.harvest()
        self._in_section = False

    def harvest(self) -> None:
        """Pull newly completed jobs and their stages from the status store.

        Raises ``JobIdGap`` when the store has already evicted jobs that were
        never harvested (it keeps ``spark.ui.retainedJobs``, 1000 by default).
        """
        t0 = time.perf_counter()
        self._counting = False
        try:
            store = self._store()
            jobs = store.jobsList(None)
            n = jobs.size()
            if n and jobs.apply(n - 1).jobId() > self._last_job + 1:
                raise JobIdGap(
                    f"status store evicted jobs after {self._last_job} before harvest; "
                    "harvest more often or raise spark.ui.retainedJobs"
                )
            for i in range(n):  # newest first
                j = jobs.apply(i)
                jid = j.jobId()
                if jid <= self._last_job:
                    break
                if jid in self.jobs or j.completionTime().isEmpty():
                    continue  # running jobs are taken by a later harvest
                g = j.jobGroup()
                if not self._in_section:
                    self.outside.add(jid)
                self.jobs[jid] = JobRecord(
                    jid,
                    g.get() if g.isDefined() else None,
                    j.submissionTime().get().getTime(),
                    j.completionTime().get().getTime(),
                    [int(x) for x in j.stageIds().mkString(",").split(",") if x],
                )
            while self._last_job + 1 in self.jobs:
                self._last_job += 1
            self._harvest_stages(store)
        finally:
            self._counting = True
            self.harvest_s += time.perf_counter() - t0

    def finish(self) -> None:
        """Final harvest, contiguity check and job attribution."""
        self.harvest()
        check_contiguous(self._first_job, set(self.jobs))
        attribute_jobs(self.counted(), self.spans, self.own_groups)

    def counted(self) -> list[JobRecord]:
        """Jobs submitted inside traced sections."""
        return [j for j in self.jobs.values() if j.job_id not in self.outside]

    def _harvest_stages(self, store) -> None:
        jvm = self.sc._jvm
        stages = store.stageList(None, False, False, self.sc._gateway.new_array(jvm.double, 0), None)
        wanted = {sid for j in self.jobs.values() for sid in j.stage_ids}
        for i in range(stages.size()):
            sd = stages.apply(i)
            key = (sd.stageId(), sd.attemptId())
            if key in self.stages or key[0] not in wanted:
                continue
            status = sd.status().toString()
            if status in ("ACTIVE", "PENDING"):
                continue
            self.stages[key] = StageRecord(
                key[0], key[1], status, sd.numCompleteTasks(), sd.executorRunTime(),
                sd.executorCpuTime(), sd.shuffleReadBytes(), sd.shuffleWriteBytes(),
                sd.inputBytes(), sd.outputBytes(),
            )

    # ---- roll-ups -------------------------------------------------------
    def descendants(self, root_ids: set[int]) -> set[int]:
        """Span ids under (and including) the given spans."""
        out = set(root_ids)
        changed = True
        while changed:
            changed = False
            for s in self.spans:
                if s.parent in out and s.span_id not in out:
                    out.add(s.span_id)
                    changed = True
        return out

    def spark_totals(self, span_ids: set[int] | None = None) -> dict:
        """Job, stage and task counts and stage metrics for jobs owned by ``span_ids``."""
        jobs = [j for j in self.counted() if span_ids is None or j.owner in span_ids]
        stage_ids = {sid for j in jobs for sid in j.stage_ids}
        stages = [s for s in self.stages.values() if s.stage_id in stage_ids and s.status != "SKIPPED"]
        run_s = sum(s.run_ms for s in stages) / 1000.0
        cpu_s = sum(s.cpu_ns for s in stages) / 1e9
        mb = 1024.0 * 1024.0
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "executor_run_s": run_s,
            "executor_cpu_s": cpu_s,
            "cpu_ratio": cpu_s / run_s if run_s else 0.0,
            "shuffle_read_mb": sum(s.shuffle_read for s in stages) / mb,
            "shuffle_write_mb": sum(s.shuffle_write for s in stages) / mb,
            "input_mb": sum(s.input_bytes for s in stages) / mb,
            "output_mb": sum(s.output_bytes for s in stages) / mb,
        }

    def unattributed(self) -> tuple[int, int]:
        """(jobs without one of our groups, jobs attributed to no span at all)."""
        jobs = self.counted()
        ungrouped = sum(1 for j in jobs if j.by != "group")
        none = sum(1 for j in jobs if j.by == "none")
        return ungrouped, none

    def write(self, path: str) -> None:
        """Write spans and jobs as JSON lines."""
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "span": s.name, "op": s.op_id, "id": s.span_id, "parent": s.parent,
                    "start": s.start, "end": s.end, "py4j": s.py4j,
                }) + "\n")
            for j in sorted(self.jobs.values(), key=lambda j: j.job_id):
                f.write(json.dumps({
                    "job": j.job_id, "group": j.group, "submitted_ms": j.submitted_ms,
                    "completed_ms": j.completed_ms, "stages": j.stage_ids,
                    "owner": j.owner, "by": j.by,
                }) + "\n")


@dataclass
class StreamPhases:
    """Per-batch durations from a ``StreamingQueryListener``."""

    progress: list[dict] = field(default_factory=list)

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({"batch": p.batchId, "rows": p.numInputRows,
                             "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
