"""Spans around the engine's public calls, joined to Spark's own job,
stage and task metrics.

A :class:`Tracer` keeps spans (name, start, end, parent) in memory. Each
span runs under its own Spark job group, so every job Spark launches is
attributed to the innermost span that was open when it started. After a
traced op the tracer reads those jobs back from the application status
store (live with ``spark.ui.enabled=false``) and folds them into per-op
session metrics; :meth:`Tracer.dump` writes spans and jobs, grouped by
job group, as one JSON file when the run ends.

Spans are recorded only from the benchmark's side: :func:`patched`
swaps a module attribute for a wrapper for the duration of a traced op
and restores it afterwards, so untraced ops run the engine untouched.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

#: Longest wait for the listener bus to drain before a traced op's jobs
#: are read; past it the op fails rather than undercounting.
BUS_TIMEOUT_MS = 30_000


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float | None
    parent: int | None
    group: str


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.jobs: dict[str, list[dict]] = {}
        self._stack: list[int] = []
        self._op_metrics: dict[int, dict[str, float]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), None, parent, f"perfbench-{idx}")
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(p.group, p.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, root: int) -> list[int]:
        """Indices of ``root`` and every span opened beneath it."""
        out = [root]
        members = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in members:
                out.append(i)
                members.add(i)
        return out

    def _read_jobs(self, group: str) -> list[dict]:
        jobs = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            j = self._store.job(job_id)
            if j.completionTime().isEmpty():
                raise RuntimeError(f"job {job_id} of {group} has not completed")
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:
                    # A stage this job reused from an earlier op may
                    # already be evicted (spark.ui.retainedStages).
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                tl = self._store.taskList(st.stageId(), st.attemptId(), 1 << 20)
                tasks = [tl.apply(x) for x in range(tl.size())]
                stages.append(
                    {
                        "stage_id": st.stageId(),
                        "num_tasks": st.numTasks(),
                        "executor_run_ms": st.executorRunTime(),
                        "executor_cpu_ns": st.executorCpuTime(),
                        "gc_ms": st.jvmGcTime(),
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "input_bytes": st.inputBytes(),
                        "output_bytes": st.outputBytes(),
                        "scheduler_delay_ms": sum(t.schedulerDelay() for t in tasks),
                        "task_run_ms": [
                            t.taskMetrics().get().executorRunTime()
                            for t in tasks
                            if t.taskMetrics().isDefined()
                        ],
                    }
                )
            jobs.append(
                {
                    "job_id": job_id,
                    "submit": j.submissionTime().get().getTime() / 1000.0,
                    "complete": j.completionTime().get().getTime() / 1000.0,
                    "stages": stages,
                }
            )
        return jobs

    def op_metrics(self, root: int) -> dict[str, float]:
        """Session-layer metrics of the op whose outermost span is
        ``root``: every job launched under it, whatever span opened it."""
        if root not in self._op_metrics:
            self._op_metrics[root] = self._fold(root)
        return self._op_metrics[root]

    def _fold(self, root: int) -> dict[str, float]:
        # The status store is filled from the listener bus asynchronously:
        # let it take in the op's last job and stage events first.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(BUS_TIMEOUT_MS)
        jobs = []
        for i in self.subtree(root):
            g = self.spans[i].group
            self.jobs[g] = self._read_jobs(g)
            jobs += self.jobs[g]
        op = self.spans[root]
        stages = [s for j in jobs for s in j["stages"]]
        worst = max(stages, key=lambda s: s["executor_run_ms"], default=None)
        runs = worst["task_run_ms"] if worst else []
        skew = max(runs) / statistics.median(runs) if runs and min(runs) > 0 else 1.0
        return {
            "jobs": len(jobs),
            "tasks": sum(s["num_tasks"] for s in stages),
            "driver_s": _uncovered(op.start, op.end, [(j["submit"], j["complete"]) for j in jobs]),
            "scheduler_delay_s": sum(s["scheduler_delay_ms"] for s in stages) / 1e3,
            "executor_run_s": sum(s["executor_run_ms"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executor_cpu_ns"] for s in stages) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "task_skew": skew,
            "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "input_bytes": sum(s["input_bytes"] for s in stages),
        }

    def durations(self, root: int) -> dict[str, float]:
        """Total wall seconds per span name under ``root``."""
        out: dict[str, float] = {}
        for i in self.subtree(root):
            s = self.spans[i]
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                {
                    **extra,
                    "spans": [asdict(s) for s in self.spans],
                    "jobs_by_group": self.jobs,
                },
                indent=1,
            )
        )


def _uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` not covered by any interval."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``(module, attr, wrapper_factory)`` targets:
    each factory receives the original callable and returns its wrapper."""
    saved = []
    try:
        for mod, attr, factory in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, factory(orig))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def spanned(tracer: Tracer, name: str, after=None):
    """Wrapper factory for :func:`patched`: run the original inside a
    span; ``after(result)`` (also inside the span) may replace the
    result, e.g. to materialize a lazy stage at its boundary."""

    def factory(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                return after(out) if after is not None else out

        return wrapper

    return factory
