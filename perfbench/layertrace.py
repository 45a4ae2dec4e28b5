"""Outside-in layer tracing for the traced run (``--trace 1``).

Spans are recorded around calls into the program's public functions, from
the benchmark's side: the functions are re-bound, at run time and only in
the traced run, on the module whose namespace the caller looks them up in
(``fxspark.cli`` for a tick, ``fxspark.queries`` for a query build). No
program file changes.

Each span sets its own Spark job group, so every job the call fires is
attributed to the innermost open span. Job and stage figures come from
Spark's status store (``statusTracker().getJobIdsForGroup`` plus
``statusStore().lastStageAttempt``), which is kept with the UI off.

Spans stay in memory; ``Tracer.resolve`` fills in their job figures after
each operation, outside its timed region, and ``dump`` writes them out at
the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time

from py4j.protocol import Py4JJavaError

# Stage-level counters read from the status store, summed per span.
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "output_rows": ("outputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records nested spans with job-group attribution on one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._pending: list[dict] = []
        self.enabled = False

    # -- recording ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span; yields its record (None while tracing is disabled)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"perfbench-{next(self._ids)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else sid,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
            self.spans.append(rec)
            self._pending.append(rec)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Re-bind ``module.attr`` so each call is recorded as span ``name``.
        ``on_result(rec, args, result)`` may add attributes to the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if rec is not None and on_result is not None:
                    on_result(rec, args, result)
                return result

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- job figures ----------------------------------------------------------
    def resolve(self) -> None:
        """Attach job and stage figures to the spans closed since the last
        call. Waits for Spark's listener bus so the status store is complete."""
        if not self._pending:
            return
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self._pending:
            intervals, stages = [], 0
            sums = dict.fromkeys(STAGE_FIELDS, 0.0)
            job_ids = sorted(tracker.getJobIdsForGroup(rec["id"]))
            for jid in job_ids:
                job = self._store.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append(
                        (
                            max(job.submissionTime().get().getTime() / 1e3, rec["start"]),
                            min(job.completionTime().get().getTime() / 1e3, rec["end"]),
                        )
                    )
                seq = job.stageIds()
                for i in range(seq.size()):
                    stage = self._stage(seq.apply(i))
                    if stage is None:
                        continue
                    stages += 1
                    for key, (field, scale) in STAGE_FIELDS.items():
                        sums[key] += getattr(stage, field)() * scale
            rec["job_ids"] = job_ids
            rec["job_intervals"] = [(lo, hi) for lo, hi in intervals if hi > lo]
            rec["stages"] = stages
            rec.update(sums)
        self._pending.clear()

    def _stage(self, stage_id: int):
        """Last attempt of a stage that ran; None for skipped stages."""
        try:
            stage = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:
            return None
        return None if stage.status().toString() == "SKIPPED" else stage

    # -- output ---------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")
