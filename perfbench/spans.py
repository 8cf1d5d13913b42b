"""Spans around public calls, and Spark's own accounting for each span.

Spans stay in memory (``Tracer.spans``) and are written as one JSON file
when the run ends. A span's self time is its duration minus the part of
that interval its child spans cover.

Spark work is attributed to a span by the range of job ids submitted
between its start and its end, read from the application status store
(``sc._jsc.sc().statusStore()``). The benchmark is a closed loop with one
caller, so every job in that range belongs to the call, including jobs the
program submits from its own thread pools. Job groups are not used: the
program may set its own.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class SparkAccounting:
    """Reads job, stage and task totals for a range of job ids."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self.slots = spark.sparkContext.defaultParallelism

    def _drain(self) -> None:
        # job-end events reach the status store through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def totals_since(self, after_job_id: int) -> dict:
        """Totals over the jobs with id > ``after_job_id``. Skipped stages
        (shuffle output reused from an earlier job) are not counted."""
        self._drain()
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after_job_id:
                break
            n_jobs += 1
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        out = dict.fromkeys(COUNT_KEYS, 0)
        out["jobs"] = n_jobs
        run_ms = 0
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            run_ms += st.executorRunTime()
        out["executor_run_s"] = run_ms / 1000.0
        return out


class Tracer:
    """Records spans when ``enabled``; otherwise each span is a no-op and
    no Spark accounting is read."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._acct: SparkAccounting | None = None
        # time spent reading Spark's accounting, outside the span it measures
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        if self.enabled and self._acct is None:
            self._acct = SparkAccounting(spark)

    @contextmanager
    def span(self, name: str, spark_counts: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        before = None
        if spark_counts and self._acct is not None:
            t = time.perf_counter()
            before = self._acct.last_job_id()
            self.overhead_s += time.perf_counter() - t
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                t = time.perf_counter()
                counts = self._acct.totals_since(before)
                wall = rec["end"] - rec["start"]
                counts["slot_busy_share"] = counts["executor_run_s"] / (
                    wall * self._acct.slots
                )
                rec["spark"] = counts
                self.overhead_s += time.perf_counter() - t

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = sorted(
                (k["start"], k["end"]) for k in self.spans if k["parent"] == s["id"]
            )
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)
