"""Measurement plumbing: spans, a Spark stage meter, progress capture.

Everything here wraps the engine from outside -- spans are opened
around calls into its public functions, Spark counters come from the
application status store, streaming durations from progress events.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: Cumulative Spark counters the stage meter reports, in its order.
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_ms",
)


class Tracer:
    """In-memory spans: ``(id, parent, name, start, end)`` in wall-clock
    seconds. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        with self._lock:
            self.spans.append([len(self.spans), parent, name, start, end])
            return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Self time per span name: a span's duration minus its
        children's durations."""
        own = {s[0]: s[4] - s[3] for s in self.spans}
        for s in self.spans:
            if s[1] is not None:
                own[s[1]] -= s[4] - s[3]
        by_name: dict[str, float] = {}
        for s in self.spans:
            by_name[s[2]] = by_name.get(s[2], 0.0) + own[s[0]]
        return by_name

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [dict(zip(("id", "parent", "name", "start", "end"), s)) for s in self.spans],
                fh,
            )


class StageMeter:
    """Spark counters from the application status store -- works with
    the UI off. ``snapshot()`` drains the listener bus, then folds in the
    stages and jobs completed since the previous call (the store lists
    newest first, so each call reads only what is new). ``new_jobs``
    holds the ``(submitted, completed)`` epoch seconds of the jobs the
    latest snapshot folded in; ``completed`` is None for a running job."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()
        self._last_job = -1
        self.new_jobs: list[tuple[float, float | None]] = []
        self.totals = dict.fromkeys(SPARK_COUNTERS, 0)
        self.busy_s = 0.0
        self.snapshot()

    def snapshot(self) -> dict[str, int]:
        t = time.perf_counter()
        self._sc.listenerBus().waitUntilEmpty()
        status = self._jvm.java.util.ArrayList()
        status.add(self._jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = self._store.stageList(
            status, False, False, self._quantiles, self._jvm.java.util.ArrayList()
        )
        tot = self.totals
        fresh = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                fresh += 1
                if fresh > 64:  # newest first: a run of known stages ends it
                    break
                continue
            self._seen_stages.add(key)
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["executor_run_ms"] += s.executorRunTime()
            tot["executor_cpu_ms"] += s.executorCpuTime() // 1_000_000
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_write_records"] += s.shuffleWriteRecords()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["gc_ms"] += s.jvmGcTime()
        jobs = self._store.jobsList(None)
        newest = self._last_job
        self.new_jobs = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            newest = max(newest, job.jobId())
            tot["jobs"] += 1
            done = job.completionTime()
            self.new_jobs.append(
                (
                    job.submissionTime().get().getTime() / 1000,
                    done.get().getTime() / 1000 if done.isDefined() else None,
                )
            )
        self._last_job = newest
        self.busy_s += time.perf_counter() - t
        return dict(tot)

    @staticmethod
    def delta(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
        return {k: after[k] - before[k] for k in SPARK_COUNTERS}


def meter_self_check(spark, meter: StageMeter) -> dict:
    """A known exchange must read shuffle bytes; a narrow scan none."""
    from pyspark.sql import functions as F

    b = meter.snapshot()
    spark.range(0, 200_000, 1, 4).groupBy(F.col("id") % 97).count().write.format(
        "noop"
    ).mode("overwrite").save()
    m = meter.snapshot()
    spark.range(0, 200_000, 1, 4).write.format("noop").mode("overwrite").save()
    a = meter.snapshot()
    wide, narrow = meter.delta(m, b), meter.delta(a, m)
    return {
        "wide_shuffle_write_bytes": wide["shuffle_write_bytes"],
        "narrow_shuffle_write_bytes": narrow["shuffle_write_bytes"],
        "narrow_stages": narrow["stages"],
        "ok": wide["shuffle_write_bytes"] > 0
        and wide["shuffle_read_bytes"] > 0
        and narrow["shuffle_write_bytes"] == 0
        and narrow["stages"] >= 1,
    }


class ProgressLog(StreamingQueryListener):
    """Every progress event of every query, kept in full (the query's own
    ``recentProgress`` keeps only the newest few)."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        end = json.loads(p.sources[0].endOffset or "{}") if p.sources else {}
        rec = {
            "id": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "lines_through": sum(end.values()) if isinstance(end, dict) else 0,
            "timestamp": p.timestamp,
            "durations": dict(p.durationMs),
            "source_metrics": [dict(s.metrics or {}) for s in p.sources],
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def lines(self, query_id: str) -> int:
        """Source lines committed so far: the sum of the per-receiver
        line-count end offsets of the newest batch. (``numInputRows``
        counts every scan of a batch, and the Silver sink scans each
        batch more than once.)"""
        with self._lock:
            return max(
                (e["lines_through"] for e in self.events if e["id"] == query_id),
                default=0,
            )

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["id"] == query_id]


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for row in fh:
            if row.startswith("VmHWM:"):
                return int(row.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")
