"""Executed-stage metrics: the stage meter and the one metered run.

Wall-clock at local[32] understates exchange costs -- an in-memory
shuffle of a few million 8-byte rows is nearly free locally, while on a
1000-executor cluster the same exchange is network + spill and often IS
the job. The meter reads the per-stage metrics of the application
status store over py4j (it works with the UI off) so scale arguments
("variant A moves 10x fewer bytes through the exchange") can be
measured, not asserted.

Stage-level accounting is used deliberately INSTEAD of walking the
AQE-final plan tree for SQLMetrics: the tree under-reports, because
work AQE surgically removed after executing it is unreachable from the
final plan -- e.g. a join branch that turned out empty
(AQEPropagateEmptyRelation rewrites the join away, leaving its
already-materialized stages dangling) or a subtree behind a
localCheckpoint. Every executed stage reaches the status store whether
or not the final plan still references it. (A plan-tree walker existed
here through round 5 and was removed for exactly that caveat.)
"""

from __future__ import annotations

import time


class StageMeter:
    """Stage and job counters from the application status store.

    ``take()`` returns the counters of the stages and jobs that
    completed since the previous ``take()`` (or since construction):
    ``jobs``, ``stages``, ``executor_run_ms``, and the stages' shuffle
    writes, ``shuffle_records`` and ``shuffle_bytes``.

    Stages are keyed by ``(stageId, attemptId)``. Keying by attempt
    matters on real clusters (ADVICE r5): a stage retried between reads
    reuses its stageId, so a stageId-keyed account would silently drop
    the retry's volume.

    The status store is fed by AppStatusListener on the ASYNC listener
    bus, so a just-finished job's last stage-completed events can still
    be in flight when the action returns. Each read drains the bus
    first, so a read taken "after run A / before run B" doesn't
    misattribute A's stragglers to B. A drain failure (a
    ``Py4JJavaError``, e.g. a drain timeout on a busy bus) is raised:
    a silent partial drain would quietly corrupt the attribution.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._seen: set[tuple[int, int]] = set()
        self._last_job = -1
        self.take()

    def take(self) -> dict[str, int]:
        self._sc.listenerBus().waitUntilEmpty()
        status = self._jvm.java.util.ArrayList()
        status.add(self._jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = self._store.stageList(
            status, False, False, self._quantiles, self._jvm.java.util.ArrayList()
        )
        new, known = [], 0
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen:
                known += 1
                if known > 64:  # newest first: a run of known stages ends it
                    break
                continue
            self._seen.add(key)
            new.append(s)
        jobs = self._store.jobsList(None)
        newest = self._last_job
        n_jobs = 0
        for i in range(jobs.size()):
            job_id = jobs.apply(i).jobId()
            if job_id <= self._last_job:
                break
            newest = max(newest, job_id)
            n_jobs += 1
        self._last_job = newest
        return {
            "jobs": n_jobs,
            "stages": len(new),
            "executor_run_ms": sum(s.executorRunTime() for s in new),
            "shuffle_records": sum(s.shuffleWriteRecords() for s in new),
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in new),
        }


_meter: StageMeter | None = None


def stage_meter(spark) -> StageMeter:
    """The SparkContext's one meter. Built once per context: its first
    read walks every retained stage, later reads only the new ones."""
    global _meter
    if _meter is None or _meter._jsc is not spark.sparkContext._jsc:
        _meter = StageMeter(spark)
    return _meter


def metered_run(spark, build_fn, reps: int = 1) -> dict:
    """Build and run a query (noop sink) ``reps`` times under the stage
    meter. ``build_fn`` is a zero-arg callable returning the DataFrame.

    Returns the fastest run: its ``wall_s`` and that wall's split into
    ``build_s`` (DataFrame construction) and ``exec_s`` (the action),
    plus its own :meth:`StageMeter.take` counters. The meter is read
    outside the timed window.

    Each run's meter window brackets the BUILD as well as the action,
    because ``localCheckpoint(eager=False)`` materializes part of its
    lineage at DataFrame-construction time (measured: the checkpointed
    subtree's shuffle map stage runs during the build; an action-only
    window undercounted a checkpointed distinct to 0 shuffle records).
    """
    meter = stage_meter(spark)
    meter.take()
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = build_fn()
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        runs.append(
            {"wall_s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1, **meter.take()}
        )
    return min(runs, key=lambda r: r["wall_s"])


def executed_stage_signature(spark, build_fn) -> dict[str, int]:
    """Build AND run a query once under the stage meter and return what
    actually EXECUTED: completed stage count and total shuffle-write
    records and bytes.

    This is the lineage-duplication detector the plan-shape snapshot
    cannot be: a multi-consumer frame whose lineage silently re-runs
    (alias self-joins, shared staging without a checkpoint -- the
    q_pmi 5x-explode class found by hand in round 9) has an innocent
    PLAN, but its executed shuffle records multiply by the re-run
    count. Records, not stage counts, carry the strict contract:
    they are data-deterministic at a fixed SF, while stage counts can
    shift with planner details."""
    run = metered_run(spark, build_fn)
    return {
        "shuffle_records": run["shuffle_records"],
        "shuffle_bytes": run["shuffle_bytes"],
        "n_stages": run["stages"],
    }
