"""The ``ingest_drain`` workload.

Pipeline, as the CLI builds it: ``bronze_from_sbs1_jvm`` ->
``silver_stream`` -> ``foreachBatch(silver_batch_writer(out))`` with
trigger ``0 seconds`` and a fresh checkpoint. The load generator
(``gen.py``) is one separate process that has the whole backlog ready
before the stream connects, so per-row parse and parquet-write work
dominates and per-batch overhead is amortized over large batches.

Set-up (billed to ``setup_s``): the session start, then -- three times,
median kept -- a stream started on a fresh checkpoint against the
generator's probe listener until its first lines are committed.

Then, untimed, :data:`WARM_DRAINS` warm-up drains of the whole backlog,
each into its own output: the JIT is still compiling the parse and
write paths through the first hundreds of thousands of lines. A drain
on a cold JIT ran at about 60% of the warm rate, and after one warm-up
drain the measured drains still sped up one after the other. Then
:data:`DRAINS` measured drains, each a fresh stream on a fresh
checkpoint and output; the run reports their median rate.

After the run, Silver and the dead letters are read back and checked:
every valid line sent is in Silver exactly once, every malformed line
is a dead letter, and a seeded sample of rows holds exactly the fields
the generator wrote.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from run import HERE, counter_unit

#: Backlog lines per run second, drained :data:`WARM_DRAINS` times to
#: warm up and then :data:`DRAINS` times measured.
LINES_PER_S = 28_000
WARM_DRAINS = 2
DRAINS = 3
SETUP_REPS = 3
SAMPLE_ROWS = 200
PARSE_BENCH_LINES = 400_000
#: Clock slack when comparing Python wall times with the engine's
#: millisecond progress timestamps.
SLACK_S = 0.002
#: Engine modules imported inside the timed session start.
ENGINE_MODULES = (
    "dump1090_stream_parser_spark.session",
    "dump1090_stream_parser_spark.sources.sbs1_jvm",
    "dump1090_stream_parser_spark.streaming.pipeline",
)
#: Phases of one micro-batch in the order the engine runs them.
BATCH_PHASES = (
    ("latestOffset", "sources.sbs1_jvm.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "streaming.get_batch"),
    ("queryPlanning", "streaming.query_planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)


class LoadGenerator:
    """The ``gen.py`` process: started first, stopped and reaped last."""

    def __init__(self, lines: int, seed: int):
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "gen.py"),
                "--lines", str(lines),
                "--seed", str(seed),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        hello = json.loads(self.proc.stdout.readline() or "null")
        if not hello:
            self.close()
            raise RuntimeError("load generator exited before listening")
        self.ports = hello["ports"]
        self.probe_port = hello["probe_port"]

    def finish(self) -> dict:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.close()
        stats = json.loads(self.proc.stdout.readline() or "null")
        self.close()
        if not stats:
            raise RuntimeError("load generator exited without statistics")
        return stats

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _start(run, hosts, ckpt: str, sink):
    from dump1090_stream_parser_spark.streaming.pipeline import (
        bronze_from_sbs1_jvm,
        silver_stream,
    )

    bronze = bronze_from_sbs1_jvm(run.spark, hosts, connect_attempt_delay=0.2)
    return (
        silver_stream(bronze)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def _await_lines(progress, query, lines: int, timeout: float) -> None:
    qid = str(query.id)
    deadline = time.time() + timeout
    while progress.lines(qid) < lines:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise RuntimeError(
                f"stream committed {progress.lines(qid)} of {lines} lines in {timeout:.0f} s"
            )
        time.sleep(0.01)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _jvm_conf() -> dict[str, str]:
    from dump1090_stream_parser_spark.sources.sbs1_jvm import jvm_source_conf

    return jvm_source_conf()


def run_ingest(run) -> None:
    from meter import ProgressLog
    from gen import PROBE_LINES

    args, tracer = run.args, run.tracer
    n_lines = int(LINES_PER_S * args.seconds)
    gen = LoadGenerator(n_lines, args.seed)
    try:
        session_s = run.start_spark(ENGINE_MODULES, _jvm_conf)
        from dump1090_stream_parser_spark.streaming.pipeline import silver_batch_writer

        progress = ProgressLog()
        run.spark.streams.addListener(progress)

        reps = []
        for k in range(SETUP_REPS):
            writer = silver_batch_writer(run.path(f"probe{k}"))
            t = time.perf_counter()
            q = _start(
                run,
                [("127.0.0.1", gen.probe_port)],
                run.path(f"probe{k}_ckpt"),
                writer,
            )
            _await_lines(progress, q, PROBE_LINES, 60)
            reps.append(time.perf_counter() - t)
            q.stop()
        run.e2e["setup_s"] = session_s + statistics.median(reps)

        hosts = [("127.0.0.1", p) for p in gen.ports]
        warm_s = []
        for k in range(WARM_DRAINS):
            t = time.perf_counter()
            warm = _start(
                run, hosts, run.path(f"warm{k}_ckpt"), silver_batch_writer(run.path(f"warm{k}"))
            )
            _await_lines(progress, warm, n_lines, args.seconds + 120)
            warm.stop()
            warm_s.append(time.perf_counter() - t)

        drains = []
        before = run.snapshot()
        for k in range(DRAINS):
            out = run.path(f"silver{k}")
            writer = silver_batch_writer(out)
            commits: dict[int, tuple[float, float]] = {}

            def sink(batch, batch_id: int, writer=writer, commits=commits) -> None:
                t0 = time.time()
                writer(batch, batch_id)
                commits[batch_id] = (t0, time.time())

            query = _start(run, hosts, run.path(f"ckpt{k}"), sink)
            _await_lines(progress, query, n_lines, args.seconds + 120)
            query.stop()
            drains.append({"out": out, "id": str(query.id), "commits": commits})
        after = run.snapshot()
        stats = gen.finish()
    finally:
        gen.close()

    # the generator's first rounds fed the warm-up drains
    t = time.perf_counter()
    for d, sent in zip(drains, stats["rounds"][WARM_DRAINS:]):
        d["sent"] = sent
        d["events"] = sorted(
            (e for e in progress.of(d["id"]) if e["batch"] in d["commits"]),
            key=lambda e: e["batch"],
        )
        valid_rows = _check(run, d["out"], n_lines, sent["sent"])
        last_commit = max(end for _, end in d["commits"].values())
        d["rows_per_s"] = valid_rows / (last_commit - sent["first_send"])
    run.e2e["throughput_per_s"] = statistics.median(d["rows_per_s"] for d in drains)
    check_s = time.perf_counter() - t

    events = [e for d in drains for e in d["events"]]
    commits = {(d["id"], b): c for d in drains for b, c in d["commits"].items()}
    run.detail.update(
        {
            "ingest_rows_per_s": run.e2e["throughput_per_s"],
            "drain_rows_per_s": [d["rows_per_s"] for d in drains],
            "batch_commit_s": [
                [round(e - s, 3) for s, e in d["commits"].values()] for d in drains
            ],
            "lines_per_drain": n_lines,
            "warm_drain_s": warm_s,
            "check_s": check_s,
            "batches": len(events),
            "num_input_rows_sum": sum(e["rows"] for e in events),
            "session_s": session_s,
            "setup_reps_s": reps,
            "generator": stats,
        }
    )
    if not tracer.enabled:
        return

    from meter import SPARK_COUNTERS, meter_self_check

    selfcheck = meter_self_check(run.spark, run.meter)
    run.detail["meter_self_check"] = selfcheck
    run.check(selfcheck["ok"], f"stage meter self-check: {selfcheck}")
    # Progress reports phase durations, not start times, so the phase
    # spans are laid end to end from the batch start. What can be checked
    # is checked: the phases fit in the trigger, and the wrapped sink ran
    # inside its batch and took no longer than addBatch.
    for e in events:
        start = _epoch(e["timestamp"])
        dur = e["durations"]
        trigger_s = dur.get("triggerExecution", 0) / 1000
        phases_ms = sum(dur.get(key, 0) for key, _ in BATCH_PHASES)
        s, t = commits[e["id"], e["batch"]]
        run.check(
            phases_ms <= dur.get("triggerExecution", 0)
            and start - SLACK_S <= s <= t <= start + trigger_s + SLACK_S
            and t - s <= dur.get("addBatch", 0) / 1000 + SLACK_S,
            f"batch {e['batch']}: phases {phases_ms} ms, sink [{s}, {t}]"
            f" outside [{start}, +{trigger_s}] s or longer than addBatch",
        )
        b = tracer.add("streaming.batch", start, start + trigger_s)
        cur = start
        for key, name in BATCH_PHASES:
            span_s = dur.get(key, 0) / 1000
            sid = tracer.add(name, cur, cur + span_s, b)
            if key == "addBatch":
                tracer.add("streaming.pipeline.sink_batch", s, t, sid)
            cur += span_s
    for d in drains:
        tracer.add("gen.send", d["sent"]["first_send"], d["sent"]["last_send"])

    def med(key: str) -> float:
        return statistics.median(e["durations"].get(key, 0) for e in events)

    files, size = 0, 0
    for dirpath, _, names in os.walk(drains[0]["out"]):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    run.layer("sources.sbs1_jvm.latest_offset_ms", med("latestOffset"), "ms")
    run.layer("streaming.query_planning_ms", med("queryPlanning"), "ms")
    run.layer("streaming.wal_commit_ms", med("walCommit"), "ms")
    run.layer("streaming.commit_offsets_ms", med("commitOffsets"), "ms")
    run.layer("streaming.add_batch_ms", med("addBatch"), "ms")
    run.layer("streaming.batches", len(events) / DRAINS, "count")
    run.layer("streaming.rows_per_batch", n_lines * DRAINS / max(len(events), 1), "count")
    run.layer(
        "streaming.pipeline.sink_batch_ms",
        statistics.median((e - s) * 1000 for s, e in commits.values()),
        "ms",
    )
    run.layer("streaming.pipeline.files_written", files, "count")
    run.layer("streaming.pipeline.bytes_written", size, "bytes")
    run.layer(
        "gen.send_ms",
        statistics.median(d["sent"]["last_send"] - d["sent"]["first_send"] for d in drains) * 1000,
        "ms",
    )
    run.layer("sources.sbs1.dead_letter_rows", run.detail["dead_letter_rows"], "count")
    totals = run.meter.delta(after, before)
    for k in SPARK_COUNTERS:
        run.layer(f"spark.{k}", totals[k] / DRAINS, counter_unit(k))
    run.layer("sources.sbs1.parse_rows_per_s", _parse_rate(run), "1/s")
    run.layer("trace.meter_busy_s", run.meter.busy_s, "s")
    run.layer("trace.throughput_per_s", run.e2e["throughput_per_s"], "1/s")


def _check(run, out: str, n_lines: int, sent: int) -> int:
    """Exactly-once, dead-letter and field checks; returns the number
    of valid rows in Silver."""
    import gen
    from pyspark.sql import functions as F

    spark = run.spark
    path = os.path.join(out, "squitters")
    silver = spark.read.parquet(path)
    # the output files read directly: quicker than a Spark job per column
    ids = pq.read_table(path, columns=["aircraft_id"])["aircraft_id"]
    ids = ids.to_numpy().astype(np.int64)

    seq = np.arange(n_lines, dtype=np.int64)
    bad = gen.is_bad(run.args.seed, seq)
    in_range = (ids >= 0) & (ids < n_lines)
    counts = np.bincount(ids[in_range], minlength=n_lines)
    missing = int(((counts == 0) & ~bad).sum())
    dupes = int(np.maximum(counts - 1, 0).sum())
    stray = int((~in_range).sum() + counts[bad].sum())
    run.attempted += n_lines
    run.failed += missing + dupes + stray
    if missing or dupes or stray:
        run.problems.append(f"silver: {missing} missing, {dupes} duplicated, {stray} unexpected")
    if sent != n_lines:
        run.check(False, f"generator sent {sent} of {n_lines} lines")

    dl_path = os.path.join(out, "dead_letter")
    raw = (
        pq.read_table(dl_path, columns=["raw_line"])["raw_line"].to_pylist()
        if os.path.isdir(dl_path)
        else []
    )
    dl_ids = sorted(int(r.split(",")[3]) for r in raw)
    run.detail["dead_letter_rows"] = len(raw)
    run.check(dl_ids == seq[bad].tolist(), f"dead letters {len(raw)} != injected {int(bad.sum())}")

    valid = seq[~bad]
    sample = sorted(random.Random(run.args.seed).sample(valid.tolist(), SAMPLE_ROWS))
    lines = gen.Lines(run.args.seed)
    names = list(lines.expected(0))
    rows = silver.where(F.col("aircraft_id").isin(sample)).select(*names).collect()
    by_id = {r["aircraft_id"]: r.asDict() for r in rows}
    for i in sample:
        want = lines.expected(i)
        have = by_id.get(i)
        run.check(have == want, f"line {i}: silver {have} != sent {want}")
    return int(len(ids))


def _parse_rate(run) -> float:
    """``parse_lines`` -> ``silver`` over lines already materialized,
    noop sink, median of three: rows per second."""
    import gen
    from dump1090_stream_parser_spark.sources.sbs1 import parse_lines, silver

    path = run.path("parse_lines.txt")
    with open(path, "wb") as fh:
        fh.write(gen.Lines(run.args.seed).text(range(PARSE_BENCH_LINES)))
    df = run.spark.read.text(path).repartition(4).cache()
    df.count()
    times = []
    for _ in range(3):
        t = time.perf_counter()
        silver(parse_lines(df)).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    df.unpersist()
    return PARSE_BENCH_LINES / statistics.median(times)
