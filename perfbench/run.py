"""Benchmark of the engine's two users: SBS-1 ingest and the query surface.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``queries``: one client runs a fixed set of registry queries over
  generated tables, one at a time, each into the noop sink;
- ``ingest_drain``: a preloaded SBS-1 backlog on 2 TCP connections,
  drained (after two untimed warm-up drains) three times through
  ``bronze_from_sbs1_jvm`` -> ``silver_stream`` -> ``silver_batch_writer``.

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (spans are also written under ``.perfbench_work/``). The line
before it is a detail object with the run environment and every
workload-specific figure. Exit status is non-zero, with no result
line, when the engine cannot be found or a run cannot complete.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
JAR = os.path.join(ROOT, "java", "sbs1-jvm-source.jar")
PACKAGE = os.path.join(ROOT, "dump1090_stream_parser_spark")

#: Sized for a 4-core, 15 GB box: every run uses the same master and heap.
CORES = 4
DRIVER_MEM = "3g"
SHUFFLE_PARTITIONS = 2 * CORES
CODEGEN_CACHE = 2000
WORKLOADS = ("queries", "ingest_drain")

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit; a
    layer a workload does not exercise reports 0."""
    from meter import SPARK_COUNTERS
    from queries import MODULES

    units = {}
    for mod in MODULES:
        units[f"operators.{mod}.build_s"] = "s"
        units[f"operators.{mod}.exec_s"] = "s"
        units[f"operators.{mod}.executor_run_ms"] = "ms"
        units[f"operators.{mod}.shuffle_write_bytes"] = "bytes"
    for k in SPARK_COUNTERS:
        units[f"spark.{k}"] = counter_unit(k)
    units.update(
        {
            "sources.sbs1.parse_rows_per_s": "1/s",
            "sources.sbs1.dead_letter_rows": "count",
            "sources.sbs1_jvm.latest_offset_ms": "ms",
            "streaming.query_planning_ms": "ms",
            "streaming.wal_commit_ms": "ms",
            "streaming.commit_offsets_ms": "ms",
            "streaming.add_batch_ms": "ms",
            "streaming.batches": "count",
            "streaming.rows_per_batch": "count",
            "streaming.pipeline.sink_batch_ms": "ms",
            "streaming.pipeline.files_written": "count",
            "streaming.pipeline.bytes_written": "bytes",
            "gen.send_ms": "ms",
            "trace.meter_busy_s": "s",
            "trace.throughput_per_s": "1/s",
        }
    )
    return units


def counter_unit(counter: str) -> str:
    if counter.endswith("_ms"):
        return "ms"
    if counter.endswith("_bytes"):
        return "bytes"
    return "count"


def sha256(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class Run:
    """State shared by one benchmark run: arguments, work directory,
    Spark session, tracer and the figures collected along the way."""

    def __init__(self, args: argparse.Namespace):
        from meter import Tracer

        self.args = args
        self.started = time.perf_counter()
        self.dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.meter = None
        self.detail: dict = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self, modules: tuple[str, ...], extra_conf=None) -> float:
        """Import the engine ``modules`` and start the session the way a
        user of the engine would, sized for this box; returns the seconds
        it took. ``extra_conf`` is a callable returning more session conf."""
        t = time.perf_counter()
        for name in modules:
            importlib.import_module(name)
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        from dump1090_stream_parser_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("local"),
            # a fixed-size heap: with the default small initial heap, G1
            # grew it differently run to run and query times followed;
            # touched up front, so that peak RSS does not depend on how
            # much of the heap G1 happened to use before its collections
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(ROOT, "spark-warehouse"),
            # room for every generated class of the query set: at Spark's
            # default of 100 entries the timed set (about 110 classes)
            # evicted itself each pass, so every pass recompiled 55
            # classes and the JIT recompiled their methods
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE),
            **(extra_conf() if extra_conf else {}),
        }
        self.spark = get_spark(
            master=f"local[{CORES}]",
            app_name=f"perfbench-{self.args.workload}",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from meter import StageMeter

            self.meter = StageMeter(self.spark)
        return time.perf_counter() - t

    def snapshot(self) -> dict[str, int] | None:
        return self.meter.snapshot() if self.meter else None

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from meter import jvm_peak_rss_mb

        self.e2e["peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def engine_layouts() -> set[str]:
    """Layout directories the engine has built under the warehouse."""
    base = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(base):
        return set()
    return {
        os.path.join(base, kind, name)
        for kind in os.listdir(base)
        if os.path.isdir(os.path.join(base, kind))
        for name in os.listdir(os.path.join(base, kind))
    }


def remove_new_layouts(before: set[str]) -> None:
    """Delete the layouts this run's generated tables made the engine
    build, so runs do not accumulate them."""
    for path in engine_layouts() - before:
        shutil.rmtree(path, ignore_errors=True)


def environment(args) -> dict:
    return {
        "nproc": os.cpu_count(),
        "master": f"local[{CORES}]",
        "driver_mem": DRIVER_MEM,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "codegen_cache_entries": CODEGEN_CACHE,
        "python": sys.version.split()[0],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE):
        print(
            f"perfbench: engine sources not found under {ROOT}"
            " (run from the repository root of a full checkout)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)

    env = environment(args)
    env["jar_sha256_before"] = sha256(JAR)
    layouts = engine_layouts()
    run = Run(args)
    try:
        if args.workload == "queries":
            from queries import run_queries

            run_queries(run)
        else:
            from ingest import run_ingest

            run_ingest(run)
    except Exception:
        traceback.print_exc()
        try:
            run.stop_spark()
        except Exception:
            traceback.print_exc()
        remove_new_layouts(layouts)
        shutil.rmtree(run.dir, ignore_errors=True)
        return 1
    run.stop_spark()
    remove_new_layouts(layouts)
    env["jar_sha256_after"] = sha256(JAR)
    env["jar_rewritten"] = env["jar_sha256_before"] != env["jar_sha256_after"]

    if args.trace:
        by_name = run.tracer.self_times()
        run.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
        run.detail["self_time_s"] = {k: round(v, 6) for k, v in sorted(by_name.items())}
        run.detail["spans"] = len(run.tracer.spans)
        units = per_layer_units()
        extra = sorted(set(run.layers) - set(units))
        if extra:
            print(f"perfbench: undeclared layer metrics: {extra}", file=sys.stderr)
            return 1
        metrics = {
            k: {"value": run.layers.get(k, (0.0, u))[0], "unit": u}
            for k, u in units.items()
        }
    else:
        missing = set(E2E_UNITS) - set(run.e2e)
        if missing:
            print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
            return 1
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    shutil.rmtree(run.dir, ignore_errors=True)
    detail = {
        "detail": True,
        "environment": env,
        "problems": run.problems[:20],
        "failed_ratio": run.failed / max(run.attempted, 1),
        **run.detail,
    }
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
