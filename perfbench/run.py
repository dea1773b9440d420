#!/usr/bin/env python3
"""Benchmark of the spark-locus engine: one workload per run.

    python3 perfbench/run.py --workload range_join --seed 1 --seconds 10 --trace 0

Run from the repository root.  One Python process runs Spark at
``local[N]`` with N = the cores this process may use, and one closed-loop
client: the next operation starts only after the previous one has finished
and been checked.  Setup (session start, seeded input generation, grids and
one warm-up cycle of every operation type) is timed as ``setup_s``; then
whole cycles of operations run until ``--seconds`` of operation wall have
passed.  Every operation is checked outside its timed window against a
numpy brute-force answer.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the timed loop once untraced and
once traced and reports the per-layer metrics (see README.md).  The exit
code is non-zero when any operation failed or the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
#: per-run scratch space inside the checkout: inputs, checkpoints, Spark's
#: local dirs, warehouse and temp files.  Wiped at the start of every run.
RUN_DIR = ROOT / ".perfbench_run"
#: explicit Spark heap: the engine's default (24g) exceeds small hosts
DRIVER_MEMORY = "1536m"

#: operation kind -> the throughput metric it counts toward
KIND_METRIC = {
    "build": "build_rows_per_s",
    "upsert": "upsert_rows_per_s",
    "box": "range_probes_per_s",
    "ball": "range_probes_per_s",
    "subsets": "range_probes_per_s",
    "supersets": "range_probes_per_s",
    "overlaps": "range_probes_per_s",
    "point_knn": "knn_probes_per_s",
    "segment_knn": "knn_probes_per_s",
}
RANGE_KINDS = {"box", "ball", "subsets", "supersets", "overlaps"}
KNN_KINDS = {"point_knn", "segment_knn"}

#: per-layer seconds: metric -> span name (mean seconds per call)
LAYER_SPANS = {
    "session.start_s": "session.start",
    "cells.grid_s": "cells.grid",
    "extract.s": "extract",
    "geocode.s": "geocode",
    "cells.cluster_s": "cells.cluster",
    "checkpoint.write_s": "checkpoint.write",
    "checkpoint.resume_s": "checkpoint.resume",
    "maintenance.delta_s": "maintenance.delta",
    "maintenance.upsert_s": "maintenance.upsert",
    "maintenance.compact_s": "maintenance.compact",
    "points.box_s": "points.box",
    "points.ball_s": "points.ball",
    "boxes.subsets_s": "boxes.subsets",
    "boxes.supersets_s": "boxes.supersets",
    "boxes.overlaps_s": "boxes.overlaps",
    "points.knn_s": "points.knn",
    "segments.knn_s": "segments.knn",
}
#: per-layer counters a span carries: metric -> span attribute (mean)
LAYER_ATTRS = {
    "skew.hot_cells": "hot_cells",
    "skew.max_part_ratio": "max_part_ratio",
    "checkpoint.write_mb": "write_mb",
    "maintenance.touched_share": "touched_share",
}
UNITS = {
    "setup_s": "s", "items_per_s": "items/s", "peak_rss_mb": "MB",
    "skew.hot_cells": "count", "skew.max_part_ratio": "ratio",
    "checkpoint.write_mb": "MB", "maintenance.touched_share": "ratio",
    "range.tasks_per_op": "count", "range.shuffle_mb_per_op": "MB",
    "knn.jobs_per_op": "count", "knn.stages_per_op": "count", "knn.cpu_util": "ratio",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "build_rows_per_s": "rows/s", "upsert_rows_per_s": "rows/s",
    "range_probes_per_s": "probes/s", "knn_probes_per_s": "probes/s",
    "trace.overhead_share": "ratio", "python.workers_peak_mb": "MB",
    **{m: "s" for m in LAYER_SPANS},
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate() -> None:
    """Give this run a fresh scratch dir and point every place Spark and
    Python write temporary files into it, before the JVM starts."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (RUN_DIR / d).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "local")
    # few malloc arenas (the Hadoop default is 4): with one arena per thread
    # the JVM's native memory, and so its resident set, depends on thread
    # timing
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["TMPDIR"] = str(RUN_DIR / "tmp")
    tempfile.tempdir = str(RUN_DIR / "tmp")


def start_spark(parts: int):
    from locus_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=parts,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(RUN_DIR / "local"),
            "spark.sql.warehouse.dir": str(RUN_DIR / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: a heap that grows on demand makes the peak
            # resident memory depend on when the collector ran
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={RUN_DIR / 'tmp'}",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    from spans import process_tree

    proc = SparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in tree[1:]:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Loop:
    """Runs operations, times them, checks them, and counts failures."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.next_op = 0

    def run_op(self, op, check: bool = True) -> float | None:
        """Run one operation and, if ``check``, check its output; returns its
        timed wall, or None if it failed."""
        self.attempted += 1
        self.next_op += 1
        # collect the JVM heap before every operation, outside its timed
        # window, so no operation pays for the previous one's garbage
        self.spark.sparkContext._jvm.System.gc()
        try:
            t0 = time.perf_counter()
            with self.tracer.span(f"op.{op.kind}", op=self.next_op):
                verify = op.run(self.next_op)
            wall = time.perf_counter() - t0
            t1 = time.perf_counter()
            verify(check)
            print(f"perfbench: op {self.next_op} {op.kind}: {wall:.3f} s, "
                  f"check {time.perf_counter() - t1:.3f} s", file=sys.stderr)
            return wall
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def window(self, wl, seconds: float) -> list[tuple[str, int, float]]:
        """Whole cycles until ``seconds`` of operation wall have passed.
        Returns ``(kind, items, wall)`` per successful operation."""
        done: list[tuple[str, int, float]] = []
        spent = 0.0
        while spent < seconds:
            for op in wl.cycle():
                wall = self.run_op(op)
                if wall is not None:
                    done.append((op.kind, op.items, wall))
                    spent += wall
            wl.end_cycle()
            if self.failed:
                break
        return done


def throughput(done) -> float:
    return sum(i for _, i, _ in done) / sum(w for _, _, w in done)


def layer_metrics(spans, setup_spans, done, traced_done) -> dict[str, float]:
    """Per-layer metrics from the traced window's spans; a layer that only
    runs in setup (the prebuilt layout of the read workloads) is taken from
    the traced setup spans instead.  A layer the workload never calls is 0."""
    def pick(pred):
        got = [s for s in spans if pred(s)]
        return got or [s for s in setup_spans if pred(s)]

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    out: dict[str, float] = {}
    for metric, name in LAYER_SPANS.items():
        out[metric] = mean([s["end"] - s["start"] for s in pick(lambda s: s["name"] == name)])
    for metric, key in LAYER_ATTRS.items():
        out[metric] = mean([s[key] for s in pick(lambda s: key in s)])

    ops: dict[int, dict] = {}
    for s in spans:
        if s["op"] is None:
            continue
        agg = ops.setdefault(s["op"], {"kind": None, "wall": 0.0})
        if s["name"].startswith("op."):
            agg["kind"] = s["name"][3:]
            agg["wall"] = s["end"] - s["start"]
        for k in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "spill_mb",
                  "shuffle_read_mb", "shuffle_write_mb"):
            agg[k] = agg.get(k, 0.0) + s[k]
    every = list(ops.values())
    rng = [o for o in every if o["kind"] in RANGE_KINDS]
    knn = [o for o in every if o["kind"] in KNN_KINDS]
    out["range.tasks_per_op"] = mean([o["tasks"] for o in rng])
    out["range.shuffle_mb_per_op"] = mean(
        [o["shuffle_read_mb"] + o["shuffle_write_mb"] for o in rng]
    )
    out["knn.jobs_per_op"] = mean([o["jobs"] for o in knn])
    out["knn.stages_per_op"] = mean([o["stages"] for o in knn])
    knn_wall = sum(o["wall"] for o in knn)
    out["knn.cpu_util"] = (
        sum(o["cpu_s"] for o in knn) / (knn_wall * cores()) if knn_wall else 0.0
    )
    out["spark.executor_cpu_s"] = mean([o["cpu_s"] for o in every])
    out["spark.gc_s"] = mean([o["gc_s"] for o in every])
    out["spark.spill_mb"] = mean([o["spill_mb"] for o in every])
    out["spark.shuffle_read_mb"] = mean([o["shuffle_read_mb"] for o in every])
    out["spark.shuffle_write_mb"] = mean([o["shuffle_write_mb"] for o in every])

    for metric in sorted(set(KIND_METRIC.values())):
        mine = [d for d in done if KIND_METRIC[d[0]] == metric]
        out[metric] = throughput(mine) if mine else 0.0
    out["trace.overhead_share"] = 1.0 - throughput(traced_done) / throughput(done)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the self-test only")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    try:
        import locus_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import numpy as np

    import workloads
    from spans import Tracer, WorkerRssSampler, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    size = workloads.SIZES[args.size]
    isolate()

    t_setup = time.perf_counter()
    spark = start_spark(workloads.shuffle_partitions(max(size.values())))
    session_s = time.perf_counter() - t_setup
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    # the sampler scans /proc every 0.2 s; only the traced run reports it
    workers_rss = WorkerRssSampler(jvm)
    if args.trace:
        workers_rss.start()
    tracer = Tracer(spark)
    tracer.enabled = bool(args.trace)
    tracer.spans.append({
        "id": 0, "name": "session.start", "parent": None, "op": None,
        "start": 0.0, "end": session_s,
    })
    wl = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Ctx(
        spark=spark, tracer=tracer, rng=np.random.default_rng(args.seed),
        seed=args.seed, dir=RUN_DIR, size=size,
    )
    loop = Loop(spark, tracer)
    try:
        wl.setup(ctx)
        print(f"perfbench: session {session_s:.1f} s, inputs and grids "
              f"{time.perf_counter() - t_setup - session_s:.1f} s", file=sys.stderr)
        # warm-up: the first operation of each type runs 1.3-2.5x slower
        # (codegen, JIT, Python worker start).  A traced run adds a traced
        # warm-up cycle, so the traced plan shapes are warm too.  Warm-up
        # operations are not timed, so their outputs are not checked; one
        # that raises still fails the run.
        for on in (False, True)[: 1 + args.trace]:
            tracer.enabled = on
            for op in wl.cycle():
                loop.run_op(op, check=False)
            wl.end_cycle()
        tracer.enabled = False
        setup_s = time.perf_counter() - t_setup
        setup_spans = list(tracer.spans)

        done = loop.window(wl, args.seconds) if not loop.failed else []
        metrics: dict[str, float] = {}
        if args.trace:
            if done and not loop.failed:
                tracer.spans.clear()
                tracer.enabled = True
                traced = loop.window(wl, args.seconds)
                tracer.enabled = False
                if traced and not loop.failed:
                    metrics = layer_metrics(tracer.spans, setup_spans, done, traced)
                    metrics["python.workers_peak_mb"] = workers_rss.peak_mb
                tracer.spans[:0] = setup_spans
                tracer.dump(RUN_DIR / f"spans-{args.workload}-{args.seed}.json")
        elif done:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": throughput(done),
            }
        if metrics and not args.trace:
            metrics["peak_rss_mb"] = peak_rss_mb(jvm)
    finally:
        workers_rss.stop()
        stop_spark(spark)
    ok = loop.failed == 0 and bool(metrics)
    result = {
        "correct": ok,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
