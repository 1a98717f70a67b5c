#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_tiles --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. One process drives the
load as a closed loop with one client (this driver) on local[nproc]: it
starts Spark, builds the workload's inputs from the seed, computes the
output oracles, warms up, then runs timed iterations for ``--seconds``
(at least one) and checks every output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates an
untraced iteration (Spark's counters only) with a traced one (layer spans,
materialized boundaries) and prints the per-layer metrics, including the
tracing overhead against the untraced iterations.

Stdout ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. The line before it is the run record (host, seed, calibration,
every operation and, when traced, every span).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "pages_tiles": ("pages_tiles", "PagesTiles"),
    "pbf_to_json": ("pbf_to_json", "PbfToJson"),
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "items/s",
    "peak_rss_mb": "MB",
    "success_rate": "fraction",
}

_SESSION = {
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.task_run_s": "s", "session.task_cpu_s": "s", "session.gc_s": "s",
    "session.core_util": "fraction", "session.shuffle_write_mb": "MB",
    "session.shuffle_fetch_wait_s": "s", "session.spill_mb": "MB",
    "session.start_s": "s", "session.heap_peak_mb": "MB",
}
_LAYERS = {
    "pages.generate_s": "s", "pages.geocode_s": "s", "pages.geocoded_rows": "count",
    "cells.encode_s": "s",
    "spatial.pip_s": "s", "spatial.pip.cover_cells": "count",
    "spatial.pip.candidates": "count", "spatial.pip.interior_frac": "fraction",
    "spatial.pip.precision": "fraction", "spatial.tile_agg_s": "s",
    "spatial.knn_s": "s", "spatial.knn.jobs": "count", "raster.rasterize_s": "s",
    "pbf.blob_index_s": "s", "pbf.blobs": "count", "pbf.decode_s": "s",
    "pbf.decode.python_s": "s", "pbf.entities": "count",
    "dsl.match_frac": "fraction", "denorm.join_s": "s", "denorm.refs": "count",
    "denorm.complete_frac": "fraction", "denorm.centroid.python_s": "s",
    "relations.resolve_s": "s", "relations.jobs": "count",
    "enrich.dictionary_s": "s",
    "engine.plan_s": "s", "engine.plan_jobs": "count", "engine.write_s": "s",
    "engine.out_rows": "count",
}
_TRACE = {
    "trace.overhead_frac": "fraction", "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s", "ops.samples": "count",
}
PER_LAYER = {**_SESSION, **_LAYERS, **_TRACE}

CALIBRATION_ROWS = 10_000_000
# the driver heap get_spark asks for (pbf2json_spark/session.py)
DRIVER_HEAP = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_spark(app: str, workdir: str):
    from pbf2json_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    master = f"local[{_nproc()}]"
    spark = get_spark(app, master=master, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # every file Spark writes stays inside the working directory
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # -Xms at the session's own heap size: G1 otherwise grows the heap
        # with GC timing, and the JVM's peak RSS varied by ~25% between runs
        # of one input
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    if spark.conf.get("spark.driver.memory") != DRIVER_HEAP:
        raise RuntimeError("the session's driver heap is not the one -Xms pins")
    spark.range(1).count()
    return spark, master


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it forked."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    forked = harness.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = forked
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def calibration_s(spark) -> float:
    """Engine-free host probe: bench.py's xxhash64 chain over range().
    Recorded as context; never used to normalize a metric."""
    from pyspark.sql import functions as F

    def plan():
        x = F.col("id")
        for i in range(8):
            x = F.xxhash64(x, F.lit(i))
        return spark.range(0, CALIBRATION_ROWS, 1, 16).select(F.sum(F.pmod(x, F.lit(1000))))

    t0 = time.perf_counter()
    plan().collect()
    return time.perf_counter() - t0


def _measure(wl, spark, seconds: float, trace: bool):
    from tracing import NullTracer, Tracer, heap_peak_mb, reset_heap_peak

    plain, counted, traced = [], [], []
    t0 = time.perf_counter()
    while True:
        if trace:
            tr = Tracer(spark, materialize_outputs=False)
            reset_heap_peak(spark)
            with tr.span("iteration"):
                ops = wl.iterate(tr)
            tr.heap_peak_mb = heap_peak_mb(spark)
            tr.collect_counters()
            counted.append((tr, ops))
            tr2 = Tracer(spark, materialize_outputs=True)
            t = time.perf_counter()
            ops2 = wl.traced(tr2)
            wall2 = time.perf_counter() - t
            ops2 += wl.probe(tr2)
            tr2.collect_counters()
            traced.append((tr2, ops2, wall2))
        else:
            plain.append(wl.iterate(NullTracer()))
        if time.perf_counter() - t0 >= seconds:
            return plain, counted, traced


def _wall(ops) -> float:
    return sum(o.seconds for o in ops)


def end_to_end(wl, plain, setup_s: float, rss_mb: float, attempted: int, failed: int):
    wall = harness.median([_wall(ops) for ops in plain])
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "items_per_s": wl.items_per_iteration / wall,
        "peak_rss_mb": rss_mb,
        "success_rate": (attempted - failed) / attempted,
    }


def per_layer(wl, counted, traced, start_s: float, cores: int):
    median = harness.median
    out = dict.fromkeys(PER_LAYER, 0.0)
    walls = [_wall(ops) for _tr, ops in counted]
    totals = [tr.totals() for tr, _ops in counted]
    for key in totals[0]:
        out[f"session.{key}"] = median([t[key] for t in totals])
    out["session.core_util"] = median(
        [t["task_run_s"] / (w * cores) for t, w in zip(totals, walls)])
    out["session.start_s"] = start_s
    out["session.heap_peak_mb"] = median([tr.heap_peak_mb for tr, _ops in counted])
    out.update(wl.layer_metrics(traced[-1][0], [tr for tr, _ops in counted]))
    untraced = median(walls)
    traced_wall = median([w for _tr, _ops, w in traced])
    out["trace.untraced_wall_s"] = untraced
    out["trace.traced_wall_s"] = traced_wall
    out["trace.overhead_frac"] = traced_wall / untraced - 1.0
    out["ops.samples"] = float(sum(len(ops) for _tr, ops in counted))
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    # the program under test and its fixture generator (tools/make_pbf.py);
    # the benchmark's own directory stays first on the path
    for p in (os.path.join(ROOT, "tools"), ROOT):
        if p not in sys.path:
            sys.path.insert(1, p)
    module, cls_name = WORKLOADS[args.workload]
    try:
        cls = getattr(importlib.import_module(module), cls_name)
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    workroot = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(workroot, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir
    spark = None
    try:
        spark, master = start_spark(f"perfbench-{args.workload}", workdir)
        start_s = time.perf_counter() - t_start
        wl = cls(spark, args.seed, workdir)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        t = time.perf_counter()
        plain, counted, traced = _measure(wl, spark, args.seconds, bool(args.trace))
        wl.phases["measure"] = time.perf_counter() - t
        calib = calibration_s(spark)
        rss = harness.peak_rss_by_process()
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(workroot)  # only when no other run is using it
    wl.phases["stop"] = time.perf_counter() - t

    all_ops = wl.warmup_ops + [
        o for ops in plain + [c[1] for c in counted] + [t[1] for t in traced] for o in ops
    ]
    attempted, failed = len(all_ops), sum(not o.ok for o in all_ops)
    if args.trace:
        values = per_layer(wl, counted, traced, start_s, _nproc())
        units = PER_LAYER
    else:
        values = end_to_end(
            wl, plain, setup_s, sum(mb for *_, mb in rss), attempted, failed)
        units = END_TO_END
    timed = [o.seconds for ops in plain for o in ops]
    tail = harness.tail_percentile(len(timed))
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "host": harness.host_record(ROOT, master, args.seed),
        "calibration_s": calib,
        "session_start_s": start_s,
        "setup_s": setup_s,
        "phases": wl.phases,
        "peak_rss_mb": [[comm, mb] for _pid, comm, mb in rss],
        "tail": {"percentile": tail,
                 "s": harness.percentile(timed, tail) if tail else None,
                 "samples": len(timed)},
        "ops": [[o.name, o.seconds, o.ok] for o in all_ops],
        "spans": [
            {k: v for k, v in rec.items() if k != "group"}
            for tr, *_ in counted + traced for rec in tr.spans
        ],
    }
    print(json.dumps({"record": record}))
    for name, v in values.items():
        print(f"{name:32s} {v:14.6g} {units[name]}", file=sys.stderr)
    result = harness.summary(
        attempted, failed, {k: (v, units[k]) for k, v in values.items()})
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
