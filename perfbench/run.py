"""Benchmark entry point.

    python3 perfbench/run.py --workload spatial_kernels --seed 1 --seconds 40 --trace 0

Runs one workload from a single driver process as a closed loop with one
client: a pass starts when the previous pass and its output check have
finished, until ``--seconds`` of timed passes have run. A pass is spread
over nproc worker processes, one task at a time each, as Spark's local[nproc]
hands tasks to its Python workers. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A run record with every pass's time, CPU
seconds, load average and steal %, and (traced) every span, goes to
``.perfbench/out/`` under the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARM_PASSES = 3
SETUPS = 3
MIN_PASSES = 3

E2E_UNITS = {"setup_s": "s", "job_s": "s", "rows_per_s": "rows/s",
             "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s", "session.worker_warm_s": "s",
    "iceberg_layout.write_s": "s", "iceberg_layout.scan_s": "s",
    "iceberg_layout.scan_bytes": "bytes", "cells.tile_assign_s": "s",
    "spatial.cover_rows": "count", "spatial.candidate_pairs": "count",
    "spatial.refine_keep_ratio": "ratio", "spatial.join_s": "s",
    "geom.pip_tests": "count", "spatial.partition_skew": "ratio",
    "spatial.salt_s": "s", "spatial.skew_join_s": "s",
    "spatial.skew_candidate_pairs": "count",
    "spatial.skew_partition_skew": "ratio", "spatial.knn_s": "s",
    "spatial.knn_certified_ratio": "ratio",
    "spatial.knn_repair_points": "count",
    "ingest.read_points_s": "s", "ingest.read_shapefiles_s": "s",
    "ingest.records": "count", "lineage.write_s": "s",
    "lineage.buckets": "count", "lineage.bytes_written_per_input_byte": "ratio",
    "lineage.resume_buckets_redone": "count",
    "lineage.resume_buckets_skipped": "count", "resume_s": "s",
    "clip.decode_s": "s", "clip.clip_s": "s", "clip.pixels_tested": "count",
    "clip.phash_verify_s": "s", "clip.phash_mismatch": "count",
    "scale_eff": "ratio", "trace.overhead_ratio": "ratio",
    "fence_join.job_s": "s",
    "cells.kernel_mrows_per_s": "Mrows/s",
    "geom.crossings_mtests_per_s": "Mtests/s",
    "shp.parse_points_mb_per_s": "MB/s", "shp.parse_polygons_mb_per_s": "MB/s",
    "codecs.decode_mpx_per_s": "Mpx/s",
}


def process_start_s() -> float:
    """CLOCK_BOOTTIME reading at which this process started: its start
    time in /proc/self/stat counts clock ticks since boot on that clock.
    Set-up time therefore includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def box() -> tuple[int, str]:
    """(cores this process may use, driver heap). The heap is a quarter of
    RAM, capped at 1 GiB: the workloads' working sets stay well under it,
    and a larger heap only adds resident memory whose growth depends on GC
    timing, which makes peak RSS noisy."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal"))
    return cpus, f"{max(256, min(1024, kb // 4096))}m"


def configure_env(work: str, heap: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the Python workers import the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_SHP_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def warm_python_workers(spark, cpus: int) -> None:
    """Fork and import cost of the reusable Python workers, paid once."""
    def ident(batches):
        yield from batches
    df = spark.range(0, 10_000, numPartitions=4 * cpus)
    df.mapInPandas(ident, df.schema).count()


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    except Exception:
        # a signal that cut a gateway call leaves the gateway unusable;
        # the JVM is still ended below
        traceback.print_exc()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()     # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    t_start = process_start_s()
    sys.path.insert(0, ROOT)
    from spark_shp.session import get_spark

    from perfbench import kernels
    from perfbench.pool import TaskPool, remove_at_exit, start_server
    from perfbench.trace import HostWindow, PeakRss, Tracer, reap_descendants
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cpus, heap = box()
    work = os.path.join(os.getcwd(), ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, heap)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(bool(args.trace), run_id)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), cpus)
    layer: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
    passes, failures = [], []

    def checked_pass(timed: bool):
        with HostWindow() as hw:
            t0 = time.perf_counter()
            try:
                done = pool.map(wl.tasks())
                err = None
            except Exception:
                done, err = None, traceback.format_exc()
            dt = time.perf_counter() - t0
        if err is None:
            for task, _, start, end in done:
                tracer.add(task[0], start, end)
            err = wl.check({task: out for task, out, _, _ in done})
        if err:
            failures.append(err)
            print(f"# pass failed: {err}", file=sys.stderr)
        passes.append({"timed": timed, "s": dt, "ok": err is None,
                       "traced": tracer.enabled, "load1": hw.load1,
                       "steal_pct": hw.steal_pct, "cpu_s": hw.cpu_s})

    def start_session():
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            session = get_spark(f"perfbench_{args.workload}", cpus=cpus)
            session.sparkContext.setLogLevel("ERROR")
        layer["session.start_s"] = time.perf_counter() - t0
        return session

    spark = pool = None
    try:
        with PeakRss() as rss:
            # interpreter start, imports and the pass workers' fork server,
            # then SETUPS rounds of input generation, references, starting
            # the pass workers and warm-up; setup_s is the start-up time
            # plus the median round. A traced run does not report setup_s
            # and sets up once, leaving its time to the Spark layers.
            start_server()
            started_s = time.clock_gettime(time.CLOCK_BOOTTIME) - t_start
            rounds = []
            for _ in range(1 if args.trace else SETUPS):
                if pool is not None:
                    pool.close()
                t0 = time.perf_counter()
                with tracer.span("setup"):
                    info = wl.setup(tracer)
                    pool = TaskPool(wl, cpus)
                with tracer.span("warmup"):
                    for _ in range(WARM_PASSES):
                        checked_pass(timed=False)
                rounds.append(time.perf_counter() - t0)
            setup_s = started_s + statistics.median(rounds)

            t_loop = time.perf_counter()
            i = 0
            while (time.perf_counter() - t_loop < args.seconds
                   or i < MIN_PASSES):
                # a traced run interleaves traced and untraced passes in
                # ABBA order (cancelling a linear warm-up trend), so the
                # tracing overhead is measured inside one run
                tracer.enabled = bool(args.trace) and i % 4 in (0, 3)
                with tracer.span("pass"):
                    checked_pass(timed=True)
                i += 1
            tracer.enabled = bool(args.trace)
            pool.close()
            pool = None
            timed = [p["s"] for p in passes if p["timed"]]
            job_s = statistics.median(timed)
            if args.trace:
                traced = [p["s"] for p in passes if p["timed"] and p["traced"]]
                plain = [p["s"] for p in passes
                         if p["timed"] and not p["traced"]]
                layer["trace.overhead_ratio"] = (statistics.median(traced)
                                                 / statistics.median(plain))
                with tracer.span("kernels"):
                    layer.update(kernels.probe(args.seed))
                spark = start_session()
                t0 = time.perf_counter()
                with tracer.span("session.worker_warm"):
                    warm_python_workers(spark, cpus)
                layer["session.worker_warm_s"] = time.perf_counter() - t0
                with tracer.span("layers"):
                    layer.update(wl.layers(spark, tracer))
                for k, v in layer.items():
                    if LAYER_UNITS[k] != "s":
                        tracer.count(k, v)
                for err in wl.layer_failures:
                    failures.append(err)
                    print(f"# layer check failed: {err}", file=sys.stderr)
                if hasattr(wl, "scale_setup"):
                    with tracer.span("scale"):
                        layer["scale_eff"] = weak_scaling(wl, spark,
                                                          get_spark)
                    spark = None
    finally:
        try:
            if pool is not None:
                pool.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            reap_descendants()
            remove_at_exit(work)

    q1, q2, q3 = statistics.quantiles(timed, n=4)
    e2e = {"setup_s": setup_s, "job_s": job_s,
           "rows_per_s": wl.rows / job_s, "peak_rss_mb": rss.peak_mb}
    record = {
        "run": run_id, "workload": args.workload, "seed": args.seed,
        "cpus": cpus, "driver_heap": heap,
        "input_checksum": info["input_checksum"],
        "input_rows": wl.rows, "started_s": started_s, "setup_rounds_s": rounds,
        "job_s_quartiles": [q1, q2, q3],
        "timed_passes": len(timed), "passes": passes,
        "failures": failures, "end_to_end": e2e, "per_layer": layer}
    out_dir = os.path.join(os.getcwd(), ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(out_dir, run_id + ".trace.json"))

    print(f"# {args.workload} seed={args.seed} cpus={cpus} heap={heap} "
          f"input={info['input_checksum']} rows={wl.rows}")
    print(f"# job_s median={q2:.4f} q1={q1:.4f} q3={q3:.4f} n={len(timed)}; "
          f"cpu_s median={statistics.median(p['cpu_s'] for p in passes if p['timed']):.4f}; "
          f"load1 median={statistics.median(p['load1'] for p in passes):.2f}; "
          f"steal% max={max(p['steal_pct'] for p in passes):.2f}")
    attempted = len(passes) + wl.layer_checks
    print(f"# failed_ops={len(failures)}/{attempted} "
          f"({len(failures) / attempted:.4f})")
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g} {E2E_UNITS[k]}")
    if args.trace:
        for k, v in layer.items():
            print(f"# {k} = {v:.6g} {LAYER_UNITS[k]}")
    metrics = ({k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
               if args.trace else
               {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()})
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": metrics}


def weak_scaling(wl, spark, get_spark) -> float:
    """T(local[1], N/nproc) / T(local[nproc], N): the same query on 1/nproc
    of the rows with one core, in the same JVM (context restart), so JIT
    warmth is shared by both widths."""
    root = wl.scale_setup(spark)
    spark.stop()
    one = get_spark("perfbench_scale", cpus=1)
    one.sparkContext.setLogLevel("ERROR")
    try:
        wl.scale_pass(one, root)          # new context: first pass is cold
        t1 = wl.scale_pass(one, root)
    finally:
        stop_spark(one)
    return t1 / wl.scale_base_s


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # on SIGTERM unwind through run()'s cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
