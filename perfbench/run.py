#!/usr/bin/env python3
"""Benchmark of pulsar_spark_spark: relational plans and the geotag
rescore stream, end to end, with a per-layer trace.

    python3 perfbench/run.py --workload batch_relational --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
into a per-run directory under ``perfbench/_work`` (removed at exit);
the run prints one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones and
writes the run's spans to ``perfbench/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_relational", "stream_rescore")
# whole sweeps or drains per run, at least: their medians are the
# end-to-end timings, and a fixed count keeps every run measuring the
# same rounds at the same point of the JVM's warm-up. Two, not more:
# 4 + 22 runs per workload must fit in 57 minutes
MIN_ROUNDS = 2


def _metric_units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    now = time.clock_gettime(time.CLOCK_BOOTTIME)
    return now - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Pin the package's knobs for the run before Spark starts: task
    slots = the CPUs this process may use, and every cache, temp and
    local directory inside the run's own directory. Inherited
    SPARK_GRAFT_* overrides are dropped so the default arms run. The
    driver heap is capped at 1 GB, which the heap fills in every run:
    under the package's 8 GB default the JVM's peak RSS followed G1's
    heap growth and ranged 1.5-3.4 GB between runs of one workload."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for sub in ("tmp", "local", "index"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_INDEX_ROOT": os.path.join(work, "index"),
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)


def start_session(work: str):
    from pulsar_spark_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    spark = get_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import duckdb

    import gen
    import spans
    import workloads as wl

    tracer = spans.Tracer(trace)
    layer: dict = {}
    with tracer.span("setup"):
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = start_session(work)
            layer["session.start_s"] = time.perf_counter() - t0
        try:
            data_dir = os.path.join(work, "data")
            t0 = time.perf_counter()
            with tracer.span("sources.stage"):
                rows = gen.write_tables(seed, data_dir)
                if workload == "batch_relational":
                    w = wl.Relational(spark, data_dir, rows, tracer)
                else:
                    w = wl.Stream(spark, work, data_dir, seed, tracer)
            layer["sources.stage_s"] = time.perf_counter() - t0
            if workload == "stream_rescore":
                with tracer.span("session.worker_spawn"):
                    t0 = time.perf_counter()
                    wl.spawn_workers(spark)
                    layer["session.worker_spawn_s"] = time.perf_counter() - t0
                if trace:
                    w.install_upsert_span()
        except BaseException:
            stop_session(spark)
            raise
    setup_s = _process_age_s()
    try:
        with tracer.span("warmup"):
            w.warm_up()
        with tracer.span("timed"):
            t0 = time.perf_counter()
            i = 0
            while i < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
                w.timed(f"t{i}")
                i += 1
        e2e = w.end_to_end()
        with tracer.span("checks"):
            t0 = time.perf_counter()
            con = duckdb.connect()
            failures = w.check(con)
            con.close()
            wl.log(f"checks: {time.perf_counter() - t0:.3f} s, {len(failures)} failed")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = spans.peak_rss_mb([os.getpid(), jvm_pid])
        wl.log(f"peak RSS: python {spans.peak_rss_mb([os.getpid()]):.1f} MB, "
               f"jvm {spans.peak_rss_mb([jvm_pid]):.1f} MB")
        if trace:
            layer.update(w.layer_metrics())
            if workload == "batch_relational":
                with tracer.span("session.worker_spawn"):
                    t0 = time.perf_counter()
                    wl.spawn_workers(spark)
                    layer["session.worker_spawn_s"] = time.perf_counter() - t0
            with tracer.span("probes"):
                layer.update(wl.probe_layers(spark, work, data_dir, seed, tracer))
            layer["trace.sweep_s"] = e2e["sweep_s"]
            layer["trace.op_p50_s"] = e2e["op_p50_s"]
    finally:
        stop_session(spark)
    for msg in failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    if trace:
        units = _metric_units("per_layer")
        tracer.write(os.path.join(
            HERE, "traces", f"{workload}-seed{seed}-{os.getpid()}.json"))
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
    else:
        values = dict(e2e, setup_s=setup_s, peak_rss_mb=rss)
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in _metric_units("end_to_end").items()}
    return {
        "correct": not failures,
        "attempted": e2e["ops"],
        "failed": w.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(
        HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        prepare_env(work)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
