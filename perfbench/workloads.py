"""The two workloads and the traced run's direct layer probes.

Both workloads are closed loops from one process: one query or one
trigger at a time, the next starting when the previous one finished.
Every timing here is wall time (``time.perf_counter``).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from datetime import datetime

import checks
import gen
import spans

# pure Catalyst/JVM plans: no Python worker runs in this workload
RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "latest_event_per_user_type",
    "user_sessions",
    "events_asof_join",
    "purchase_click_attribution",
    "event_rollup_multires",
)
# the tables each query reads, for rows_per_s
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_region_revenue": (
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    ),
}
EVENT_TABLES = ("events",)

POINT_SCHEMA = (
    "user_id long, event_id long, ts_ms long, lat double, lng double, "
    "accuracy double"
)
DRAIN_TIMEOUT_S = 120
STREAM_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "get_batch_s": "getBatch",
    "latest_offset_s": "latestOffset",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}
PLAN_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def stage_points(spark, data_dir: str):
    """The stream's input as an Arrow table in event_id order: the
    package's own geo derivation of the staged events table
    (``plans.geo.geo_events``, as ``bench.py`` stages the rescore
    stream), first POINT_FILES x POINTS_PER_FILE events."""
    from pyspark.sql import functions as F

    from pulsar_spark_spark.functions.time import ts_millis
    from pulsar_spark_spark.plans.geo import geo_events

    n = gen.POINT_FILES * gen.POINTS_PER_FILE
    return (
        geo_events(spark, data_dir)
        .select("user_id", "event_id", ts_millis("ts").alias("ts_ms"),
                "lat", "lng", "accuracy")
        .where(F.col("event_id") < n)
        .toArrow()
        .sort_by("event_id")
    )


def spawn_workers(spark) -> None:
    """Ship the package to the executors and start one Python worker
    per task slot (pandas, pyarrow and the kernels imported)."""
    from pulsar_spark_spark.operators.shipping import ensure_package_on_executors

    ensure_package_on_executors(spark)
    n = spark.sparkContext.defaultParallelism

    def warm(batches):
        import pulsar_spark_spark.operators.geo_kernels  # noqa: F401

        yield from batches

    spark.range(n * 4).repartition(n).mapInPandas(warm, "id long").collect()


# --------------------------------------------------------------------
# batch_relational


class Relational:
    def __init__(self, spark, data_dir: str, rows: dict, tracer) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.input_rows = sum(
            rows[t]
            for q in RELATIONAL
            for t in QUERY_TABLES.get(q, EVENT_TABLES)
        )
        self.first: dict | None = None  # warm-up sweep: (cols, rows) per query
        self.repeats: list[dict] = []  # timed sweeps: rows_hash per query
        self.sweep_s: list[float] = []
        self.op_s: list[float] = []
        self.layers: list[dict] = []  # traced: per-sweep layer counters
        self.failed = 0

    def sweep(self, tag: str) -> dict:
        """Build and collect every query once; returns (columns, rows)
        per query. The sweep's time is the sum of its queries' build +
        collect + cache-clear intervals."""
        from pulsar_spark_spark.plans import QUERIES

        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        out, frames, ops = {}, {}, {}
        with tr.span("sweep", op=tag):
            for name in RELATIONAL:
                if tr.enabled:
                    sc.setJobGroup(f"{tag}:{name}:build", name)
                with tr.span(f"plans.{name}", op=tag):
                    t0 = time.perf_counter()
                    with tr.span("plans.build", op=tag):
                        df = QUERIES[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    if tr.enabled:
                        sc.setJobGroup(f"{tag}:{name}:exec", name)
                    with tr.span("plans.collect", op=tag):
                        rows = df.collect()
                    spark.catalog.clearCache()
                    t2 = time.perf_counter()
                ops[name] = (t1 - t0, t2 - t0)
                frames[name] = df
                out[name] = (df.columns, [tuple(r) for r in rows])
        if tr.enabled:
            sc.setJobGroup("idle", "")
        self._ops, self._frames = ops, frames
        walls = [wall for _, wall in ops.values()]
        log(f"sweep {tag}: {sum(walls):.3f} s, queries " + " ".join(f"{w:.3f}" for w in walls))
        return out

    def warm_up(self) -> None:
        self.first = self.sweep("warmup")

    def timed(self, tag: str) -> None:
        out = self.sweep(tag)
        self.sweep_s.append(sum(wall for _, wall in self._ops.values()))
        self.op_s.extend(wall for _, wall in self._ops.values())
        self.repeats.append(
            {n: checks.rows_hash(cols, rows) for n, (cols, rows) in out.items()}
        )
        if self.tracer.enabled:
            self.layers.append(self._layer_counters(tag))

    def _layer_counters(self, tag: str) -> dict:
        spans.wait_for_listeners(self.spark)
        c = dict.fromkeys(
            ("build_s", "build_jobs", "optimize_s", "exec_s", "exchanges",
             "scan_mb", *PLAN_COUNTERS), 0.0)
        for name in RELATIONAL:
            build_s, wall = self._ops[name]
            b = spans.group_counters(self.spark, f"{tag}:{name}:build")
            e = spans.group_counters(self.spark, f"{tag}:{name}:exec")
            p = spans.plan_counters(self._frames[name])
            c["build_s"] += build_s
            c["build_jobs"] += b["jobs"]
            c["optimize_s"] += p["optimize_s"]
            c["exec_s"] += wall - build_s - p["optimize_s"]
            c["exchanges"] += p["exchanges"]
            c["scan_mb"] += b["input_mb"] + e["input_mb"]
            for k in PLAN_COUNTERS:
                c[k] += b[k] + e[k]
            c[f"{name}.wall_s"] = wall
            c[f"{name}.build_s"] = build_s
            c[f"{name}.jobs"] = b["jobs"] + e["jobs"]
        return c

    def check(self, con) -> list[str]:
        from pulsar_spark_spark.plans import ORACLES

        checks.duckdb_views(
            con, self.data_dir,
            {t for q in RELATIONAL for t in QUERY_TABLES.get(q, EVENT_TABLES)},
        )
        first_hash = {n: checks.rows_hash(c, r) for n, (c, r) in self.first.items()}
        return checks.check_oracles(self.first, ORACLES, con) + checks.check_repeats(
            first_hash, self.repeats
        )

    def end_to_end(self) -> dict:
        sweep = median(self.sweep_s)
        return {
            "sweep_s": sweep,
            "rows_per_s": median([self.input_rows / s for s in self.sweep_s]),
            "op_p50_s": median(self.op_s),
            "op_p90_s": p90(self.op_s),
            "ops": len(self.op_s),
        }

    def layer_metrics(self) -> dict:
        keys = self.layers[0].keys() if self.layers else ()
        m = {k: median([c[k] for c in self.layers]) for k in keys}
        out = {f"plans.{k}": v for k, v in m.items() if k != "scan_mb"}
        out["sources.scan_mb"] = m.get("scan_mb", 0.0)
        return out


# --------------------------------------------------------------------
# stream_rescore


class Stream:
    def __init__(self, spark, work: str, data_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.in_dir = os.path.join(work, "arrivals")
        self.points = stage_points(spark, data_dir)
        self.files = gen.write_arrival_files(self.points, self.in_dir)
        self.n_drains = 0
        self.drains: list[dict] = []  # timed drains
        self.warm: dict | None = None
        self.upserts: list[tuple[int, float]] = []  # (drain, seconds)
        self._drain_span = None
        self.failed = 0

    def install_upsert_span(self) -> None:
        """Traced run only: time each keyed-upsert call the stream's
        batch function makes (a wrapper on the module attribute the
        pipeline calls through; the package code is unchanged)."""
        from pulsar_spark_spark.streaming import pipeline

        inner = pipeline.upsert_parquet
        tr = self.tracer

        def timed_upsert(*args, **kwargs):
            t0 = time.time()
            try:
                return inner(*args, **kwargs)
            finally:
                t1 = time.time()
                tr.record("sources.upsert", t0, t1, parent=self._drain_span,
                          op=self.n_drains)
                self.upserts.append((self.n_drains, t1 - t0))

        pipeline.upsert_parquet = timed_upsert

    def drain(self) -> dict:
        """Drain every arrival file, one per trigger, from empty state
        and an empty checkpoint."""
        from pulsar_spark_spark.streaming.pipeline import run_geotag_rescore_stream

        spark, k = self.spark, self.n_drains
        state = os.path.join(self.work, f"state-{k}")
        with self.tracer.span("drain", op=k) as sid:
            self._drain_span = sid
            t0 = time.perf_counter()
            src = (
                spark.readStream.schema(POINT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.in_dir)
            )
            q = run_geotag_rescore_stream(
                src, state, os.path.join(self.work, f"ckpt-{k}")
            )
            done = q.awaitTermination(DRAIN_TIMEOUT_S)
            wall = time.perf_counter() - t0
        if not done:
            q.stop()
            raise RuntimeError(f"drain {k} did not finish in {DRAIN_TIMEOUT_S} s")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        log(f"drain {k}: {wall:.3f} s, triggers " + " ".join(
            str(p["durationMs"]["triggerExecution"] / 1e3) for p in progress))
        self.n_drains += 1
        d = {"wall": wall, "state": state, "progress": progress,
             "run_id": str(q.runId), "drain": k}
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"]).timestamp()
            self.tracer.record(
                "streaming.trigger", start,
                start + p["durationMs"]["triggerExecution"] / 1e3,
                parent=sid, op=p["batchId"],
            )
        return d

    def warm_up(self) -> None:
        self.warm = self.drain()

    def timed(self, tag: str) -> None:
        self.drains.append(self.drain())

    def read_state(self, path: str) -> list:
        from pulsar_spark_spark.sources.sinks import read_upsert_table

        rows = read_upsert_table(self.spark, path).select(
            "user_id", "history", "best_lat", "best_lng"
        ).collect()
        return [
            (r["user_id"], [tuple(h) for h in r["history"]], r["best_lat"], r["best_lng"])
            for r in rows
        ]

    def file_rows(self) -> list[int]:
        return [gen.POINTS_PER_FILE] * len(self.files)

    def expected_histories(self) -> dict:
        return checks.expected_histories([
            zip(*self.points.slice(i * gen.POINTS_PER_FILE, gen.POINTS_PER_FILE)
                .to_pydict().values())
            for i in range(len(self.files))
        ])

    def check(self, con) -> list[str]:
        """Runs the checks on the warm-up drain and every timed drain;
        sets ``self.failed`` to the timed triggers that miscounted
        their input rows."""
        from tests.geo_oracle import best_lat_lng_oracle

        con.execute(
            "CREATE OR REPLACE VIEW pts AS SELECT * FROM "
            f"read_parquet('{self.in_dir}/*.parquet')"
        )
        file_rows = self.file_rows()
        expected = self.expected_histories()
        bad = []
        for d in [self.warm, *self.drains]:
            counts = [p["numInputRows"] for p in d["progress"]]
            if d is not self.warm:
                self.failed += len(checks.miscounted_triggers(counts, file_rows))
            got = checks.check_stream(
                counts, file_rows, self.read_state(d["state"]), con, expected,
                best_lat_lng_oracle, self.seed,
            )
            bad += [f"drain {d['drain']}: {m}" for m in got]
        return bad

    def _triggers(self) -> list[float]:
        return [
            p["durationMs"]["triggerExecution"] / 1e3
            for d in self.drains for p in d["progress"]
        ]

    def end_to_end(self) -> dict:
        walls = [d["wall"] for d in self.drains]
        trig = self._triggers()
        return {
            "sweep_s": median(walls),
            "rows_per_s": median([self.points.num_rows / w for w in walls]),
            "op_p50_s": median(trig),
            "op_p90_s": p90(trig),
            "ops": len(trig),
        }

    def layer_metrics(self) -> dict:
        spans.wait_for_listeners(self.spark)
        prog = [p for d in self.drains for p in d["progress"]]
        m = {
            f"streaming.{k}": median([p["durationMs"].get(v, 0) / 1e3 for p in prog])
            for k, v in STREAM_PHASES.items()
        }
        m["streaming.triggers"] = float(len(prog))
        per_drain = [spans.group_counters(self.spark, d["run_id"]) for d in self.drains]
        m["streaming.jobs_per_trigger"] = sum(c["jobs"] for c in per_drain) / max(1, len(prog))
        for k in PLAN_COUNTERS:
            m[f"plans.{k}"] = median([c[k] for c in per_drain])
        m["sources.scan_mb"] = median([c["input_mb"] for c in per_drain])
        timed = {d["drain"] for d in self.drains}
        m["sources.upsert_s"] = median([s for k, s in self.upserts if k in timed])
        m["sources.state_versions"] = median(
            [sum(1 for k, _ in self.upserts if k == d) for d in timed]
        )
        m["sources.state_mb"] = median([_dir_mb(d["state"]) for d in self.drains])
        return m


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


# --------------------------------------------------------------------
# traced run: direct calls into single layers, outside the timed loop


def refinement_join(spark, data_dir: str):
    """The G5-G7 kernel's input, formed as the ``delivery_refinement``
    query forms it: purchases as deliveries, left-joined to the same
    user's pings with accuracy <= 100 m in [-120 s, +300 s], on the
    package's geo derivation with the ping clock divided by 1500 (the
    query's fixture clock compression, ``plans.kernels._PING_CLOCK_DIV``)."""
    from pyspark.sql.functions import col

    from pulsar_spark_spark.functions.time import ts_millis
    from pulsar_spark_spark.plans.geo import geo_events

    pts = geo_events(spark, data_dir).select(
        "user_id", "event_id", "event_type",
        ts_millis("ts", clock_div=1500).alias("ts_ms"), "lat", "lng", "accuracy",
    )
    deliveries = pts.filter(col("event_type") == "purchase").select(
        col("event_id").alias("delivery_id"), "user_id",
        col("ts_ms").alias("del_ts_ms"), col("lat").alias("del_lat"),
        col("lng").alias("del_lng"), col("accuracy").alias("del_accuracy"),
    )
    pings = pts.select(
        col("user_id").alias("p_user_id"), col("event_id").alias("p_event_id"),
        col("ts_ms").alias("p_ts_ms"), col("lat").alias("p_lat"),
        col("lng").alias("p_lng"), col("accuracy").alias("p_accuracy"),
    ).filter(col("p_accuracy") <= 100.0)
    return deliveries.join(
        pings,
        (col("user_id") == col("p_user_id"))
        & (col("p_ts_ms") >= col("del_ts_ms") - 120_000)
        & (col("p_ts_ms") <= col("del_ts_ms") + 300_000),
        "left",
    ).drop("p_user_id")


def probe_layers(spark, work: str, data_dir: str, seed: int, tracer) -> dict:
    """Time single layers directly on inputs staged here: Vincenty on a
    seeded array (functions), the G1 and G5-G7 operators on staged
    frames (operators), and the layout and index builds (sources)."""
    import numpy as np
    import pyarrow.parquet as pq

    from pulsar_spark_spark.functions.geo import vincenty_np
    from pulsar_spark_spark.operators.grouped import (
        apply_best_latlng,
        apply_delivery_refinement,
    )
    from pulsar_spark_spark.plans.geo import ensure_geotag_state_layout
    from pulsar_spark_spark.plans.kernels import ensure_refinement_layout
    from pulsar_spark_spark.plans.similarity import ensure_lsh_index

    m = {}
    rng = np.random.default_rng([seed, 4])
    n = 200_000
    lat1, lat2 = rng.uniform(8, 34, n), rng.uniform(8, 34, n)
    lng1, lng2 = rng.uniform(69, 96, n), rng.uniform(69, 96, n)
    times = []
    with tracer.span("functions.vincenty"):
        for _ in range(5):
            t0 = time.perf_counter()
            vincenty_np(lat1, lng1, lat2, lng2)
            times.append(time.perf_counter() - t0)
    m["functions.vincenty_pairs_per_s"] = n / median(times)

    pts_path = os.path.join(work, "probe_points.parquet")
    pq.write_table(stage_points(spark, data_dir), pts_path)
    ref_path = os.path.join(work, "probe_refinement")
    refinement_join(spark, data_dir).write.parquet(ref_path)

    def timed_collect(label, make) -> float:
        make().collect()  # untimed first call
        times = []
        for i in range(3):
            with tracer.span(label, op=i):
                t0 = time.perf_counter()
                make().collect()
                times.append(time.perf_counter() - t0)
        return median(times)

    m["operators.best_latlng_s"] = timed_collect(
        "operators.best_latlng",
        lambda: apply_best_latlng(spark.read.parquet(pts_path)),
    )
    m["operators.refinement_s"] = timed_collect(
        "operators.refinement",
        lambda: apply_delivery_refinement(spark.read.parquet(ref_path)),
    )
    with tracer.span("sources.layout_build"):
        t0 = time.perf_counter()
        ensure_refinement_layout(spark, data_dir)
        ensure_geotag_state_layout(spark, data_dir)
        ensure_lsh_index(spark, data_dir)
        m["sources.layout_build_s"] = time.perf_counter() - t0
    return m
