"""Streaming throughput vs STATE CARDINALITY: sf0.1 → 10× → 100×.

The batch slope table (scale_slope.json) answers "does the plan stay
linear in rows"; this tool answers the streaming twin the 100 TB story
needs: does micro-batch throughput HOLD as the keyed state grows?
Users (= state-store keys for the sessionizer, the geofence machine
and the dedup-upsert sink) scale 1 500 → 15 000 → 150 000 across the
three points, and rows 100 k → 1 M → 10 M, while the batch COUNT per
stream stays fixed by construction (the benches split arrivals into a
constant number of files) — so rows/s across scales isolates per-row
state cost from trigger overhead. A flat-or-rising rows/s line means
the state path is O(rows), not O(state); HDFSBackedStateStore rewrites
every key per batch, so a falling line here would be the first sign
the RocksDB provider is needed at cluster scale.

Reuses bench.py's stream benches verbatim (same pipelines the driver
times at sf0.1) — one fresh session per (scale, stream), results into
``stream_scale.json`` (rendered into SCALE.md by scale_slope.py
--render-only).

Usage:  python tools/stream_scale.py [ingest|session|geofence ...]
        python tools/stream_scale.py --rocksdb [session|geofence]
          (the RocksDB state-store arm at the 100× state point,
           side by side with the HDFS-store rows)
        python tools/stream_scale.py --budgeted [session|geofence]
          (fourth-decade cells: full 1000× state cardinality over a
           fixed 10M-row budget — see SF100_ROW_BUDGET)
        python tools/stream_scale.py --midpoint [--rocksdb] geofence
          (round 13, r12 VERDICT missing #2: the state-store
           crossover was BRACKETED — on-heap ahead at 150k keys,
           RocksDB ahead at 1.5M — across a full decade; this cell
           keeps a ~500k-user hash-subset of the 1000× corpus at the
           same 10M-row budget to locate it)
        python tools/stream_scale.py --bucketed [--budgeted] geofence
          (round 14, r13 VERDICT missing #1: the bucketed-state
           geofence arm — state keyed by hash(user_id) % B, B=4096
           passed as the bench's state_buckets — amortizing the
           ~1.2M-per-batch per-group Python dispatches that bind the
           fourth-decade cells)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the full fourth-decade cells run exact setup quantiles over 100M
# rows (bench's deterministic batch split points) — the default 8g
# driver heap OOMs there; same profile as the other scale tools
os.environ.setdefault("SPARK_DRIVER_MEM", "24g")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

SCALES = [
    ("sf0.1", "/root/testdata/sf0.1", 1),
    ("sf1", os.path.join(ROOT, ".scale", "sf1"), 10),
    ("sf10", os.path.join(ROOT, ".scale", "sf10"), 100),
    # 1000×: ingest only — at 10M rows the sessionizer (~100k rows/s)
    # and geofence machine (~46k rows/s) already fill most of the
    # benches' 600 s awaitTermination budget, so their 100M-row points
    # would time out by construction, not by state cost; the ingest
    # path (~670k rows/s at 100×) is the one with fourth-decade
    # headroom
    ("sf100", os.path.join(ROOT, ".scale", "sf100"), 1000),
]

STREAMS = ["ingest", "session", "geofence"]
SCALE_STREAMS = {"sf100": {"ingest"}}

# Round 12 (VERDICT missing #2): the sessionizer/geofence 1000× cells
# used to be skipped outright (their 100M-row captures would blow the
# 600 s stream budget by construction at ~50-100k rows/s). The
# --budgeted flag closes the axis honestly: sample the 1000× events
# table down to a FIXED row budget (uniform by event_id hash, so all
# ~1.5M users — i.e. the full fourth-decade STATE CARDINALITY — stay
# in) and report rows/s at 1.5M state keys over that bounded stream.
# The cell answers the state-cost question (does per-row cost hold at
# 10× more keys?); total-volume throughput is the ingest row's job.
SF100_ROW_BUDGET = 10_000_000
# the HDFS-store sessionizer fell below the 600 s budget's implied
# floor (~16.7k rows/s) at 1.5M keys — a smaller budget gets the cell
# an actual number instead of a timeout (state cardinality unchanged:
# 5M uniform rows still touch ~all 1.5M users)
SESSION_ROW_BUDGET = 5_000_000


def _budgeted_events_dir(
    spark, sf_dir: str, budget: int, user_mod: int = 1
) -> str:
    """Deterministic uniform sample of events down to ~``budget`` rows,
    written once under the fingerprint cache (same build-once contract
    as the ANN indexes) — returns a dir usable as a bench SF_DIR.

    ``user_mod > 1`` first keeps only users whose id-hash falls in one
    of ``user_mod`` buckets (state cardinality ÷ user_mod at unchanged
    per-user behavior), THEN row-samples the survivors to the budget —
    the crossover-midpoint knob: same row volume, fewer state keys."""
    import pyspark.sql.functions as F

    from pulsar_spark_spark.plans.kernels import _events_rows
    from pulsar_spark_spark.plans.similarity import _ensure_index
    from pulsar_spark_spark.sources.tables import load_table

    n = _events_rows(sf_dir) // user_mod
    frac_ppm = max(1, int(budget / n * 1_000_000))

    def build(tmp: str) -> None:
        ev = load_table(spark, "events", sf_dir)
        if user_mod > 1:
            ev = ev.filter(
                F.pmod(F.xxhash64(F.col("user_id"), F.lit(7)), user_mod) == 0
            )
        (
            ev.filter(
                F.pmod(F.xxhash64(F.col("event_id"), F.lit(42)), 1_000_000)
                < frac_ppm
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "events.parquet"))
        )
        # the geofence bench also derives its fences from the dim
        # tables — symlink everything that is not events so the budget
        # dir is a complete SF_DIR
        for entry in os.listdir(sf_dir):
            if entry.endswith(".parquet") and not entry.startswith("events"):
                os.symlink(
                    os.path.join(sf_dir, entry), os.path.join(tmp, entry)
                )

    # the budget and user_mod are part of the index NAME, not just the
    # fingerprint params: two budgets built in one run used to collide
    # on one directory (the second build replaced the first, so the
    # 5M-budget session cells actually consumed the 10M sample — the
    # recorded rows/s were honest, the row_budget label was not)
    return _ensure_index(
        f"stream_budget_events_b{budget}"
        + (f"_u{user_mod}" if user_mod > 1 else ""),
        sf_dir,
        {"ppm": frac_ppm, "user_mod": user_mod, "v": 1},
        build,
        source_table="events",
    )


def main(filters) -> None:
    import bench  # the driver-facing bench module, reused verbatim

    from pulsar_spark_spark.session import (
        _ROCKSDB_PROVIDER,
        _STATE_STORE_KEY,
        get_session,
    )
    from pulsar_spark_spark.streaming.stateful import (
        session_stream,
        session_stream_native,
    )

    rocksdb = "--rocksdb" in filters
    budgeted = "--budgeted" in filters
    midpoint = "--midpoint" in filters
    # round 13 (r12 VERDICT missing #3): --native routes the session
    # bench through the JVM-native streaming session_window arm — the
    # fourth-decade sessionizer cell timed out under BOTH stores
    # because of per-group Python dispatch, which this arm removes
    native = "--native" in filters
    sessionizer = session_stream_native if native else session_stream
    # round 14 (r13 VERDICT missing #1): --bucketed routes the
    # geofence bench through the bucketed-state arm — the
    # fourth-decade geofence cells are bound by ~1.2M per-group
    # Python dispatches per batch, which keying the state by
    # hash(user_id) % B amortizes to B
    bucketed_arm = "--bucketed" in filters
    state_buckets = 4096 if bucketed_arm else None
    filters = [f for f in filters if not f.startswith("--")]
    which = [s for s in STREAMS if not filters or any(f in s for f in filters)]
    fns = {
        "ingest": bench._stream_ingest_bench,
        "session": lambda spark: bench._session_stream_bench(spark, sessionizer),
        "geofence": lambda spark: bench._geofence_stream_bench(
            spark, state_buckets
        ),
    }
    out_path = os.path.join(ROOT, "stream_scale.json")
    rows = {}
    if os.path.exists(out_path):
        rows = json.load(open(out_path)).get("rows", {})
    def capture(name, label, sf_dir, factor, extra=None, store="hdfs"):
        # the RocksDB provider rides the session conf, which Spark
        # honors per started query (session.py's state-store note)
        bench.SF_DIR = sf_dir
        spark = get_session(
            app_name=f"stream_scale_{name}_{label}",
            master=f"local[{CPUS}]",
            extra_conf=(
                {_STATE_STORE_KEY: _ROCKSDB_PROVIDER}
                if store == "rocksdb"
                else None
            ),
        )
        try:
            t0 = time.time()
            r = fns[name](spark)
            r["capture_wall_sec"] = round(time.time() - t0, 1)
        finally:
            spark.stop()
        r["scale"] = label
        r["factor"] = factor
        r.update(extra or {})
        rows.setdefault(name, {})[label] = r
        with open(out_path, "w") as f:  # persist per capture — a
            # later stream's crash must not lose this row
            json.dump({"cpus": CPUS, "rows": rows}, f, indent=1, sort_keys=True)
        print(
            f"{name:<10} {label:<14} rows={r.get('rows', 0):>12,} "
            f"rows/s={r.get('rows_per_sec', 0):>8,} "
            f"batches={r.get('n_batches', '?')}",
            flush=True,
        )

    if midpoint:
        # r12 VERDICT missing #2: one cell between the bracket's ends
        # (150k keys: on-heap wins; 1.5M keys: RocksDB wins) — keep a
        # ~500k-user hash-subset (user_mod=3) of the 1000× corpus at
        # the same 10M-row budget, both stores unless --rocksdb pins
        # one. Locates the operational switch rule session.py implies.
        sf100 = os.path.join(ROOT, ".scale", "sf100")
        user_mod = 3
        spark = get_session(app_name="stream_midpoint_sample")
        try:
            mid_dir = _budgeted_events_dir(
                spark, sf100, SF100_ROW_BUDGET, user_mod=user_mod
            )
        finally:
            spark.stop()
        stores = ["rocksdb"] if rocksdb else ["hdfs", "rocksdb"]
        for store in stores:
            for name in which:
                if name == "ingest":
                    continue
                capture(
                    name,
                    f"sf100@midpoint+{store}",
                    mid_dir,
                    1000,
                    {
                        "row_budget": SF100_ROW_BUDGET,
                        "user_mod": user_mod,
                        "state_store": store,
                        "methodology": (
                            "user_id-hash subset (1 of "
                            f"{user_mod} buckets: ~500k of the 1.5M "
                            "users) of the 1000x events table, then "
                            "a uniform event_id-hash row sample to "
                            "the budget - the state-store crossover "
                            "midpoint cell"
                        ),
                    },
                    store,
                )
    elif rocksdb and not budgeted:
        # VERDICT round-11 missing #3: the RocksDB arm side by side
        # with the HDFS-store row at the 100× state point — one conf
        # flip, same pipelines
        for name in which:
            if name == "ingest":
                continue  # ingest is stateless — no store to A/B
            capture(
                name,
                "sf10+rocksdb",
                os.path.join(ROOT, ".scale", "sf10"),
                100,
                {"state_store": "rocksdb"},
                "rocksdb",
            )
    elif budgeted:
        # VERDICT round-11 missing #2: fourth-decade session/geofence
        # cells at the FULL 1000× state cardinality over a bounded
        # row budget (methodology note in the module docstring).
        # Combine with --rocksdb to capture the same cells under the
        # RocksDB provider — the crossover evidence: the on-heap
        # store wins at ≤150k keys and hits its wall at 1.5M.
        sf100 = os.path.join(ROOT, ".scale", "sf100")
        budgets = {"session": SESSION_ROW_BUDGET, "geofence": SF100_ROW_BUDGET}

        def suffix_for(name: str) -> str:
            # arm suffixes are PER STREAM: the sessionizer has the
            # native arm (and ignores the geofence bucket env), the
            # geofence machine has the bucketed arm — a shared suffix
            # would commit e.g. the python-arm session number under a
            # "+bucketed" cell label
            return (
                ("+rocksdb" if rocksdb else "")
                + ("+native" if native and name == "session" else "")
                + (
                    "+bucketed"
                    if bucketed_arm and name == "geofence"
                    else ""
                )
            )
        store = "rocksdb" if rocksdb else "hdfs"
        dirs = {}
        spark = get_session(app_name="stream_budget_sample")
        try:
            for b in sorted(set(budgets.values())):
                dirs[b] = _budgeted_events_dir(spark, sf100, b)
        finally:
            spark.stop()
        for name in which:
            if name == "ingest":
                continue
            b = budgets[name]
            capture(
                name,
                f"sf100@budget{suffix_for(name)}",
                dirs[b],
                1000,
                {
                    "row_budget": b,
                    "state_store": store,
                    "methodology": (
                        "uniform event_id-hash sample of the 1000x "
                        "events table: full ~1.5M-user state "
                        "cardinality, bounded row count"
                    ),
                },
                store,
            )
    else:
        for label, sf_dir, factor in SCALES:
            if not os.path.isdir(sf_dir):
                print(
                    f"{label}: {sf_dir} missing — generate with "
                    "tools/gen_scale.py",
                    file=sys.stderr,
                )
                continue
            for name in which:
                extra, store = None, "hdfs"
                if label in SCALE_STREAMS and name not in SCALE_STREAMS[label]:
                    # round 14 (r13 VERDICT stretch): the UNBUDGETED
                    # 100M-row fourth-decade sessionizer cell is only
                    # reachable under the native arm (374k rows/s on
                    # the 10M budget sample ⇒ ~4.5 min for the full
                    # corpus; the Python arm times out by construction)
                    if not (native and name == "session" and label == "sf100"):
                        continue
                    # ~95M live session-window state entries (sessions
                    # barely merge on this corpus — SCALE.md's
                    # user_sessions note) sit far past the on-heap
                    # store's SIZE wall (measured: executor heap OOM
                    # mid-stream at 24g), and at 1.5M keys/box past the
                    # located key crossover too — so the cell runs
                    # under RocksDB, the same arm select_state_store
                    # picks there
                    store = "rocksdb"
                    extra = {
                        "state_store": "rocksdb",
                        "methodology": (
                            "full 100M-row corpus, no row budget; "
                            "RocksDB provider (the on-heap store OOMs "
                            "on ~95M live session-window entries)"
                        ),
                    }
                cell = label + (
                    "+native"
                    if native and name == "session"
                    else (
                        "+bucketed"
                        if bucketed_arm and name == "geofence"
                        else ""
                    )
                )
                capture(name, cell, sf_dir, factor, extra, store)
    with open(out_path, "w") as f:
        json.dump({"cpus": CPUS, "rows": rows}, f, indent=1, sort_keys=True)
    print(f"-> {out_path}")


if __name__ == "__main__":
    main(sys.argv[1:])
